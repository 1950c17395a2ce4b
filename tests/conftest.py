import numpy as np
import pytest
from pyspark.sql import types as T

from hybrid_vector_search_spark.session import get_spark


def submitted_jobs(spark) -> int:
    """Jobs submitted so far (the DAG scheduler's counter; unlike the
    status store's job list it is never trimmed), once the listener bus
    has caught up."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(10_000)
    return int(sc.dagScheduler().numTotalJobs())


def jobs_of(spark, fn):
    """``(fn(), the number of Spark jobs it submitted)``."""
    before = submitted_jobs(spark)
    out = fn()
    return out, submitted_jobs(spark) - before


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


TINY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("state", T.StringType(), False),
        T.StructField("city", T.StringType(), True),
        T.StructField("stars", T.FloatType(), False),
        T.StructField("review_count", T.IntegerType(), False),
        T.StructField("price", T.IntegerType(), True),
        T.StructField("categories", T.StringType(), True),
        T.StructField("latitude", T.FloatType(), True),
        T.StructField("longitude", T.FloatType(), True),
        T.StructField("is_open", T.BooleanType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType(), False), False),
    ]
)


@pytest.fixture(scope="session")
def tiny_corpus(spark):
    """5-row/4-d corpus mirroring the reference's tiny_artifacts fixture
    (tests/test_run_impl.py:75-122): states FL/FL/TN/PA/FL so that
    ``state eq FL`` → ids {0, 1, 4}; unit basis vectors + one mixed row."""
    s2 = float(1 / np.sqrt(2))
    rows = [
        (0, "FL", "Miami", 4.5, 10, 1, "Coffee|Cafes", 25.0, -80.0, True, [1.0, 0.0, 0.0, 0.0]),
        (1, "FL", "Tampa", 3.0, 200, 2, "Bars|Nightlife", 28.0, -82.5, False, [0.0, 1.0, 0.0, 0.0]),
        (2, "TN", None, 2.5, 35, None, "Coffee", 36.1, -86.8, True, [0.0, 0.0, 1.0, 0.0]),
        (3, "PA", "Philly", 5.0, 1000, 4, None, None, None, None, [0.0, 0.0, 0.0, 1.0]),
        (4, "FL", "Orlando", 1.5, 3, 1, "Pizza|Italian", 28.5, -81.4, True, [s2, s2, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, TINY_SCHEMA)
