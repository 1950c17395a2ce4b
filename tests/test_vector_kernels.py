"""The two scoring kernels must agree: ``dot_score_column`` (JVM
zip_with/aggregate codegen — the single-query latency path) and
``dot_score_pandas_udf`` (Arrow-batched BLAS — the multi-query
throughput path) compute the same float64 inner product.

They sum in different orders (sequential fold vs numpy pairwise), so
agreement is asserted to 1e-9 relative — far tighter than the 1e-6
rounding every registry oracle applies, and loose enough to never trip
on reduction-order noise. A seeded random corpus including adversarial
rows (zeros, tiny/huge magnitudes mixed) guards the equivalence that
lets plans swap kernels by regime without changing answers.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from hybrid_vector_search_spark.functions.vector import (
    dot_score_column,
    dot_score_pandas_udf,
)


@pytest.fixture(scope="module")
def kernel_corpus(spark):
    rng = np.random.RandomState(73)
    vecs = rng.randn(300, 64).astype(np.float32)
    vecs[0] = 0.0  # zero row
    vecs[1] *= 1e-6  # denormal-ish magnitudes
    vecs[2] *= 1e6  # large magnitudes
    vecs[3, ::2] = 0.0  # sparse pattern
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, embedding array<float>",
    )
    return df, vecs


def test_jvm_and_arrow_kernels_agree(spark, kernel_corpus):
    df, vecs = kernel_corpus
    rng = np.random.RandomState(74)
    for _ in range(3):
        q = rng.randn(64)
        q /= np.linalg.norm(q)
        qlist = [float(x) for x in q]
        jvm = {
            r["id"]: r["score"]
            for r in df.select(
                "id", dot_score_column(qlist).alias("score")
            ).collect()
        }
        arrow = {
            r["id"]: r["score"]
            for r in df.select(
                "id",
                dot_score_pandas_udf(qlist)(F.col("embedding")).alias(
                    "score"
                ),
            ).collect()
        }
        ref = vecs.astype(np.float64) @ q
        assert set(jvm) == set(arrow) == set(range(len(vecs)))
        for i in range(len(vecs)):
            assert math.isclose(jvm[i], arrow[i], rel_tol=1e-9, abs_tol=1e-12)
            assert math.isclose(jvm[i], ref[i], rel_tol=1e-9, abs_tol=1e-12)


def test_jvm_kernel_null_and_empty(spark):
    """Degenerate inputs must not crash the codegen expression: an empty
    array scores 0.0 against an empty query; a NULL embedding yields a
    NULL score (same as the SQL semantics oracles replay)."""
    df = spark.createDataFrame(
        [(0, []), (1, None)], "id long, embedding array<float>"
    )
    rows = {
        r["id"]: r["score"]
        for r in df.select(
            "id", dot_score_column([]).alias("score")
        ).collect()
    }
    assert rows[0] == 0.0
    assert rows[1] is None


def test_sign_pack_column_matches_driver_twin(spark):
    """The packed BIGINT must agree between the Column expression, the
    driver-side twin, and manual bit math — including zeros (bit off)
    and negatives."""
    import numpy as np

    from hybrid_vector_search_spark.functions.vector import (
        SIGN_PACK_BITS,
        sign_pack_column,
        sign_pack_value,
    )

    rng = np.random.default_rng(7)
    vecs = [
        [float(x) for x in rng.standard_normal(64)] for _ in range(20)
    ] + [[0.0] * 64, [1.0] * 64, [-1.0] * 64]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "id long, embedding array<float>",
    )
    got = {
        r["id"]: r["pk"]
        for r in df.select(
            "id", sign_pack_column("embedding").alias("pk")
        ).collect()
    }
    for i, v in enumerate(vecs):
        want = sign_pack_value(v)
        manual = sum(
            (1 << b) for b in range(SIGN_PACK_BITS) if v[b] > 0
        )
        assert got[i] == want == manual, i
    # 63 bits only: bit 63 never set, packed value always >= 0
    assert all(pk >= 0 for pk in got.values())


def _array_of_lits(vals):
    """The former ``double_array_lit`` form: one literal per element."""
    return F.expr("array(" + ", ".join(repr(float(v)) + "D" for v in vals) + ")")


def _bits(x):
    import struct

    return None if x is None else struct.pack(">d", x)


def test_double_array_lit_is_one_node_and_bit_identical(spark):
    """``double_array_lit`` is one CAST(split(...)) node whose values,
    and the ``dot_score_column`` scores built on it, are bit-identical
    to the one-literal-per-element form — on random unit vectors and on
    the signed zero, the smallest subnormal, a tiny normal and the
    largest finite double."""
    from hybrid_vector_search_spark.functions.vector import double_array_lit

    rng = np.random.RandomState(75)
    vecs = rng.randn(40, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, embedding array<float>",
    )
    special = [-0.0, 5e-324, 1e-300, 1.7976931348623157e308,
               -5e-324, 0.5, -1.0, 1e-300]
    queries = [special]
    for _ in range(3):
        q = rng.randn(8)
        queries.append([float(x) for x in q / np.linalg.norm(q)])
    for q in queries:
        lit = double_array_lit(q)
        assert "split" in str(lit).lower() and "array(" not in str(lit)
        new_arr, old_arr = spark.range(1).select(
            lit.alias("a"), _array_of_lits(q).alias("b")
        ).first()
        assert [_bits(v) for v in new_arr] == [_bits(v) for v in old_arr]
        old_score = F.aggregate(
            F.zip_with(F.col("embedding"), _array_of_lits(q),
                       lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        rows = df.select(
            "id",
            dot_score_column(q).alias("new"),
            old_score.alias("old"),
        ).collect()
        assert all(_bits(r["new"]) == _bits(r["old"]) for r in rows), q


def test_double_array_lit_non_finite_falls_back(spark):
    """NaN and ±inf have no repr the string cast reads back the same
    way: they keep the Column-API literal."""
    from hybrid_vector_search_spark.functions.vector import double_array_lit

    got = spark.range(1).select(
        double_array_lit([1.0, float("inf"), float("-inf"), float("nan")])
        .alias("a")
    ).first()["a"]
    assert got[:3] == [1.0, float("inf"), float("-inf")]
    assert math.isnan(got[3])
