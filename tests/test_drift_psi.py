"""corpus_snapshot_drift_psi refuses NULL labels: countDistinct would
drop the NULL bin from k and skew every PSI term without a trace."""

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from hybrid_vector_search_spark.errors import ValidationError
from hybrid_vector_search_spark.plans.registry import QUERIES
from hybrid_vector_search_spark.sources.loaders import DEFAULT_SF_DIR

#: the smallest test-data scale, a sibling of the default one
SF = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")


def test_drift_psi_rejects_null_label(spark, tmp_path):
    emb = pq.read_table(f"{SF}/embeddings.parquet")
    first = pc.equal(pa.array(range(emb.num_rows)), 0)
    labels = pc.if_else(first, pa.scalar(None, pa.int32()), emb["label"])
    pq.write_table(
        emb.set_column(emb.schema.get_field_index("label"), "label", labels),
        tmp_path / "embeddings.parquet",
    )
    with pytest.raises(ValidationError, match="NULL label"):
        QUERIES["corpus_snapshot_drift_psi"](spark, str(tmp_path))
