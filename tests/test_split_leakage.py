"""Split-leakage audit + cluster-aware remedy: the per-document split
leaks near-dup pairs across splits (id-uniform hashing must), the
cluster-aware split leaks ZERO by construction, and cluster members
always share a split."""

from pyspark.sql import functions as F

import hybrid_vector_search_spark.operators.dedup as DD
import hybrid_vector_search_spark.plans.registry_corpus as C
from hybrid_vector_search_spark.sources.loaders import load_table

SF = "/root/testdata/sf0.001"


def test_cluster_aware_split_has_zero_leakage(spark):
    leaked = C.docs_split_leakage(spark, SF)
    assert leaked.count() > 0  # the audit finds real contamination
    assert {r["split_a"] for r in leaked.collect()} != set()

    ca = C.docs_cluster_aware_split(spark, SF)
    docs = load_table(spark, SF, "documents")
    pairs = DD.minhash_lsh_pairs(
        docs, C.JACCARD_THRESHOLD, sig=C._sig_table(spark, SF)
    )
    crossing = (
        pairs.join(
            ca.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")),
            "doc_a",
        )
        .join(
            ca.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")),
            "doc_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert crossing == 0  # leakage-proof by construction

    # all members of one component share one split
    per_comp = (
        ca.groupBy("component_id")
        .agg(F.countDistinct("split").alias("nsplits"))
        .agg(F.max("nsplits"))
        .collect()[0][0]
    )
    assert per_comp == 1

    # singletons keep the per-document assignment (component = own id)
    base = {r["doc_id"]: r["split"] for r in C.docs_train_split(spark, SF).collect()}
    for r in ca.filter(F.col("doc_id") == F.col("component_id")).collect():
        assert base[r["doc_id"]] == r["split"]
