"""Physical-plan shape regression guards.

tools/explain_audit.py REPORTS these properties per round (PLANS.md);
these tests make the flagship ones a failing gate so a refactor cannot
silently reintroduce the slow shapes: a Python eval node in the
single-query scoring path (the r7 JVM-codegen win), a lost parquet
filter pushdown, or a second corpus scan in the set-at-a-time batch
plan.
"""

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    from hybrid_vector_search_spark.plans import registry as R

    return R


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_hybrid_single_query_plan_is_pure_jvm(spark, registry):
    """hybrid_topk_* scores with dot_score_column: no Python worker may
    appear anywhere in the plan (ArrowEvalPython = the old Arrow hop,
    BatchEvalPython = the never-allowed row-at-a-time path), and the
    top-K must be TakeOrderedAndProject, not a global sort."""
    for name in ("hybrid_topk_exact", "hybrid_topk_unfiltered"):
        plan = _plan(registry.QUERIES[name](spark, SF))
        assert "ArrowEvalPython" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "TakeOrderedAndProject" in plan, name


def test_ivf_search_plan_is_pure_jvm(spark, registry):
    """The IVF point-query plan over the PERSISTED layout (the scale
    path ann_ivf_persisted_topk runs) carries no Python eval node and
    partition-prunes to the probed lists; the pandas-UDF kernel stays
    available behind the flag. (The in-memory test index is exempt: its
    cached lineage PRINTS the one-off assignment UDF even though it
    never re-executes.)"""
    from hybrid_vector_search_spark.plans.registry_hybrid_ann import (
        ANN_IVF_QSEED,
        _ann_ivf_fixed_index,
    )
    from hybrid_vector_search_spark.queryvecs import query_vector

    index = _ann_ivf_fixed_index(spark, SF, persist=True)
    q = query_vector(ANN_IVF_QSEED)
    jvm_plan = _plan(index.search_plan(q, 10)[0])
    assert "ArrowEvalPython" not in jvm_plan
    assert "BatchEvalPython" not in jvm_plan
    assert "TakeOrderedAndProject" in jvm_plan
    assert "PartitionFilters" in jvm_plan and "list_id" in jvm_plan
    udf_plan = _plan(index.search_plan(q, 10, jvm_score=False)[0])
    assert "ArrowEvalPython" in udf_plan  # the flag still selects Arrow


def test_lsh_persisted_plan_prunes_and_is_pure_jvm(spark, registry):
    """The persisted LSH bucket layout: the multi-probe IN filter must be
    a PartitionFilter over the bucket directories, with no Python eval
    node in the probe plan (scoring is the JVM kernel; bucket assignment
    happened once at ingest)."""
    plan = _plan(registry.QUERIES["ann_lsh_persisted_topk"](spark, SF))
    assert "PartitionFilters" in plan and "bucket" in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ann_batch_plan_prunes_union_and_scans_once(spark, registry):
    """The batch-ANN plan reads ONE partition-pruned scan of the union
    of probed lists (bytes ∝ |∪ probes|, not corpus × queries) and
    scores with a single Arrow einsum pass (MapInPandas) — the
    multi-query regime where the one transfer amortizes across the
    query set."""
    plan = _plan(registry.QUERIES["ann_ivf_batch_topk"](spark, SF))
    assert "PartitionFilters" in plan and "list_id" in plan
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
    assert len(scans) == 1, scans
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_rrf_fusion_plan_is_pure_jvm(spark, registry):
    """Hybrid lexical+vector fusion: BM25 term stats, both top-K legs,
    and the rank join are all JVM-side — no Python eval node anywhere
    (the dense leg uses the codegen kernel; the lexical leg is
    explode + aggregates)."""
    plan = _plan(registry.QUERIES["retrieval_rrf_fusion"](spark, SF))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "TakeOrderedAndProject" in plan


def test_tpch_q1_filter_reaches_parquet_scan(spark, registry):
    """The shipdate predicate must be pushed into the lineitem scan
    (PushedFilters), not evaluated post-scan only — the property that
    turns a 100 TB scan into a row-group-pruned one."""
    plan = _plan(registry.QUERIES["tpch_q1_pricing_summary"](spark, SF))
    pushed = [
        ln for ln in plan.splitlines() if "PushedFilters" in ln
    ]
    assert pushed, "no PushedFilters section in the scan"
    assert any("l_shipdate" in ln and "[]" not in ln.split("PushedFilters:")[1][:4]
               for ln in pushed), pushed


def test_batch_canonical_scans_corpus_once(spark, registry):
    """The set-at-a-time batch plan reads the embeddings parquet exactly
    once: the 10 queries share one scan via the match-array fanout —
    query count must multiply output rows, never scans. Caches are
    dropped first so the assertion sees the raw file-scan plan, not an
    InMemoryTableScan lineage left behind by earlier tests (the printed
    cached plan repeats its build lineage)."""
    registry.invalidate_caches()
    spark.catalog.clearCache()
    plan = _plan(registry.QUERIES["hybrid_batch_canonical"](spark, SF))
    scans = [
        ln
        for ln in plan.splitlines()
        if "Scan parquet" in ln and "embeddings" in ln
    ]
    assert len(scans) == 1, scans


def test_rrf_batch_plan_scans_do_not_scale_with_queries(spark, registry):
    """The batch RRF plan: scans are query-count-independent (the N=3
    profile batch reads no more sources than the single-query plan —
    query count multiplies broadcast-map rows and window rows, never
    scans), the dense legs are ONE Arrow GEMM pass, and no row-at-a-time
    Python appears anywhere."""
    registry.invalidate_caches()
    spark.catalog.clearCache()
    batch = _plan(registry.QUERIES["retrieval_rrf_fusion_batch"](spark, SF))
    registry.invalidate_caches()
    spark.catalog.clearCache()
    single = _plan(registry.QUERIES["retrieval_rrf_fusion"](spark, SF))

    def scans(plan):
        return sum(1 for ln in plan.splitlines() if "Scan parquet" in ln)

    assert scans(batch) <= scans(single) + 1  # + the one GEMM leg's scan
    assert batch.count("MapInPandas") == 1  # ONE multi-query GEMM pass
    assert "BatchEvalPython" not in batch


def test_ann_batch_filtered_prunes_and_bounds_join(spark, registry):
    """Filtered batch ANN: the scan is partition-pruned to the union of
    probed lists, metadata joins the PRUNED candidates (no full-corpus
    embedding-side join), one Arrow GEMM pass, no row-at-a-time
    Python."""
    plan = _plan(registry.QUERIES["ann_ivf_batch_filtered_topk"](spark, SF))
    assert "PartitionFilters" in plan and "list_id" in plan
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    # two sources only: the pruned index layout and documents metadata
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
    assert len(scans) <= 2, scans


def test_bm25_persisted_plan_prunes_term_buckets(spark, registry):
    """The persisted BM25 layout: the postings scan must partition-prune
    to the query terms' hash buckets (PartitionFilters on bucket), with
    the tiny df stats broadcast and no Python eval node anywhere."""
    plan = _plan(registry.QUERIES["retrieval_bm25_persisted_topk"](spark, SF))
    assert "PartitionFilters" in plan and "bucket" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_rrf_persisted_plan_touches_no_corpus_scan(spark, registry):
    """The fully-amortized fusion: both legs read ingest artifacts —
    postings buckets + IVF lists, each partition-pruned — and the plan
    contains NO scan of the raw embeddings/documents parquet and no
    Python eval node."""
    plan = _plan(registry.QUERIES["retrieval_rrf_fusion_persisted"](spark, SF))
    assert "PartitionFilters" in plan
    assert "bucket" in plan and "list_id" in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    # every parquet scan is one of the two layouts, never the raw tables
    for ln in plan.splitlines():
        if "Location" in ln and ("embeddings.parquet" in ln or "documents.parquet" in ln):
            raise AssertionError(f"raw-table scan leaked into the plan: {ln}")
