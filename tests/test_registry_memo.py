"""Prepared-plan memo + resident-corpus cache semantics (r5).

The memo caches the LAZY DataFrame per (query, sf_dir, session) — every
action must still re-execute the physical plan — and side-effecting
queries (streaming drains) must stay exempt so each call re-runs its
work.
"""

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry(spark):
    from hybrid_vector_search_spark.plans import registry as R

    return R


def test_pure_query_memoized_per_sfdir(spark, registry):
    a = registry.QUERIES["hybrid_topk_exact"](spark, SF)
    b = registry.QUERIES["hybrid_topk_exact"](spark, SF)
    assert a is b  # same lazy plan object within (session, sf_dir)
    c = registry.QUERIES["hybrid_topk_exact"](spark, "/root/testdata/sf0.01")
    assert c is not a  # keyed by sf_dir


def test_memoized_plan_reexecutes_and_is_stable(spark, registry):
    df = registry.QUERIES["hybrid_topk_exact"](spark, SF)
    r1 = [tuple(r) for r in df.collect()]
    r2 = [tuple(r) for r in df.collect()]
    assert r1 == r2 and len(r1) > 0


def test_side_effect_queries_exempt_from_memo(registry):
    # exempt = drains that re-run work per call, plus builders whose real
    # work happens driver-side in the builder (memoizing them would make
    # bench time a driver-local collect)
    exempt_extra = {
        "corpus_meta_sidecar",
        "strategy_dispatch_params",
        "harness_stats_exact",
        "post_filter_costed",
        "post_filter_costed_backends",
        "post_filter_costed_stats",
        "corpus_column_stats",
        "metrics_recall_by_method",
        "metrics_ivf_nprobe_sweep",
        "metrics_lsh_radius_sweep",
        "metrics_hamming_c_sweep",
        "metrics_matryoshka_dim_sweep",
        "ann_ivf_upsert_topk",
        "ann_ivf_upsert_snapshot",
        "corpus_snapshot_pruned_scan",
        "corpus_snapshot_bloom_scan",
        "corpus_snapshot_stats_planner",
        "corpus_snapshot_row_deletes",
        "corpus_snapshot_changelog",
        "corpus_snapshot_cdc_apply",
        "corpus_snapshot_zorder_scan",
        "corpus_snapshot_upsert_rows",
        "corpus_snapshot_optimize_zorder",
        "corpus_snapshot_tag_read",
        "events_rollup_snapshot",
        "corpus_snapshot_schema_evolution",
        "strategy_costed_choice",
        "harness_auto_costed_batch",
        "ann_mmr_rerank_topk",
        "events_incremental_rollup",
        "corpus_snapshot_reads",
        "corpus_snapshot_diff",
        # r12: builders that commit manifest layouts / measure the
        # sidecar LRU driver-side — memoizing them would freeze the
        # measured pruning counts into one plan
        "corpus_snapshot_group_pruned_scan",
        "corpus_snapshot_manifest_compaction",
        "corpus_snapshot_wap_publish",
        # r12 late: commits the scripted asof history + resolves the
        # wall clock driver-side per call
        "corpus_snapshot_asof_read",
        # r12 late: commits the two-spec layout + measures pruned file
        # counts driver-side per call
        "corpus_snapshot_partition_evolution",
        # r12 late: reads the scripted history's descriptors driver-side
        "corpus_snapshot_history",
        # r12 late: commits the scripted rollback history per session
        "corpus_snapshot_restore",
        # r13: builds + purges + vacuums the scratch table and runs the
        # forensic raw-file scan driver-side (internally session-cached)
        "corpus_snapshot_purge_user",
        # r13: serving-tier fast paths — the work (GEMM + pandas filter)
        # happens at build time and returns a literal, so the memo would
        # freeze it into a cached 10-row createDataFrame
        "hybrid_topk_local_exact",
        "hybrid_topk_local_prefilter",
        "ann_ivf_local_serve_topk",
        "ann_ivf_local_serve_batch",
        # r14: sharded-tier fast paths (same literal-result rule)
        "hybrid_topk_sharded_exact",
        "hybrid_topk_sharded_prefilter",
        # r14: builds five derived roots, registers them, purges +
        # vacuums + forensically scans each — all driver-side work
        # (internally session-cached)
        "corpus_purge_cascade",
        # r14: commits the two-version drift history + scalar counts
        # driver-side per call (internally session-cached)
        "corpus_snapshot_drift_psi",
        # r14: builds + purges the graph artifact driver-side
        # (internally session-cached)
        "ann_hnsw_purge_rebuild",
        # r14: K driver-side argmax rounds (internally session-cached)
        "text_bpe_merges",
        # r14: collects the K learned merges driver-side before encoding
        "text_bpe_encode",
        # r14: commits the sketch store + scalar totals driver-side
        # (internally session-cached)
        "events_value_drift_sketches",
        # r15: serving work (tier builds + in-process GEMMs) happens at
        # build time and returns literal rows (session-cached tiers)
        "strategy_costed_serve",
        # r15: ANN dispatch — local Arrow probe / distributed plan both
        # executed at build time, literal rows returned
        "ann_costed_serve",
        # r15: staleness measurement + maintenance commits driver-side
        # (internally session-cached)
        "ann_ivf_recluster_on_drift",
        # r15: collects the merge table driver-side before the Arrow
        # encode pass (internally session-cached)
        "docs_compression_filter",
        # r15: collects the merge table + per-K aggregates driver-side
        # (internally session-cached)
        "text_bpe_encode_vocab",
        # r15: builds four roots, cascades a purge, audits the
        # namespace — all driver-side (internally session-cached)
        "corpus_purge_registry_audit",
    }
    for name, fn in registry.QUERIES.items():
        if name.startswith("streaming_") or name in exempt_extra:
            assert not hasattr(fn, "__wrapped__"), name
        else:
            assert hasattr(fn, "__wrapped__"), name


def test_load_corpus_session_cache(spark, registry):
    a = registry.load_corpus(spark, SF)
    b = registry.load_corpus(spark, SF)
    assert a is b
    assert a.storageLevel.useMemory  # resident, reference-parity
    c = registry.load_corpus(spark, SF, with_documents=False)
    assert c is not a  # keyed by column set too


def test_sink_sorted_total_order_without_shuffle(spark, registry):
    from hybrid_vector_search_spark.plans.registry_relational import (
        _sink_sorted,
    )

    spark.range(100).selectExpr("id", "id % 7 AS k").createOrReplaceTempView(
        "__t_small"
    )
    small = _sink_sorted(spark, "__t_small", "k", "id").collect()
    assert [r["id"] for r in small] == sorted(
        range(100), key=lambda i: (i % 7, i)
    )
    # the single-task local sort must NOT plan a range-partitioning
    # shuffle (that was the r5 gate's orderBy path, retired in r6: a
    # memory sink is driver-resident, so the sampling job + exchange
    # bought nothing) — assert the plan repartitions to 1 and sorts
    # locally rather than globally
    df = _sink_sorted(spark, "__t_small", "k", "id")
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "Repartition 1" in plan
    assert "global=true" not in plan
