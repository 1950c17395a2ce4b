"""Harness contract tests (reference spec: tests/test_run_impl.py —
fixed JSONL field order, recall/selectivity values, run_id stability,
hard-error-aborts-run with no partial output)."""

import json

import pytest

from hybrid_vector_search_spark.errors import FilterSpecError
from hybrid_vector_search_spark.plans.canonical import CanonicalQuery
from hybrid_vector_search_spark.plans.harness import (
    STATS_FIELDS,
    run_queries,
    summarize,
)
from hybrid_vector_search_spark.plans.metrics import recall_at_k, selectivity

TINY_QUERIES = (
    CanonicalQuery(1, 201, {"state": {"eq": "FL"}}, 2, "medium"),
    CanonicalQuery(2, 202, {}, 3, "broad"),
)


@pytest.fixture(scope="module")
def tiny_rows(tiny_corpus, tmp_path_factory):
    out = tmp_path_factory.mktemp("results") / "results.jsonl"
    rows = run_queries(
        tiny_corpus, "exact", TINY_QUERIES, n=5, out_path=str(out)
    )
    return rows, out


def test_fixed_field_order(tiny_rows):
    rows, out = tiny_rows
    for r in rows:
        assert tuple(r.keys()) == STATS_FIELDS
    on_disk = [json.loads(line) for line in out.read_text().splitlines()]
    assert [tuple(r.keys()) for r in on_disk] == [STATS_FIELDS] * len(rows)


def test_exact_recall_is_one(tiny_rows):
    rows, _ = tiny_rows
    assert all(r["recall_at_k"] == 1.0 for r in rows)


def test_selectivity_value(tiny_rows):
    rows, _ = tiny_rows
    assert rows[0]["filter_selectivity"] == pytest.approx(3 / 5)  # FL → {0,1,4}
    assert rows[1]["filter_selectivity"] == 1.0


def test_scored_vectors_is_allowed_count(tiny_rows):
    rows, _ = tiny_rows
    assert rows[0]["scored_vectors"] == 3
    assert rows[1]["scored_vectors"] == 5


def test_run_id_stable_within_run(tiny_rows):
    rows, _ = tiny_rows
    assert len({r["run_id"] for r in rows}) == 1
    assert rows[0]["run_id"].startswith("testdata_exact_")


def test_timestamp_iso8601_with_tz(tiny_rows):
    rows, _ = tiny_rows
    assert all("T" in r["timestamp_utc"] and "+00:00" in r["timestamp_utc"] for r in rows)


def test_bad_filter_aborts_run_no_partial_output(tiny_corpus, tmp_path):
    out = tmp_path / "results.jsonl"
    bad = (
        CanonicalQuery(1, 201, {}, 2, "broad"),
        CanonicalQuery(2, 202, {"bogus": {"eq": 1}}, 2, "broad"),
    )
    with pytest.raises(FilterSpecError):
        run_queries(tiny_corpus, "exact", bad, n=5, out_path=str(out))
    assert not out.exists()  # nothing logged before the abort


def test_recall_metric_quirk_q6():
    # denominator is K even when oracle has fewer rows
    assert recall_at_k([1, 2], [1, 2], 10) == pytest.approx(0.2)
    assert recall_at_k([], [], 10) == 0.0
    assert recall_at_k([1, 2, 3], [3, 2, 1], 3) == 1.0


def test_selectivity_metric():
    assert selectivity(3, 5) == pytest.approx(0.6)
    assert selectivity(0, 0) == 0.0


def test_summarize(tiny_rows):
    rows, _ = tiny_rows
    s = summarize(rows)
    assert s["exact"]["n"] == 2
    assert s["exact"]["mean_recall_at_k"] == 1.0


def test_load_results_skips_bad_lines(spark, tmp_path):
    """Reference S8: unparseable JSONL lines are dropped, good ones kept
    (plots/latency_recall.py:9-19 semantics)."""
    from hybrid_vector_search_spark.plans.harness import load_results

    p = tmp_path / "results.jsonl"
    p.write_text(
        '{"qid": 1, "method": "exact", "latency_ms": 5.0}\n'
        "this is not json\n"
        '{"qid": 2, "method": "exact", "latency_ms": 7.0}\n'
        '{"qid": 3, "method": bad}\n'
    )
    df = load_results(spark, str(p))
    rows = df.orderBy("qid").collect()
    assert [r["qid"] for r in rows] == [1, 2]
    assert "_corrupt" not in df.columns


def test_auto_backend_routes_per_query(spark):
    """backend="auto": the harness picks pre_filter for strict filters
    and post_filter for broad ones from the shared stats pass, executes
    the chosen strategy (method field), and emits the decision + the
    estimate in notes."""
    from hybrid_vector_search_spark.functions.colstats import (
        collect_column_stats,
    )
    from hybrid_vector_search_spark.operators.ivf import (
        DEFAULT_NPROBE,
        default_nlist,
    )
    from hybrid_vector_search_spark.operators.strategies import (
        choose_backend_costed,
    )
    from hybrid_vector_search_spark.plans.canonical import CANONICAL_QUERIES
    from hybrid_vector_search_spark.plans.harness import run_queries
    from hybrid_vector_search_spark.sources.loaders import load_corpus

    corpus = load_corpus(spark, "/root/testdata/sf0.001")
    rows = run_queries(corpus, "auto", concurrency=4)
    assert len(rows) == len(CANONICAL_QUERIES)

    n = corpus.count()
    stat_cols = sorted(
        {c for cq in CANONICAL_QUERIES for c in (cq.filters or {})}
    )
    stats = collect_column_stats(corpus, stat_cols, exact_ndv=True)
    nlist = default_nlist(n)
    nprobe = min(DEFAULT_NPROBE, nlist)
    by_qid = {r["qid"]: r for r in rows}
    methods = set()
    for cq in CANONICAL_QUERIES:
        want, est = choose_backend_costed(stats, cq.filters, nprobe, nlist)
        r = by_qid[cq.qid]
        assert r["method"] == want, (cq.qid, r["method"], want)
        assert r["notes"].startswith(f"auto:{want} est={est}")
        methods.add(r["method"])
    assert methods == {"pre_filter", "post_filter"}  # a real mixed batch


def test_resident_batch_counts_allowed_from_the_tier(spark, tiny_corpus):
    """On a resident corpus ``filter_selectivity`` comes from the serve
    tier, as the exact searches do: a warm batch submits only the
    dimension probe, no count job per query, and reports the
    selectivities of the same batch over an uncached handle."""
    from conftest import jobs_of

    resident = tiny_corpus.filter("id >= 0").cache()
    try:
        run_queries(resident, "exact", TINY_QUERIES, n=5)  # builds the tier
        rows, jobs = jobs_of(
            spark, lambda: run_queries(resident, "exact", TINY_QUERIES, n=5)
        )
    finally:
        resident.unpersist(blocking=True)
    plain, plain_jobs = jobs_of(
        spark, lambda: run_queries(tiny_corpus, "exact", TINY_QUERIES, n=5)
    )
    assert jobs == 1 and plain_jobs > len(TINY_QUERIES) + 1
    assert [r["filter_selectivity"] for r in rows] == [
        r["filter_selectivity"] for r in plain
    ] == [pytest.approx(3 / 5), 1.0]
