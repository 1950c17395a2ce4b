"""IVF index: build, probe, partition pruning, post_filter strategy."""

import numpy as np
import pytest
from conftest import jobs_of
from pyspark.sql import functions as F

from hybrid_vector_search_spark.operators.ivf import (
    IVFIndex,
    PostFilterBackend,
    default_nlist,
)
from hybrid_vector_search_spark.operators.strategies import ExactBackend
from hybrid_vector_search_spark.queryvecs import query_vector
from hybrid_vector_search_spark.sources.loaders import load_corpus


def test_default_nlist_clamp():
    assert default_nlist(10) == 10          # never exceeds N
    assert default_nlist(10_000) == 100     # √N
    assert default_nlist(1_000) == 64       # lower clamp
    assert default_nlist(10**9) == 4096     # upper clamp


@pytest.fixture(scope="module")
def corpus(spark):
    return load_corpus(spark, "/root/testdata/sf0.001").cache()


def test_ivf_full_probe_equals_exact(spark, corpus):
    """nprobe == nlist probes every list → identical to the exact scan."""
    n = corpus.count()
    idx = IVFIndex.build(corpus, nlist=8, n=n)
    q = query_vector(5)
    plan, probed = idx.search_plan(q, k=10, nprobe=8)
    ann_ids = [r.id for r in plan.collect()]
    exact_ids, _ = ExactBackend(corpus, n).search(q, {}, 10)
    assert len(probed) == 8
    assert ann_ids == exact_ids


def test_ivf_partial_probe_recall(spark, corpus):
    """Probing half the lists keeps most of the exact top-10 (unit-norm
    synthetic corpus; deterministic seed)."""
    n = corpus.count()
    idx = IVFIndex.build(corpus, nlist=8, n=n)
    q = query_vector(5)
    plan, probed = idx.search_plan(q, k=10, nprobe=4)
    ann = {r.id for r in plan.collect()}
    exact_ids, _ = ExactBackend(corpus, n).search(q, {}, 10)
    assert len(probed) == 4
    assert len(ann & set(exact_ids)) >= 5


def test_ivf_persisted_partition_pruning(spark, corpus, tmp_path):
    """Persisted index partitions by list_id; a probe filter prunes the
    non-probed partitions out of the scan."""
    n = corpus.count()
    path = str(tmp_path / "ivf")
    idx = IVFIndex.build(corpus, nlist=8, n=n, persist_path=path)
    probed = idx.probe(query_vector(5), nprobe=2)
    pruned = idx.assigned.filter(F.col("list_id").isin(probed))
    plan_txt = pruned._jdf.queryExecution().executedPlan().toString()
    # partition-pruned scan: the partition count in the scan reflects only
    # the probed lists (compare row counts as a black-box proxy)
    total = idx.assigned.count()
    kept = pruned.count()
    assert kept < total
    per_list = dict(
        idx.assigned.groupBy("list_id").count().collect()
    ) if False else {
        r.list_id: r["count"]
        for r in idx.assigned.groupBy("list_id").count().collect()
    }
    assert kept == sum(per_list[p] for p in probed)
    assert "list_id" in plan_txt


def test_post_filter_ladder_and_stats(spark, corpus):
    n = corpus.count()
    backend = PostFilterBackend(corpus, n, nlist=8, nprobe=8)
    q = query_vector(7)
    ids, stats = backend.search(q, {"lang": {"eq": "en"}}, 5)
    assert stats["method"] == "post_filter"
    assert stats["scored_vectors"] in backend.k_ladder
    assert stats["lists_probed"] == 8 and stats["nprobe"] == 8
    assert len(ids) <= 5
    # every returned id satisfies the filter
    allowed = {
        r.id for r in corpus.filter(F.col("lang") == "en").select("id").collect()
    }
    assert set(ids) <= allowed
    # full probe + ladder rung ≥ |corpus| ⇒ recall 1 vs exact on same filter
    exact_ids, _ = ExactBackend(corpus, n).search(q, {"lang": {"eq": "en"}}, 5)
    assert ids == exact_ids


def test_post_filter_costed_ladder_ab(spark, corpus):
    """Costed vs fixed ladder A/B (SURVEY §4 opportunity, VERDICT r5 #3).

    Strict filter (ladder-exhaust regime): the costed entry jumps
    straight to the final rung — one plan instead of three — and the
    answers are bit-identical because the final rung is shared. Broad
    filter: the costed entry clamps to the first rung, so the fast path
    is byte-for-byte the fixed ladder's."""
    n = corpus.count()
    q = query_vector(7)
    shared = dict(n=n, nlist=8, nprobe=4, seed=42)
    fixed = PostFilterBackend(corpus, **shared)
    costed = PostFilterBackend(corpus, costed=True, **shared)
    # index is seeded KMeans; share it so both regimes probe identically
    costed._index = fixed.index

    strict = {"lang": {"eq": "zh"}, "label": {"in": [7]}}  # ~1.5% of corpus
    ids_f, st_f = fixed.search(q, strict, 10)
    ids_c, st_c = costed.search(q, strict, 10)
    assert st_f["rungs_run"] == 3 and st_f["ladder_entry"] == 200
    assert st_c["rungs_run"] == 1 and st_c["ladder_entry"] == 1000
    assert st_f["scored_vectors"] == st_c["scored_vectors"] == 1000
    assert ids_f == ids_c and st_f["scores"] == st_c["scores"]
    assert 0 < st_c["selectivity_est"] < 0.05

    broad = {"lang": {"in": ["en", "fr"]}}  # >50% of corpus
    ids_fb, st_fb = fixed.search(q, broad, 10)
    ids_cb, st_cb = costed.search(q, broad, 10)
    assert st_cb["ladder_entry"] == 200  # clamped to the first rung
    assert st_fb["rungs_run"] == st_cb["rungs_run"]
    assert ids_fb == ids_cb and st_fb["scores"] == st_cb["scores"]
    assert st_fb["scored_vectors"] == st_cb["scored_vectors"]


def test_post_filter_strict_filter_returns_short(spark, corpus):
    """Ladder exhausts on an ultra-strict filter: fewer than K survivors is
    allowed (reference behavior), never an error."""
    n = corpus.count()
    backend = PostFilterBackend(
        corpus, n, nlist=8, nprobe=1, k_ladder=(5, 10)
    )
    ids, stats = backend.search(
        query_vector(9), {"n_chars": {"le": 0}}, 5
    )
    assert ids == [] and stats["scored_vectors"] == 10


def test_ivf_fixed_quantizer_assignment_and_full_probe(spark, corpus):
    """build_fixed: list_id is the argmax centroid (NumPy cross-check on
    the collected corpus) and probing every list reduces to exact."""
    n = corpus.count()
    cents = np.vstack([query_vector(s) for s in (210, 211, 212, 213)])
    idx = IVFIndex.build_fixed(corpus.select("id", "embedding"), cents)
    q = query_vector(5)
    plan, probed = idx.search_plan(q, k=10, nprobe=4)
    ann_ids = [r.id for r in plan.collect()]
    exact_ids, _ = ExactBackend(corpus, n).search(q, {}, 10)
    assert len(probed) == 4
    assert ann_ids == exact_ids
    rows = idx.assigned.select("id", "embedding", "list_id").collect()
    for r in rows[:50]:
        want = int(np.argmax(cents @ np.asarray(r.embedding, dtype=np.float64)))
        assert r.list_id == want


def test_costed_selectivity_hint_replaces_scan(spark, corpus):
    """selectivity_hint is the catalog-stats/sketch substitution point the
    costed docstrings promise: with the exact |allowed| injected, the
    backend never runs the count job and the answers, entry rung, and
    rungs_run are identical to the counted path."""
    n = corpus.count()
    q = query_vector(7)
    strict = {"lang": {"eq": "zh"}, "label": {"in": [7]}}
    from hybrid_vector_search_spark.functions.predicates import (
        compile_filters,
    )

    true_allowed = corpus.filter(
        compile_filters(corpus.schema, strict)
    ).count()

    shared = dict(n=n, nlist=8, nprobe=4, seed=42)
    counted = PostFilterBackend(corpus, costed=True, **shared)
    hinted = PostFilterBackend(
        corpus, costed=True, selectivity_hint=true_allowed, **shared
    )
    hinted._index = counted.index  # share the seeded index
    ids_c, st_c = counted.search(q, strict, 10)
    ids_h, st_h = hinted.search(q, strict, 10)
    assert ids_h == ids_c and st_h["scores"] == st_c["scores"]
    assert st_h["ladder_entry"] == st_c["ladder_entry"]
    assert st_h["rungs_run"] == st_c["rungs_run"]
    assert st_h["selectivity_est"] == st_c["selectivity_est"]


def test_costed_entry_from_column_stats_zero_jobs(spark, corpus):
    """END-TO-END stats substitution (VERDICT r7 next #5): collect the
    one-pass column statistics at ingest, ESTIMATE |allowed| for the
    query's filters, and feed the estimate as selectivity_hint — the
    costed entry picks the SAME rung as the scan-fed entry on both the
    strict and broad cases, and the search runs ZERO count jobs
    (DataFrame.count is poisoned for the duration)."""
    from hybrid_vector_search_spark.functions.colstats import (
        collect_column_stats,
        estimate_allowed,
    )

    n = corpus.count()
    q = query_vector(7)
    # ingest-time: ONE aggregation pass over the filterable columns
    stats = collect_column_stats(
        corpus, ["label", "lang", "source", "n_chars"]
    )
    assert stats["__table__"]["count"] == n

    shared = dict(n=n, nlist=8, nprobe=4, seed=42)
    scan_fed = PostFilterBackend(corpus, costed=True, **shared)
    scan_fed.index  # build the shared seeded index eagerly

    for filters in (
        {"lang": {"eq": "zh"}, "label": {"in": [7]}},  # strict → last rung
        {"lang": {"in": ["en", "fr"]}},                # broad → first rung
    ):
        est = estimate_allowed(stats, filters)
        assert 1 <= est <= n
        hinted = PostFilterBackend(
            corpus, costed=True, selectivity_hint=est, **shared
        )
        hinted._index = scan_fed.index
        ids_s, st_s = scan_fed.search(q, filters, 10)

        # the concrete class: it overrides pyspark.sql.DataFrame.count
        DataFrame = type(corpus)
        real_count = DataFrame.count

        def poisoned(self):
            raise AssertionError(
                "stats-fed costed search must run zero count jobs"
            )

        DataFrame.count = poisoned
        try:
            ids_h, st_h = hinted.search(q, filters, 10)
        finally:
            DataFrame.count = real_count
        # same entry decision and identical answers from the estimate
        assert st_h["ladder_entry"] == st_s["ladder_entry"], filters
        assert st_h["rungs_run"] == st_s["rungs_run"], filters
        assert ids_h == ids_s and st_h["scores"] == st_s["scores"]


def test_estimate_allowed_rules():
    """The estimator's System-R rules on hand-built stats."""
    from hybrid_vector_search_spark.functions.colstats import (
        estimate_allowed,
    )

    stats = {
        "__table__": {"count": 1000},
        "lang": {"count": 1000, "nulls": 0, "ndv": 5, "min": None, "max": None},
        "n_chars": {"count": 1000, "nulls": 100, "ndv": 400, "min": 0, "max": 1000},
    }
    assert estimate_allowed(stats, None) == 1000
    assert estimate_allowed(stats, {"lang": {"eq": "en"}}) == 200
    assert estimate_allowed(stats, {"lang": {"in": ["en", "fr"]}}) == 400
    # range: [500, 1000] is half the span, × 0.9 not-null
    assert estimate_allowed(stats, {"n_chars": {"ge": 500}}) == 450
    # conjunction multiplies; clamped to >= 1
    est = estimate_allowed(
        stats, {"lang": {"eq": "en"}, "n_chars": {"between": [0, 100]}}
    )
    assert est == round(1000 * 0.2 * 0.1 * 0.9)
    # unknown column falls back to the default guess
    assert estimate_allowed(stats, {"mystery": {"eq": 1}}) == 100


def test_sink_latest_batch_id_missing_metadata_dir(tmp_path):
    """Advisor r9: a fresh sink dir (or a pre-first-commit call) has no
    _spark_metadata yet — that is the same freshness fact as an empty
    commit log, so return -1 instead of raising FileNotFoundError."""
    import os

    from hybrid_vector_search_spark.operators.ivf import (
        sink_latest_batch_id,
    )

    assert sink_latest_batch_id(str(tmp_path / "nonexistent")) == -1
    fresh = tmp_path / "fresh_sink"
    fresh.mkdir()
    assert sink_latest_batch_id(str(fresh)) == -1
    meta = fresh / "_spark_metadata"
    meta.mkdir()
    assert sink_latest_batch_id(str(fresh)) == -1
    (meta / "0").write_text("{}")
    (meta / "3").write_text("{}")
    assert sink_latest_batch_id(str(fresh)) == 3


def test_serve_local_topk_matches_spark_plan(spark, tmp_path):
    """The driver-local Arrow serving fast path (r13) returns the same
    ids, scores, and order as the Spark search_plan over the same
    persisted layout — and refuses to run without one."""
    import pytest as _pytest

    from hybrid_vector_search_spark.errors import ValidationError
    from hybrid_vector_search_spark.operators.ivf import IVFIndex
    from hybrid_vector_search_spark.queryvecs import query_vector
    from hybrid_vector_search_spark.sources.loaders import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.withColumnRenamed("vec_id", "id")
    import numpy as np

    sample = corpus.select("embedding").limit(16).collect()
    cents = np.vstack([r["embedding"] for r in sample]).astype(np.float64)
    cents /= np.maximum(
        np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
    )
    mem_index = IVFIndex.build_fixed(corpus, cents)
    with _pytest.raises(ValidationError, match="persisted"):
        mem_index.serve_local_topk(query_vector(7), 5)

    index = IVFIndex.build_fixed(
        corpus, cents, persist_path=str(tmp_path / "ivf")
    )
    q = query_vector(7)
    plan, _ = index.search_plan(q, k=10, nprobe=4)
    want = [(r["id"], r["score"]) for r in plan.collect()]
    got = index.serve_local_topk(q, k=10, nprobe=4)
    assert [i for i, _ in got] == [i for i, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9


def test_serve_local_batch_matches_single(spark, tmp_path):
    """Multi-query local serving returns exactly each query's
    serve_local_topk rows, tagged by qid."""
    import numpy as np

    from hybrid_vector_search_spark.operators.ivf import IVFIndex
    from hybrid_vector_search_spark.queryvecs import query_vector
    from hybrid_vector_search_spark.sources.loaders import load_table

    corpus = load_table(
        spark, "/root/testdata/sf0.001", "embeddings"
    ).withColumnRenamed("vec_id", "id")
    sample = corpus.select("embedding").limit(16).collect()
    cents = np.vstack([r["embedding"] for r in sample]).astype(np.float64)
    cents /= np.maximum(
        np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
    )
    index = IVFIndex.build_fixed(
        corpus, cents, persist_path=str(tmp_path / "ivf")
    )
    qvecs = {1: query_vector(7), 2: query_vector(11)}
    got = index.serve_local_batch(qvecs, k=8, nprobe=4)
    want = [
        (qid, i, s)
        for qid in sorted(qvecs)
        for i, s in index.serve_local_topk(qvecs[qid], k=8, nprobe=4)
    ]
    assert got == want


def test_assignment_drift_psi_and_recluster_polarity(spark):
    """The staleness loop's two signals and both trigger polarities:
    identical corpora → PSI exactly 0 and no trigger; a corpus grown
    past the coverage threshold triggers; the PSI helper's histogram is
    driver-bounded (2 × nlist rows) and matches a NumPy replay."""
    import math

    import numpy as np

    from hybrid_vector_search_spark.operators.ivf import (
        assignment_drift_psi,
    )

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((120, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, embedding array<double>",
    )
    cents = vecs[:4]
    # identical versions: every term's p1 == p2 → PSI is exactly 0
    assert assignment_drift_psi(df, df, cents) == 0.0
    # grown version: PSI matches the NumPy replay of the same formula
    v2 = df
    v1 = df.filter(df.id < 90)
    got = assignment_drift_psi(v1, v2, cents)
    a = (vecs @ cents.T).argmax(axis=1)
    L = 4

    def hist(idx):
        h = np.zeros(L)
        for li in a[idx]:
            h[li] += 1
        return h

    h1, h2 = hist(np.arange(90)), hist(np.arange(120))
    want = sum(
        ((h2[li] + 1) / (120 + L) - (h1[li] + 1) / (90 + L))
        * math.log(((h2[li] + 1) / (120 + L)) / ((h1[li] + 1) / (90 + L)))
        for li in range(L)
    )
    assert abs(got - want) < 1e-12
    # trigger polarity lives in the registered query's arithmetic:
    # stale_frac = 30/120 = 0.25 > 0.1 triggers; 0/120 does not
    assert (120 - 90) / 120 > 0.1
    assert not (120 - 120) / 120 > 0.1


def test_costed_allowed_count_memoized_on_resident_corpus(spark, corpus):
    """|allowed| does not change with the query vector: on a resident
    corpus a second costed search with the same filters runs no count
    job (DataFrame.count is poisoned for it), while new filters, an
    uncached handle, or a search after invalidate_caches() count."""
    from hybrid_vector_search_spark.operators.strategies import is_resident
    from hybrid_vector_search_spark.plans.registry import invalidate_caches

    n = corpus.count()
    shared = dict(n=n, nlist=8, nprobe=4, seed=42)
    resident = PostFilterBackend(corpus, costed=True, **shared)
    resident.index  # build eagerly: the index build counts rows itself
    uncached_df = corpus.filter(F.col("id").isNotNull())  # same rows
    assert is_resident(corpus) and not is_resident(uncached_df)
    uncached = PostFilterBackend(uncached_df, costed=True, **shared)
    uncached._index = resident.index
    f_a = {"n_chars": {"ge": 123}, "lang": {"eq": "en"}}
    f_b = {"n_chars": {"ge": 124}, "lang": {"eq": "en"}}

    # the concrete class: it overrides pyspark.sql.DataFrame.count
    DataFrame = type(corpus)
    real_count = DataFrame.count
    calls = []

    def counting(self):
        calls.append(1)
        return real_count(self)

    def poisoned(self):
        raise AssertionError("memoized |allowed| must run no count job")

    def counted(backend, filters, seed):
        DataFrame.count = counting
        try:
            before = len(calls)
            _ids, st = backend.search(query_vector(seed), filters, 10)
        finally:
            DataFrame.count = real_count
        return len(calls) - before, st

    n1, st1 = counted(resident, f_a, 7)
    assert n1 == 1
    DataFrame.count = poisoned
    try:
        _ids, st2 = resident.search(query_vector(8), f_a, 10)
    finally:
        DataFrame.count = real_count
    assert st2["selectivity_est"] == st1["selectivity_est"]
    assert st2["ladder_entry"] == st1["ladder_entry"]
    assert counted(resident, f_b, 7)[0] == 1      # new filters
    assert counted(uncached, f_a, 7)[0] == 1      # uncached handle
    assert counted(uncached, f_a, 8)[0] == 1      # ... on every search
    # invalidate_caches() unpersists the registry's copy of this corpus,
    # and with it this handle's plan: cache it again
    invalidate_caches()
    corpus.cache()
    assert is_resident(corpus)
    assert counted(resident, f_a, 9)[0] == 1      # store was cleared
    assert counted(resident, f_a, 10)[0] == 0


# ------------------------------------------- prepared ladder (one ranking)

STRICT = {"lang": {"eq": "zh"}, "label": {"in": [7]}}  # ~1.5% of corpus
BROAD = {"lang": {"in": ["en", "fr"]}}  # >50% of corpus


@pytest.fixture(scope="module")
def fixed_indexes(spark, corpus, tmp_path_factory):
    """One fixed-quantizer index twice: over a persisted layout (the
    ``local_probe`` candidate route) and in memory (the ``distributed``
    route, one collect of ``search_plan``). Same centroids, so both
    assign and probe identically."""
    emb = corpus.select("id", "embedding")
    sample = emb.orderBy("id").limit(8).collect()
    cents = np.vstack([r["embedding"] for r in sample]).astype(np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    path = str(tmp_path_factory.mktemp("ivf_fixed") / "layout")
    return {
        "local_probe": IVFIndex.build_fixed(emb, cents, persist_path=path),
        "distributed": IVFIndex.build_fixed(emb, cents),
    }


def _join_per_rung(backend, q, filters, k):
    """The post-filter search as written before the prepared ladder: one
    probe plan per rung, joined against the filtered corpus and
    collected, the count job for the costed entry."""
    from hybrid_vector_search_spark.functions.predicates import (
        compile_filters,
    )
    from hybrid_vector_search_spark.functions.vector import ensure_unit_l2
    from hybrid_vector_search_spark.operators.strategies import (
        join_candidates,
        ladder_entry,
    )
    from hybrid_vector_search_spark.operators.topk import topk

    q = ensure_unit_l2(q)
    pred = compile_filters(backend.corpus.schema, filters)
    ladder = backend.k_ladder
    stats = {}
    if backend.costed:
        n_allowed = backend.corpus.filter(pred).count()
        stats["selectivity_est"] = n_allowed / backend.n
        entry = ladder_entry(ladder, k, n_allowed, backend.n)
        ladder = ladder[ladder.index(entry):]
    for rungs_run, kprime in enumerate(ladder, 1):
        cand, probed = backend.index.search_plan(q, kprime, backend.nprobe)
        rows = topk(join_candidates(backend.corpus, pred, cand), k).collect()
        if len(rows) >= k:
            break
    stats.update(
        ladder_entry=ladder[0], rungs_run=rungs_run, scored_vectors=kprime,
        lists_probed=len(probed),
    )
    return [r["id"] for r in rows], [r["score"] for r in rows], stats


LADDER_STATS = (
    "ladder_entry", "rungs_run", "scored_vectors", "lists_probed",
    "selectivity_est",
)


@pytest.mark.parametrize("route", ["local_probe", "distributed"])
@pytest.mark.parametrize("costed", [False, True])
def test_prepared_ladder_matches_join_per_rung(
    spark, corpus, fixed_indexes, route, costed
):
    """One candidate ranking per search, sliced per rung, returns the
    ids, scores and ladder stats of the join-per-rung search on both
    candidate routes, fixed and costed ladders, strict and broad
    filters, resident and uncached handles. The local route scores in
    numpy (float64 GEMV), the plan in a sequential float64 sum: equal
    to 1e-9, and exactly equal on the plan route. On the resident
    corpus a search for a filter set seen before submits only the
    ranking's job, which the local route does without Spark."""
    from hybrid_vector_search_spark.serving import ann_serve_or_plan

    index = fixed_indexes[route]
    n = corpus.count()
    assert ann_serve_or_plan(index, 4, n=n).route == route
    uncached = corpus.filter(F.col("id").isNotNull())
    for handle in (corpus, uncached):
        backend = PostFilterBackend(
            handle, n, index=index, nprobe=4, costed=costed
        )
        for seed, filters in ((7, STRICT), (8, BROAD), (9, {})):
            q = query_vector(seed)
            want_ids, want_scores, want = _join_per_rung(
                backend, q, filters, 10
            )
            if handle is corpus:
                backend.search(q, filters, 10)  # the allowed-id memo
                (ids, st), jobs = jobs_of(
                    spark, lambda: backend.search(q, filters, 10)
                )
                # the ranking: no job on the local route, else one collect
                assert jobs == (route == "distributed"), (route, filters)
            else:
                ids, st = backend.search(q, filters, 10)
            assert ids == want_ids, (route, costed, filters)
            if route == "distributed":
                assert st["scores"] == want_scores
            else:
                assert np.allclose(st["scores"], want_scores, rtol=0, atol=1e-9)
            assert {s: st.get(s) for s in LADDER_STATS} == {
                s: want.get(s) for s in LADDER_STATS
            }, (route, costed, filters)
    # the strict filter exhausts the fixed ladder; the costed entry
    # jumps to its last rung
    _ids, st = PostFilterBackend(
        corpus, n, index=index, nprobe=4, costed=costed
    ).search(query_vector(7), STRICT, 10)
    assert (st["ladder_entry"], st["rungs_run"]) == (
        (1000, 1) if costed else (200, 3)
    )


def test_warm_costed_search_on_resident_corpus_submits_no_job(
    spark, corpus, fixed_indexes
):
    """On a resident corpus with a persisted layout, once a filter set
    has been seen, a costed post-filter search submits no Spark job: the
    candidates come from the cached probed lists and the survivors from
    the memoized allowed ids. An uncached handle submits its count and
    one membership job per search."""
    from hybrid_vector_search_spark.functions.predicates import (
        compile_filters,
    )
    from hybrid_vector_search_spark.operators.strategies import is_resident

    index = fixed_indexes["local_probe"]
    n = corpus.count()
    assert is_resident(corpus)
    filters = {"n_chars": {"ge": 150}, "lang": {"ne": "de"}}
    uncached_df = corpus.filter(F.col("id").isNotNull())
    _, count_jobs = jobs_of(
        spark,
        lambda: uncached_df.filter(
            compile_filters(corpus.schema, filters)
        ).count(),
    )
    assert count_jobs >= 1
    resident = PostFilterBackend(corpus, n, index=index, nprobe=4, costed=True)
    (_ids, st1), first = jobs_of(
        spark, lambda: resident.search(query_vector(21), filters, 10)
    )
    assert first == count_jobs + 1  # the memo: its count, one id collect
    for seed in (22, 23):
        (ids, st), warm = jobs_of(
            spark, lambda: resident.search(query_vector(seed), filters, 10)
        )
        assert warm == 0 and len(ids) == 10
        assert st["selectivity_est"] == st1["selectivity_est"]
    uncached = PostFilterBackend(
        uncached_df, n, index=index, nprobe=4, costed=True
    )
    for seed in (21, 22):
        (ids, st), jobs = jobs_of(
            spark, lambda: uncached.search(query_vector(seed), filters, 10)
        )
        assert jobs == count_jobs + 1  # its count, one membership job
    assert ids == resident.search(query_vector(22), filters, 10)[0]


def test_allowed_set_over_broadcast_budget_takes_job_path(
    spark, corpus, fixed_indexes
):
    """An allowed set whose ids would pass the broadcast budget keeps
    only its count in the memo; membership is then one semi-join job per
    search, with the same answer as the join-per-rung search."""
    from hybrid_vector_search_spark.functions.predicates import (
        compile_filters,
    )
    from hybrid_vector_search_spark.operators.strategies import allowed_count

    index = fixed_indexes["local_probe"]
    n = corpus.count()
    filters = {"n_chars": {"ge": 120}, "label": {"ne": 3}}
    pred = compile_filters(corpus.schema, filters)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64")  # 8 ids
    try:
        backend = PostFilterBackend(
            corpus, n, index=index, nprobe=4, costed=True
        )
        backend.search(query_vector(31), filters, 10)  # builds the memo
        n_allowed, ids_kept = allowed_count(corpus, filters, pred)
        assert ids_kept is None and n_allowed * 8 > 64
        q = query_vector(32)
        (ids, st), jobs = jobs_of(
            spark, lambda: backend.search(q, filters, 10)
        )
    finally:
        spark.conf.set(key, prev)
    assert jobs == 1  # the membership semi-join
    want_ids, want_scores, want = _join_per_rung(backend, q, filters, 10)
    assert ids == want_ids
    assert np.allclose(st["scores"], want_scores, rtol=0, atol=1e-9)
    assert {s: st.get(s) for s in LADDER_STATS} == {
        s: want.get(s) for s in LADDER_STATS
    }
