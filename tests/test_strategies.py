"""Search-strategy contract tests (reference: tests/test_run_impl.py
behavioral spec — ordering, stats, K guard, recall-vs-oracle)."""

import numpy as np
import pytest
from conftest import jobs_of

from hybrid_vector_search_spark.errors import ValidationError
from hybrid_vector_search_spark.functions.predicates import compile_filters
from hybrid_vector_search_spark.functions.vector import ensure_unit_l2
from hybrid_vector_search_spark.operators.strategies import (
    ExactBackend,
    PreFilterBackend,
    RandomBackend,
    allowed_count,
    get_backend,
)
from hybrid_vector_search_spark.plans import registry as R
from hybrid_vector_search_spark.queryvecs import query_vector
from hybrid_vector_search_spark.serving import resident_serve
from hybrid_vector_search_spark.session import stored

Q_E1 = [1.0, 0.0, 0.0, 0.0]  # basis vector: best match id 0, then id 4 (1/√2)


def test_exact_ordering_desc_score_then_id(tiny_corpus):
    ids, stats = ExactBackend(tiny_corpus, 5).search(Q_E1, {}, 5)
    # scores: id0=1.0, id4=0.707, ids 1,2,3 = 0.0 (ties → id ASC)
    assert ids == [0, 4, 1, 2, 3]
    assert stats["scores"] == sorted(stats["scores"], reverse=True)


def test_exact_filtered_allowed_set(tiny_corpus):
    ids, stats = ExactBackend(tiny_corpus, 5).search(
        Q_E1, {"state": {"eq": "FL"}}, 3
    )
    assert ids == [0, 4, 1]
    # scored_vectors = |allowed| (reference: exact.py:50)
    assert stats["scored_vectors"] == 3


def test_prefilter_same_plan_as_exact(tiny_corpus):
    e, _ = ExactBackend(tiny_corpus, 5).search(Q_E1, {"stars": {"ge": 3.0}}, 2)
    p, st = PreFilterBackend(tiny_corpus, 5).search(Q_E1, {"stars": {"ge": 3.0}}, 2)
    assert e == p
    assert st["method"] == "pre_filter"


def test_k_fewer_than_allowed_rows(tiny_corpus):
    # |allowed|=3 < K=5 → min(K, |allowed|) rows, no crash (quirk Q2 fixed)
    ids, _ = ExactBackend(tiny_corpus, 5).search(Q_E1, {"state": {"eq": "FL"}}, 5)
    assert ids == [0, 4, 1]


def test_k_guard(tiny_corpus):
    b = ExactBackend(tiny_corpus, 5)
    for bad in (0, -1, 6, "3", 2.5, True):
        with pytest.raises(ValidationError):
            b.search(Q_E1, {}, bad)


def test_unit_norm_guard(tiny_corpus):
    b = ExactBackend(tiny_corpus, 5)
    with pytest.raises(ValidationError):
        b.search([2.0, 0.0, 0.0, 0.0], {}, 1)
    with pytest.raises(ValidationError):
        b.search([0.0, 0.0, 0.0, 0.0], {}, 1)


def test_ensure_unit_l2_tolerance():
    v = np.array([1.0 + 5e-4, 0.0, 0.0, 0.0])
    assert ensure_unit_l2(v) is not None


def test_random_deterministic_ignores_filters(tiny_corpus):
    b = RandomBackend(tiny_corpus, 5, seed=0)
    ids1, st1 = b.search(Q_E1, {"state": {"eq": "FL"}}, 3)
    ids2, _ = b.search(Q_E1, None, 3)
    assert ids1 == ids2  # filters ignored (reference quirk Q7)
    assert st1["scored_vectors"] == 0
    assert len(ids1) == 3


def test_registry(tiny_corpus):
    assert get_backend("exact", tiny_corpus, 5).name == "exact"
    assert get_backend("pre_filter", tiny_corpus, 5).name == "pre_filter"
    assert get_backend("post_filter", tiny_corpus, 5).name == "post_filter"
    assert get_backend("random", tiny_corpus, 5).name == "random"
    with pytest.raises(ValidationError):
        get_backend("nope", tiny_corpus, 5)


def test_empty_result_consistent_shape(tiny_corpus):
    # no rows pass → empty ids + stats, not a crash (reference quirk Q1 fixed)
    ids, stats = ExactBackend(tiny_corpus, 5).search(
        Q_E1, {"state": {"eq": "ZZ"}}, 3
    )
    assert ids == []
    assert stats["scored_vectors"] == 0


def test_index_fallback_chain_and_params(tiny_corpus):
    """K6/K7 (reference load_vectors_index + get_index_params,
    src/dataio/loaders.py:176-232; registry-mapping spec mirrored from
    tests/test_run_impl.py:412-424): the chain lands on IVF when
    available, falls to HNSW (reference's second rung) then LSH/exact,
    records the fall in notes, and every landing introspects to the
    right param dict."""
    from hybrid_vector_search_spark.operators.ivf import IVFIndex
    from hybrid_vector_search_spark.operators.strategies import (
        get_index_params,
        load_corpus_index,
    )

    b = load_corpus_index(tiny_corpus, 5, nlist=2, nprobe=2)
    assert b.name == "post_filter"
    p = get_index_params(b)
    assert p == {"type": "ivfflat", "nlist": 2, "nprobe": 2}
    # bare index object introspects too
    assert get_index_params(b.index) == {"type": "ivfflat", "nlist": 2}

    # IVF declined → HNSW (reference loaders.py:204-215), with the fall
    # recorded in stats notes
    b2 = load_corpus_index(tiny_corpus, 5, prefer_ivf=False)
    assert b2.name == "post_filter_hnsw"
    assert get_index_params(b2)["type"] == "hnsw"
    _ids, stats = b2.search(Q_E1, {}, 2)
    assert "ivf skipped" in stats["notes"] and "hnsw" in stats["notes"]

    # HNSW declined too → LSH (this engine's stateless extra rung)
    from hybrid_vector_search_spark.operators import hnsw as hnsw_mod

    class _Boom(hnsw_mod.HNSWBackend):
        def __init__(self, *a, **k):
            raise RuntimeError("no graphs today")

    orig = hnsw_mod.HNSWBackend
    hnsw_mod.HNSWBackend = _Boom
    try:
        b3 = load_corpus_index(tiny_corpus, 5, prefer_ivf=False)
    finally:
        hnsw_mod.HNSWBackend = orig
    assert b3.name == "post_filter_lsh"
    assert get_index_params(b3)["type"] == "lsh"

    # non-index objects → exact (reference's terminal default)
    assert get_index_params(object()) == {"type": "exact"}
    assert get_index_params(ExactBackend(tiny_corpus, 5)) == {"type": "exact"}


def test_index_fallback_on_broken_ivf_build(tiny_corpus, monkeypatch):
    """A failing IVF build falls through (to HNSW) without raising."""
    from hybrid_vector_search_spark.operators import ivf as ivf_mod
    from hybrid_vector_search_spark.operators.strategies import (
        load_corpus_index,
    )

    def boom(*a, **k):
        raise RuntimeError("no mllib here")

    monkeypatch.setattr(ivf_mod.IVFIndex, "build", classmethod(boom))
    b = load_corpus_index(tiny_corpus, 5)
    assert b.name == "post_filter_hnsw"
    _ids, stats = b.search(Q_E1, {}, 2)
    assert "ivf unavailable" in stats["notes"] and "hnsw" in stats["notes"]


# ---------------------------------------------------------------- narrow join


def _split_corpus(spark):
    """A corpus handle carrying its un-joined sides, like load_corpus."""
    s2 = float(1 / np.sqrt(2))
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 1),
            (1, [0.0, 1.0, 0.0, 0.0], 1),
            (2, [0.0, 0.0, 1.0, 0.0], 2),
            (3, [0.0, 0.0, 0.0, 1.0], 2),
            (4, [s2, s2, 0.0, 0.0], 1),
            (5, [0.0, s2, s2, 0.0], 3),  # no metadata row (left-join null)
        ],
        "id long, embedding array<float>, label int",
    )
    meta = spark.createDataFrame(
        [
            (0, "en", 120),
            (1, "en", 40),
            (2, "de", 300),
            (3, "en", 500),
            (4, "fr", 200),
        ],
        "id long, lang string, n_chars long",
    )
    joined = emb.join(meta, "id", "left")
    joined._hvs_emb_side = emb
    joined._hvs_meta_side = meta
    return joined, emb, meta


def test_narrow_join_equivalence(spark):
    """Metadata-touching filters: the narrow (score emb side, semi-join
    filtered ids) shape returns exactly what filtering the joined frame
    returns — including null-fail exclusion of rows with no metadata."""
    corpus, emb, meta = _split_corpus(spark)
    for filters in (
        {"lang": {"eq": "en"}},
        {"lang": {"ne": "en"}, "n_chars": {"gt": 50}},
        {"label": {"eq": 1}, "n_chars": {"ge": 100}},  # mixed sides
        {"n_chars": {"ge": 1}},  # broad
    ):
        b = ExactBackend(corpus, 6)
        ids, stats = b.search(Q_E1, filters, 3)
        # reference shape: filter the joined frame directly
        from hybrid_vector_search_spark.functions.predicates import (
            compile_filters,
        )
        from hybrid_vector_search_spark.functions.vector import dot_score_column
        from hybrid_vector_search_spark.operators.topk import topk

        expect_df = topk(
            corpus.filter(compile_filters(corpus.schema, filters)).select(
                "id", dot_score_column(Q_E1).alias("score")
            ),
            3,
        )
        expect = [int(r["id"]) for r in expect_df.collect()]
        assert ids == expect, filters
        n_allowed = corpus.filter(
            compile_filters(corpus.schema, filters)
        ).count()
        assert stats["scored_vectors"] == n_allowed, filters


def test_narrow_join_emb_only_filter_uses_joined_path(spark):
    """Filters touching only embeddings-side columns keep the resident
    joined-corpus plan (no semi-join introduced)."""
    corpus, _, _ = _split_corpus(spark)
    b = ExactBackend(corpus, 6)
    df, _ = b.plan(Q_E1, {"label": {"eq": 1}}, 3)
    assert "LeftSemi" not in df._jdf.queryExecution().executedPlan().toString()


def test_narrow_join_plan_shape(spark):
    """The wide embedding array must not cross the join: plan is a
    LEFT-SEMI join whose metadata side reads only (id, filter cols)."""
    corpus, _, _ = _split_corpus(spark)
    b = ExactBackend(corpus, 6)
    df, _ = b.plan(Q_E1, {"n_chars": {"ge": 100}}, 3)
    plan_str = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan_str
    # the wide array must not ride any operator on the metadata side:
    # every bracketed output/column list that carries the filter column
    # (n_chars — metadata-side operators) must not also carry embedding
    import re

    for cols in re.findall(r"\[([^\]]*)\]", plan_str):
        if "n_chars" in cols:
            assert "embedding" not in cols, plan_str


def test_cached_handle_scores_resident_frame(spark):
    """A handle resident in Spark's cache manager is filtered and scored
    in place — no LEFT-SEMI join, no re-read of the un-joined sides —
    and answers exactly as the narrow shape does on the same data."""
    from hybrid_vector_search_spark.operators.strategies import is_resident

    filter_sets = (
        {"lang": {"eq": "en"}},
        {"label": {"eq": 1}, "n_chars": {"ge": 100}},
        {"n_chars": {"ge": 1}},
    )
    corpus, _, _ = _split_corpus(spark)
    assert not is_resident(corpus)
    narrow = [ExactBackend(corpus, 6).search(Q_E1, f, 3) for f in filter_sets]
    corpus.cache()
    try:
        assert is_resident(corpus)
        b = ExactBackend(corpus, 6)
        for f, (ids, stats) in zip(filter_sets, narrow):
            df, _ = b.plan(Q_E1, f, 3)
            plan_str = df._jdf.queryExecution().executedPlan().toString()
            assert "LeftSemi" not in plan_str, f
            assert "InMemoryTableScan" in plan_str, f
            got_ids, got_stats = b.search(Q_E1, f, 3)
            assert got_ids == ids, f
            assert got_stats["scored_vectors"] == stats["scored_vectors"], f
            assert got_stats["scores"] == stats["scores"], f
    finally:
        # the cache lookup is by plan: leave no cached twin behind for
        # the narrow-shape tests of other handles over the same rows
        corpus.unpersist(blocking=True)


# ------------------------------------ resident route (exact / pre_filter)

SF001 = "/root/testdata/sf0.001"


def _uncached_twin(corpus):
    """Same rows, a plan Spark's cache manager does not hold."""
    from pyspark.sql import functions as F

    return corpus.filter(F.col("id").isNotNull())


@pytest.mark.parametrize("name", ["exact", "pre_filter"])
def test_resident_route_matches_plan_on_canonical_templates(spark, name):
    """On a resident corpus both backends answer every canonical
    template from the serve tier, with the ids and ``scored_vectors`` of
    the Spark plan on an uncached twin and scores within 1e-12."""
    from hybrid_vector_search_spark.plans.canonical import CANONICAL_QUERIES

    corpus = R.load_corpus(spark, "/root/testdata/sf0.01")
    n = corpus.count()
    resident = get_backend(name, corpus, n)
    planned = get_backend(name, _uncached_twin(corpus), n)
    for cq in CANONICAL_QUERIES:
        q = query_vector(cq.seed)
        ids, st = resident.search(q, cq.filters, cq.k)
        want_ids, want = planned.search(q, cq.filters, cq.k)
        assert st["notes"] == "route=resident" and "notes" not in want
        assert st["method"] == want["method"] == name
        assert ids == want_ids, cq.qid
        assert st["scored_vectors"] == want["scored_vectors"], cq.qid
        assert np.allclose(st["scores"], want["scores"], rtol=0, atol=1e-12)


def test_warm_resident_search_submits_no_job(spark, monkeypatch):
    """A warm search on a resident corpus submits no Spark job and
    builds no plan or filter ``Column``; it shares the one tier
    ``serve_or_plan`` returns. An uncached handle keeps the plan and
    its job, with the same answer."""
    from hybrid_vector_search_spark.operators import strategies
    from hybrid_vector_search_spark.serving import serve_or_plan

    corpus = R.load_corpus(spark, SF001)
    n = corpus.count()
    filters = {"label": {"in": [1, 2]}, "n_chars": {"ge": 100}}
    pre = PreFilterBackend(corpus, n)
    pre.search(query_vector(1), filters, 10)  # builds or reuses the tier
    assert serve_or_plan(corpus) is pre._served()

    def poisoned(*_a, **_k):
        raise AssertionError("the resident route builds no plan")

    with monkeypatch.context() as m:
        m.setattr(strategies, "compile_filters", poisoned)
        m.setattr(ExactBackend, "plan", poisoned)
        for backend, f in ((pre, filters), (ExactBackend(corpus, n), {})):
            (ids, st), jobs = jobs_of(
                spark, lambda: backend.search(query_vector(2), f, 10)
            )
            assert jobs == 0 and len(ids) == 10
            assert st["notes"] == "route=resident"
    uncached = PreFilterBackend(_uncached_twin(corpus), n)
    (ids_u, st_u), jobs = jobs_of(
        spark, lambda: uncached.search(query_vector(2), filters, 10)
    )
    assert jobs >= 1 and "notes" not in st_u
    ids_r, st_r = pre.search(query_vector(2), filters, 10)
    assert ids_u == ids_r
    assert st_u["scored_vectors"] == st_r["scored_vectors"]


def test_embedding_filter_falls_back_to_plan(spark):
    """The tier does not hold the embedding column (it is the matrix),
    so a ``like`` filter on it runs the plan, with the plan's answer;
    an unknown column raises ``FilterSpecError`` on the resident
    corpus too."""
    from hybrid_vector_search_spark.errors import FilterSpecError

    corpus = R.load_corpus(spark, SF001)
    n = corpus.count()
    filters = {"embedding": {"like": "0.01"}, "lang": {"eq": "en"}}
    resident = PreFilterBackend(corpus, n)
    resident.search(query_vector(3), {}, 5)  # the tier exists
    (ids, st), jobs = jobs_of(
        spark, lambda: resident.search(query_vector(3), filters, 5)
    )
    assert jobs >= 1 and st["notes"] == "route=distributed"
    want_ids, want = PreFilterBackend(_uncached_twin(corpus), n).search(
        query_vector(3), filters, 5
    )
    assert ids == want_ids and st["scores"] == want["scores"]
    with pytest.raises(FilterSpecError, match="Unknown field"):
        resident.search(query_vector(3), {"nope": {"eq": 1}}, 5)


def test_invalidate_caches_rebuilds_the_tier(spark):
    """``invalidate_caches()`` unpersists the registry's corpus; the
    corpus cached again is a new cache entry, so the next search builds
    a new tier, with the same answer."""

    filters = {"lang": {"eq": "en"}}
    corpus = R.load_corpus(spark, SF001)
    before = ExactBackend(corpus, corpus.count())
    ids, st = before.search(query_vector(4), filters, 10)
    tier = resident_serve(corpus).tier
    R.invalidate_caches()
    assert resident_serve(corpus) is None  # the cache entry is gone
    corpus = R.load_corpus(spark, SF001)
    after = ExactBackend(corpus, corpus.count())
    ids2, st2 = after.search(query_vector(4), filters, 10)
    rebuilt = resident_serve(corpus)
    assert rebuilt.tier is not tier and rebuilt.route == "resident"
    assert ids2 == ids and st2["scores"] == st["scores"]
    assert st2["scored_vectors"] == st["scored_vectors"]


def test_purge_invalidator_drops_the_tier(spark):
    """A purge of a corpus root fires the invalidators the registry's
    serve tiers register, and they drop the memoized tier too: the next
    search builds it again from the corpus."""
    from hybrid_vector_search_spark.plans.registry_hybrid_ann import _on_purge
    from hybrid_vector_search_spark.sources import purge as PU

    corpus = R.load_corpus(spark, SF001)
    served = resident_serve(corpus)
    assert resident_serve(corpus) is served
    _on_purge(SF001, "local_serve")
    PU._invalidate_residents(SF001)
    assert resident_serve(corpus) is not served


def test_resident_memos_follow_the_cache_entry(spark, tmp_path):
    """A plan unpersisted, its files rewritten and cached again keeps
    its ``semanticHash`` but is a new cache entry: the count memo and
    the serve tier are rebuilt from the new rows, so a post-filter
    search's membership follows them, and the entries of the gone cache
    entry are dropped."""
    from hybrid_vector_search_spark.operators.ivf import (
        IVFIndex,
        PostFilterBackend,
    )

    path = str(tmp_path / "t")
    schema = "id long, label int, embedding array<float>"

    def write(ids):
        rows = [
            (i, 1 if i >= 100 else i % 3, [float(x) for x in query_vector(i, 4)])
            for i in ids
        ]
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            path
        )

    def memos():
        return stored("allowed_count") + stored("serve_or_plan")

    def members(corpus):
        everyone = np.arange(110)
        return np.flatnonzero(
            resident_serve(corpus).tier.passing(filters, everyone)
        ).tolist()

    filters = {"label": {"eq": 1}}
    write(range(30))
    others = memos()
    old = spark.read.parquet(path).cache()
    pred = compile_filters(old.schema, filters)
    assert allowed_count(old, filters, pred) == 10
    old_ids, _ = ExactBackend(old, 30).search(query_vector(9, 4), filters, 3)
    assert members(old) == list(range(1, 30, 3))
    old_memos = [m for m in memos() if not any(m is o for o in others)]
    assert len(old_memos) == 2
    old.unpersist(blocking=True)
    write(range(100, 105))
    new = spark.read.parquet(path).cache()
    assert new.semanticHash() == old.semanticHash()
    assert allowed_count(new, filters, compile_filters(new.schema, filters)) == 5
    got, st = ExactBackend(new, 5).search(query_vector(9, 4), filters, 3)
    assert set(got) <= set(range(100, 105)) and st["scored_vectors"] == 5
    assert st["notes"] == "route=resident" and set(old_ids) <= set(range(30))
    assert not any(m is k for m in old_memos for k in memos())
    assert sorted(resident_serve(new).tier.ids.tolist()) == list(range(100, 105))
    assert members(new) == list(range(100, 105))
    one_list = IVFIndex.build_fixed(
        new.select("id", "embedding"), np.asarray([query_vector(9, 4)])
    )
    post = PostFilterBackend(new, 5, index=one_list, nprobe=1, k_ladder=(5,))
    assert post.search(query_vector(9, 4), filters, 3)[0] == got
    new.unpersist(blocking=True)


def _small_cached(spark, n=40):
    """A fresh cached corpus of ``n`` rows with a label column."""

    rows = [(i, i % 4, [float(x) for x in query_vector(i, 8)]) for i in range(n)]
    return spark.createDataFrame(
        rows, "id long, label int, embedding array<float>"
    ).cache()


def test_distributed_decision_and_empty_corpus_keep_the_plan(
    spark, monkeypatch
):
    """A resident corpus past the driver budgets memoizes the
    ``distributed`` decision: its footprint aggregate runs once, and
    every search runs the plan. An empty resident corpus has no tier
    and keeps the plan's empty answer."""
    from hybrid_vector_search_spark import serving

    corpus = _small_cached(spark)
    measured = []
    footprint = serving._resident_footprint
    monkeypatch.setattr(
        serving,
        "_resident_footprint",
        lambda *a: measured.append(1) or footprint(*a),
    )
    monkeypatch.setattr(serving, "MAX_SERVE_BYTES", 1)
    monkeypatch.setattr(serving, "MAX_TOTAL_SERVE_BYTES", 1)
    backend = ExactBackend(corpus, 40)
    for seed in (1, 2):
        (ids, st), jobs = jobs_of(
            spark,
            lambda: backend.search(query_vector(seed, 8), {"label": {"eq": 1}}, 3),
        )
        assert jobs >= 1 and st["notes"] == "route=distributed" and len(ids) == 3
    assert measured == [1]
    assert serving.resident_serve(corpus).route == "distributed"
    corpus.unpersist(blocking=True)

    empty = corpus.filter("id < 0").cache()
    assert ExactBackend(empty, 5).search(query_vector(1, 8), {}, 3)[0] == []
    empty.unpersist(blocking=True)


def test_concurrent_first_searches_share_one_tier(spark):
    """More threads than cores start on a fresh resident corpus at once:
    they get one tier, built once, and every membership and count it
    answers is right."""
    import sys
    import threading

    corpus = _small_cached(spark)
    served, answered, errors = [], [], []

    def work(i):
        try:
            got = resident_serve(corpus)
            served.append(got)
            f = {"label": {"eq": i % 4}}
            keep = got.tier.passing(f, np.arange(40))
            answered.append(
                (i % 4, got.tier.count_allowed(f), np.flatnonzero(keep).tolist())
            )
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(switch)
        corpus.unpersist(blocking=True)
    assert not errors, errors
    assert len(served) == 8 and all(s is served[0] for s in served)
    for label, n, ids in answered:
        want = list(range(label, 40, 4))
        assert n == len(want) and ids == want
