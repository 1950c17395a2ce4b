"""Search-strategy contract tests (reference: tests/test_run_impl.py
behavioral spec — ordering, stats, K guard, recall-vs-oracle)."""

import numpy as np
import pytest

from hybrid_vector_search_spark.errors import ValidationError
from hybrid_vector_search_spark.functions.vector import ensure_unit_l2
from hybrid_vector_search_spark.operators.strategies import (
    ExactBackend,
    PreFilterBackend,
    RandomBackend,
    get_backend,
)

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
