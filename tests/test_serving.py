"""LocalCorpusServe (serving.py): the driver-local exact/pre_filter
tier. Answer parity with the distributed plans is carried by the
registry oracle gate (hybrid_topk_local_* share the hybrid_topk_*
oracles verbatim); these tests pin the RAM gate, the empty-result
contract, and tiebreak order."""

import gc
import os

import pytest
from pyspark.sql import functions as F

from hybrid_vector_search_spark.errors import ValidationError
from hybrid_vector_search_spark.plans import registry as R
from hybrid_vector_search_spark.serving import LocalCorpusServe
from hybrid_vector_search_spark.sources.loaders import DEFAULT_SF_DIR

#: the sf0.001 test corpus, beside the default one
SF0001 = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")


@pytest.fixture(scope="module")
def serve(spark):
    return LocalCorpusServe.from_corpus(
        R.load_corpus(spark, "/root/testdata/sf0.001")
    )


def test_ram_gate_refuses_before_collect(spark):
    corpus = R.load_corpus(spark, "/root/testdata/sf0.001")
    with pytest.raises(ValidationError, match="GiB budget"):
        LocalCorpusServe.from_corpus(corpus, max_bytes=1024)


def test_empty_corpus_refused_loudly(spark):
    # n=0 passes the RAM gate (need=0); without the explicit guard the
    # build dies inside np.vstack with an opaque numpy error (r13 advice)
    corpus = R.load_corpus(spark, "/root/testdata/sf0.001")
    empty = corpus.filter(F.col("id") < 0)
    with pytest.raises(ValidationError, match="empty"):
        LocalCorpusServe.from_corpus(empty)


def test_exact_matches_distributed_plan(spark, serve):
    from hybrid_vector_search_spark.plans.registry_hybrid_ann import (
        HYBRID_CASES,
    )
    from hybrid_vector_search_spark.queryvecs import query_vector

    case = HYBRID_CASES["hybrid_topk_unfiltered"]
    rows = serve.exact_topk(query_vector(case["seed"]), case["k"])
    want = [
        (r["id"], r["score"])
        for r in R.QUERIES["hybrid_topk_unfiltered"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    ]
    got = [(i, round(s, 6)) for i, s in rows]
    assert got == want


def test_prefilter_selectivity_and_empty(spark, serve):
    from hybrid_vector_search_spark.queryvecs import query_vector

    q = query_vector(3)
    # impossible conjunct → empty, not an error (the engine's
    # empty-result contract)
    assert serve.prefilter_topk(q, {"label": {"eq": -999}}, 5) == []
    # a real filter returns only passing ids
    rows = serve.prefilter_topk(q, {"label": {"in": [1, 2]}}, 100)
    corpus = R.load_corpus(spark, "/root/testdata/sf0.001")
    allowed = {
        r["id"]
        for r in corpus.filter(F.col("label").isin(1, 2))
        .select("id")
        .collect()
    }
    assert rows and {i for i, _ in rows} <= allowed


def test_tiebreak_score_desc_id_asc(serve):
    import numpy as np

    ids = np.array([7, 3, 9, 1], dtype=np.int64)
    scores = np.array([0.5, 0.5, 0.9, 0.5])
    out = serve._topk(ids, scores, 4)
    assert out == [(9, 0.9), (1, 0.5), (3, 0.5), (7, 0.5)]


def test_topk_positions_exact_on_ties_straddling_k():
    """The partition-then-sort top-K keeps every row tied with the K-th
    score, so a tie across position K resolves by id exactly as a full
    (score DESC, id ASC) sort does; NaN scores rank last."""
    import numpy as np

    from hybrid_vector_search_spark.operators.topk import topk_positions

    ids = np.array([5, 3, 9, 1, 7, 2], dtype=np.int64)
    scores = np.array([0.5, 0.9, 0.5, 0.5, 0.1, 0.5])
    # K=3 cuts through the four rows tied at 0.5: ids 1 and 2 win
    assert ids[topk_positions(ids, scores, 3)].tolist() == [3, 1, 2]
    assert topk_positions(ids, scores, 0).size == 0
    rng = np.random.default_rng(11)
    for trial in range(300):
        n = int(rng.integers(1, 80))
        ids = rng.permutation(10 * n)[:n].astype(np.int64)
        scores = rng.integers(0, 4, n).astype(np.float64)
        if trial % 4 == 0:
            scores[rng.integers(0, n, 3)] = np.nan
        for k in (1, 2, n // 2, n - 1, n, n + 3):
            want = np.lexsort((ids, -scores))[: max(min(k, n), 0)]
            assert topk_positions(ids, scores, k).tolist() == want.tolist()


# ---------------------------------------------- sharded tier (r14)


@pytest.fixture(scope="module")
def sharded(spark):
    from hybrid_vector_search_spark.serving import ShardedCorpusServe

    return ShardedCorpusServe.from_corpus(
        R.load_corpus(spark, "/root/testdata/sf0.001"), n_shards=4
    )


def _assert_rows_match(got, want, ctx):
    # ids and order exact; scores to 1e-9 — a shard-shaped BLAS GEMM
    # can differ from the monolithic one in the last ULP (different
    # blocking), which the engine's 6-decimal rounding grid absorbs
    assert [i for i, _ in got] == [i for i, _ in want], (ctx, got, want)
    for (_, sa), (_, sb) in zip(got, want):
        assert abs(sa - sb) < 1e-9, (ctx, got, want)


def test_sharded_matches_monolithic(serve, sharded):
    """Shard membership only partitions the scan: exact and pre_filter
    answers through the 4-way tier must match the monolithic path,
    including the (score DESC, id ASC) tiebreak."""
    from hybrid_vector_search_spark.queryvecs import query_vector

    assert sharded.n_shards > 1  # the merge path is actually exercised
    assert sharded.total_rows == len(serve.ids)
    for seed in (3, 7, 11):
        q = query_vector(seed)
        _assert_rows_match(
            sharded.exact_topk(q, 10), serve.exact_topk(q, 10), seed
        )
        for filters in (
            {},
            {"label": {"in": [1, 2]}},
            {"label": {"eq": 4}, "n_chars": {"between": [0, 400]}},
            {"label": {"eq": -999}},  # empty result, not an error
        ):
            _assert_rows_match(
                sharded.prefilter_topk(q, filters, 10),
                serve.prefilter_topk(q, filters, 10),
                (seed, filters),
            )


def test_sharded_budgets_refuse_loudly(spark):
    from hybrid_vector_search_spark.serving import ShardedCorpusServe

    corpus = R.load_corpus(spark, "/root/testdata/sf0.001")
    # total-RAM budget: the honest refusal boundary of the tier
    with pytest.raises(ValidationError, match="total budget"):
        ShardedCorpusServe.from_corpus(corpus, max_total_bytes=1024)
    # the per-shard gate still applies inside an explicit shard count
    with pytest.raises(ValidationError, match="GiB budget"):
        ShardedCorpusServe.from_corpus(
            corpus, shard_bytes=1024, n_shards=2
        )
    with pytest.raises(ValidationError, match="empty"):
        ShardedCorpusServe.from_corpus(corpus.filter(F.col("id") < 0))


def test_sharded_byte_derived_count(spark, serve):
    """The default sizing path: shard count derives from the footprint
    estimate over the effective per-shard budget (clamped to
    spark.driver.maxResultSize), and the answers still match."""
    from hybrid_vector_search_spark.queryvecs import query_vector
    from hybrid_vector_search_spark.serving import ShardedCorpusServe

    tier = ShardedCorpusServe.from_corpus(
        R.load_corpus(spark, "/root/testdata/sf0.001"),
        shard_bytes=1 << 18,  # ~0.5 MB footprint / (0.75 × 256 KB) → >1
    )
    assert tier.n_shards > 1
    assert tier.total_rows == len(serve.ids)
    q = query_vector(7)
    _assert_rows_match(
        tier.exact_topk(q, 10), serve.exact_topk(q, 10), "derived"
    )


# ------------------------------------- costed serve dispatch (r15)


def test_serve_or_plan_routes_by_footprint(spark, serve):
    """One entry point, three physical shapes: the dispatch measures
    the footprint once and routes resident / sharded / distributed by
    budget, records the route in stats notes, and returns the SAME
    answer on every route (the hash-gated twin lives in the
    strategy_costed_serve registry query)."""
    from hybrid_vector_search_spark.queryvecs import query_vector
    from hybrid_vector_search_spark.serving import (
        _resident_footprint,
        serve_or_plan,
    )

    corpus = R.load_corpus(spark, "/root/testdata/sf0.001")
    _n, _d, need = _resident_footprint(corpus, "embedding")
    q = query_vector(7)
    filt = {"label": {"in": [1, 2]}}

    res = serve_or_plan(corpus)
    assert res.route == "resident" and res.n_shards == 1
    shd = serve_or_plan(corpus, shard_bytes=max(need // 2, 1))
    assert shd.route == "sharded" and shd.n_shards > 1
    dst = serve_or_plan(
        corpus,
        shard_bytes=max(need // 4, 1),
        max_total_bytes=max(need // 2, 1),
    )
    assert dst.route == "distributed" and dst.tier is None

    want_ids = [i for i, _ in serve.prefilter_topk(q, filt, 10)]
    for cs, note in (
        (res, "route=resident"),
        (shd, f"route=sharded({shd.n_shards})"),
        (dst, "route=distributed"),
    ):
        ids, stats = cs.search(q, filt, 10)
        assert ids == want_ids, (cs.route, ids, want_ids)
        assert stats["method"] == "pre_filter"
        assert stats["notes"].startswith(note), stats["notes"]
        assert stats["scored_vectors"] == serve.count_allowed(filt)
        assert len(stats["scores"]) == 10
    # exact (no filters): method + scored_vectors flip to the full scan
    ids, stats = res.search(q, {}, 5)
    assert stats["method"] == "exact"
    assert stats["scored_vectors"] == len(serve.ids)
    assert ids == [i for i, _ in serve.exact_topk(q, 5)]


def test_serve_or_plan_validates_like_backends(spark):
    from hybrid_vector_search_spark.queryvecs import query_vector
    from hybrid_vector_search_spark.serving import serve_or_plan

    corpus = R.load_corpus(spark, "/root/testdata/sf0.001")
    cs = serve_or_plan(corpus)
    with pytest.raises(ValidationError):
        cs.search(query_vector(7), {}, cs.n + 1)  # K > N
    with pytest.raises(ValidationError, match="empty"):
        serve_or_plan(corpus.filter(F.col("id") < 0))


def test_sharded_failure_drill_growth_and_invalidation(spark, serve):
    """The r14 verdict's failure drill: (a) a corpus grown past the
    per-shard budget at a PINNED shard count must refuse loudly at
    build time — never serve a half-built tier — while the byte-derived
    sizing simply picks a higher shard count for the same corpus;
    (b) a purge invalidator registered for the sharded tier's source
    drops the WHOLE tier (every shard), not a subset."""
    from hybrid_vector_search_spark.queryvecs import query_vector
    from hybrid_vector_search_spark.serving import (
        ShardedCorpusServe,
        _resident_footprint,
    )
    from hybrid_vector_search_spark.sources import purge as PU

    corpus = R.load_corpus(spark, "/root/testdata/sf0.001")
    _n, _d, need = _resident_footprint(corpus, "embedding")
    # per-shard budget that 2 pinned shards cannot satisfy (each shard
    # holds ~need/2 > need/8): loud refusal, no partial tier escapes
    with pytest.raises(ValidationError, match="GiB budget"):
        ShardedCorpusServe.from_corpus(
            corpus, shard_bytes=max(need // 8, 1), n_shards=2
        )
    # the derived path handles the same budget by raising shard count
    grown = ShardedCorpusServe.from_corpus(
        corpus, shard_bytes=max(need // 8, 1)
    )
    assert grown.n_shards >= 4
    assert grown.total_rows == len(serve.ids)
    q = query_vector(11)
    _assert_rows_match(
        grown.exact_topk(q, 10), serve.exact_topk(q, 10), "grown"
    )
    # invalidation drops every shard at once: the tier cache holds ONE
    # entry whose clear() releases all shard references
    cache = {"sf": grown}
    PU.register_resident_invalidator("/root/testdata/sf0.001", cache.clear)
    PU._invalidate_residents("/root/testdata/sf0.001")
    assert cache == {}


def test_ann_serve_or_plan_routes_and_parity(spark):
    """The ANN side of the costed dispatch: default budget routes the
    q=1 probe to the driver-local Arrow read, budget 0 (≡ probed lists
    grown past the node) to the partition-pruned plan; both answers
    identical; an unpersisted index can never route local."""
    from hybrid_vector_search_spark.plans.registry_hybrid_ann import (
        ANN_IVF_K,
        ANN_IVF_NPROBE,
        ANN_IVF_QSEED,
        _ann_ivf_fixed_index,
    )
    from hybrid_vector_search_spark.queryvecs import query_vector
    from hybrid_vector_search_spark.serving import ann_serve_or_plan

    sf = "/root/testdata/sf0.001"
    index = _ann_ivf_fixed_index(spark, sf, persist=True)
    q = query_vector(ANN_IVF_QSEED)

    local = ann_serve_or_plan(index, nprobe=ANN_IVF_NPROBE)
    assert local.route == "local_probe"
    ids_l, st_l = local.search(q, ANN_IVF_K)
    assert st_l["notes"].startswith("route=local_probe")
    assert st_l["scored_vectors"] > ANN_IVF_K  # probed rows, not top-K

    dist = ann_serve_or_plan(
        index, nprobe=ANN_IVF_NPROBE, max_probe_bytes=0
    )
    assert dist.route == "distributed"
    ids_d, st_d = dist.search(q, ANN_IVF_K)
    assert st_d["notes"].startswith("route=distributed")
    assert ids_l == ids_d
    for a, b in zip(st_l["scores"], st_d["scores"]):
        assert abs(a - b) < 1e-9

    unpersisted = _ann_ivf_fixed_index(spark, sf, persist=False)
    assert (
        ann_serve_or_plan(unpersisted, nprobe=ANN_IVF_NPROBE).route
        == "distributed"
    )


def test_get_backend_name_dispatch(spark):
    """Every strategy name lands on its backend through the one strategy
    registry, ``get_backend``: exact and pre_filter answer through the
    costed serve dispatch of the resident corpus, post_filter through
    the costed ANN dispatch of its index; unknown names refuse
    loudly."""
    from hybrid_vector_search_spark.operators.ivf import PostFilterBackend
    from hybrid_vector_search_spark.operators.strategies import (
        ExactBackend,
        PreFilterBackend,
        get_backend,
    )
    from hybrid_vector_search_spark.plans.registry_hybrid_ann import (
        _ann_ivf_fixed_index,
    )
    from hybrid_vector_search_spark.queryvecs import query_vector
    from hybrid_vector_search_spark.serving import CostedServe

    sf = "/root/testdata/sf0.001"
    corpus = R.load_corpus(spark, sf)
    index = _ann_ivf_fixed_index(spark, sf, persist=True)
    exact = get_backend("exact", corpus)
    assert isinstance(exact, ExactBackend)
    assert isinstance(exact._served(), CostedServe)
    pre = get_backend("pre_filter", corpus, exact.n)
    assert isinstance(pre, PreFilterBackend)
    assert pre._served() is exact._served()
    post = get_backend("post_filter", corpus, exact.n, index=index)
    assert isinstance(post, PostFilterBackend)
    assert post.search(query_vector(3), {}, 5)[1]["notes"].startswith(
        "route=local_probe"
    )

    rnd = get_backend("random", corpus, exact.n)
    ids, stats = rnd.search(query_vector(3), None, 5)
    assert len(ids) == 5 and stats["method"] == "random"
    with pytest.raises(ValidationError, match="unknown"):
        get_backend("hnsw", corpus, exact.n)


def test_costed_serve_one_mask_per_request(spark, serve, monkeypatch):
    """A filtered request evaluates the pandas mask once: the count in
    its stats comes from the same mask as its answer. ``like`` columns
    are lowercased once per tier, and the answers do not change."""
    from hybrid_vector_search_spark import serving
    from hybrid_vector_search_spark.functions import predicates
    from hybrid_vector_search_spark.queryvecs import query_vector

    # a new cache entry: a fresh memoized tier, with no memo from
    # earlier tests
    corpus = (
        R.load_corpus(spark, "/root/testdata/sf0.001")
        .filter(F.col("id") >= 0)
        .cache()
    )
    cs = serving.serve_or_plan(corpus)
    assert cs.route == "resident"
    tier = cs.tier
    filter_sets = (
        {"text": {"like": "the"}},
        {"label": {"in": [1, 2]}},
        {"text": {"like": "THE"}, "lang": {"eq": "en"}},
    )
    requests = list(enumerate(filter_sets * 2))
    expect = [  # each from a tier with no memo
        [i for i, _ in LocalCorpusServe(
            serve.ids, serve.mat, serve.meta, serve.schema
        ).prefilter_topk(query_vector(i), f, 10)]
        for i, f in requests
    ]
    n_allowed = [
        int(predicates.filters_mask_pandas(tier.schema, f, tier.meta).sum())
        for f in filter_sets
    ]
    calls = []
    real_mask = serving.filters_mask_pandas
    monkeypatch.setattr(
        serving,
        "filters_mask_pandas",
        lambda *a, **k: calls.append(1) or real_mask(*a, **k),
    )
    lowered = []
    real_hay = predicates._like_haystack
    monkeypatch.setattr(
        predicates,
        "_like_haystack",
        lambda *a: lowered.append(1) or real_hay(*a),
    )
    try:
        for i, f in requests:
            before = len(calls)
            ids, stats = cs.search(query_vector(i), f, 10)
            assert len(calls) - before == 1, f
            assert stats["scored_vectors"] == n_allowed[i % 3], f
            assert ids == expect[i], f
        assert len(lowered) == 1  # the text column, lowercased once
    finally:
        corpus.unpersist(blocking=True)


def test_embedding_filter_on_a_resident_dispatch_runs_the_plan(spark):
    """The tier does not hold the embedding column (it is the matrix):
    a resident dispatch answers a ``like`` filter on it from the Spark
    plan, with the ids, scores and count of the uncached twin, and says
    so in its route note."""
    from hybrid_vector_search_spark.operators.strategies import get_backend
    from hybrid_vector_search_spark.queryvecs import query_vector
    from hybrid_vector_search_spark.serving import serve_or_plan

    corpus = R.load_corpus(spark, "/root/testdata/sf0.001")
    cs = serve_or_plan(corpus)
    assert cs.route == "resident"
    filters = {"embedding": {"like": "0.01"}, "lang": {"eq": "en"}}
    ids, st = cs.search(query_vector(3), filters, 5)
    twin = corpus.filter(F.col("id").isNotNull())
    want_ids, want = get_backend("pre_filter", twin, cs.n).search(
        query_vector(3), filters, 5
    )
    assert st["notes"] == "route=distributed" and "notes" not in want
    assert ids == want_ids and st["scores"] == want["scores"]
    assert st["method"] == want["method"] == "pre_filter"
    assert st["scored_vectors"] == want["scored_vectors"]


def test_stats_keys_and_route_note_per_route(spark):
    """Each route of each dispatch returns one stats key set, and its
    ``notes`` lead with the route: the exact-tier dispatch on resident,
    sharded and distributed; the ANN dispatch on local_probe and
    distributed; the IVF post-filter ladder on both ranking routes,
    with the ranking's route ahead of the ladder's stop note."""
    from hybrid_vector_search_spark.operators.ivf import PostFilterBackend
    from hybrid_vector_search_spark.plans.registry_hybrid_ann import (
        ANN_IVF_NPROBE,
        _ann_ivf_fixed_index,
    )
    from hybrid_vector_search_spark.queryvecs import query_vector
    from hybrid_vector_search_spark.serving import (
        _resident_footprint,
        ann_serve_or_plan,
        serve_or_plan,
    )

    sf = "/root/testdata/sf0.001"
    corpus = R.load_corpus(spark, sf)
    _n, _d, need = _resident_footprint(corpus, "embedding")
    q, filters = query_vector(5), {"label": {"in": [1, 2]}}
    exact_keys = {"method", "K", "latency_ms", "scored_vectors", "scores", "notes"}
    for budgets, prefix in (
        ({}, "route=resident"),
        ({"shard_bytes": max(need // 2, 1)}, "route=sharded("),
        (
            {"shard_bytes": max(need // 4, 1), "max_total_bytes": max(need // 2, 1)},
            "route=distributed",
        ),
    ):
        cs = serve_or_plan(corpus, **budgets)
        for f in (filters, {}):
            _ids, st = cs.search(q, f, 10)
            assert set(st) == exact_keys, (prefix, set(st))
            assert st["notes"].startswith(prefix), st["notes"]

    persisted = _ann_ivf_fixed_index(spark, sf, persist=True)
    unpersisted = _ann_ivf_fixed_index(spark, sf, persist=False)
    ann_keys = {"method", "K", "latency_ms", "scores", "notes"}
    for index, budget, route, keys in (
        (persisted, None, "local_probe", ann_keys | {"scored_vectors"}),
        (persisted, 0, "distributed", ann_keys),
    ):
        cs = ann_serve_or_plan(
            index, nprobe=ANN_IVF_NPROBE, max_probe_bytes=budget
        )
        _ids, st = cs.search(q, 10)
        assert set(st) == keys, (route, set(st))
        assert st["notes"] == f"route={route}(nprobe={ANN_IVF_NPROBE})"

    ladder_keys = {
        "method", "K", "latency_ms", "scored_vectors", "lists_probed",
        "nprobe", "kth_at_stop", "bound_at_stop", "scores", "ladder_entry",
        "rungs_run", "notes",
    }
    n = corpus.count()
    for index, route in (
        (persisted, "local_probe"),
        (unpersisted, "distributed"),
    ):
        backend = PostFilterBackend(corpus, n, index=index, nprobe=ANN_IVF_NPROBE)
        _ids, st = backend.search(q, filters, 10)
        assert set(st) == ladder_keys, (route, set(st))
        assert st["notes"].startswith(
            f"route={route}(nprobe={ANN_IVF_NPROBE}); ladder_stop="
        ), st["notes"]


def test_route_notes_have_one_writer():
    """The literal ``route=`` is written by one package function — the
    serving helper every dispatch builds its note with — and the second
    name registry and the dispatch wrapper are gone."""
    import ast
    import pathlib
    import re

    import hybrid_vector_search_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    writers = set()

    def docstring_ids(tree):
        for node in ast.walk(tree):
            body = getattr(node, "body", None)
            if (
                isinstance(body, list)
                and body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
            ):
                yield id(body[0].value)

    def visit(node, owner, path, skip):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            owner = f"{path}:{node.name}"
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "route=" in node.value
            and id(node) not in skip
        ):
            writers.add(owner)
        for child in ast.iter_child_nodes(node):
            visit(child, owner, path, skip)

    for path in sorted(root.rglob("*.py")):
        text = path.read_text(encoding="utf-8")
        rel = path.relative_to(root).as_posix()
        assert not re.search(r"\b(get_serving_backend|serve_dispatch)\b", text), rel
        tree = ast.parse(text)
        visit(tree, None, rel, set(docstring_ids(tree)))
    assert writers == {"serving.py:route_note"}, writers


def test_costed_serve_build_measures_the_corpus_once(spark, monkeypatch):
    """``strategy_costed_serve`` measures the registry corpus's
    footprint once per build: the footprint depends on the rows alone,
    so the builder's own measurement and the three budgeted
    ``serve_or_plan`` dispatches share one aggregate per Spark cache
    entry (the shards of the sharded route are still measured each)."""
    import os

    from hybrid_vector_search_spark import serving
    from hybrid_vector_search_spark.session import cache_entry, clear_artifacts
    from hybrid_vector_search_spark.sources.loaders import DEFAULT_SF_DIR

    sf = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
    corpus = R.load_corpus(spark, sf)
    for kind in ("costed_serve", "serve_or_plan", "resident_footprint"):
        clear_artifacts(kind)
    measured = []
    measure = serving._measure_footprint
    monkeypatch.setattr(
        serving,
        "_measure_footprint",
        lambda df, col: measured.append(cache_entry(df)) or measure(df, col),
    )
    rows = R.QUERIES["strategy_costed_serve"](spark, sf).collect()
    assert {r["route"] for r in rows} == {"resident", "sharded", "distributed"}
    assert measured.count(cache_entry(corpus)) == 1
    assert None in measured  # per-shard measurements stay


def test_resident_answers_equal_a_float64_brute_force(
    spark, serve, monkeypatch
):
    """The tier holds the ``ARRAY<FLOAT>`` corpus as float32 and rescores
    in float64: on the 10 canonical templates its exact and pre_filter
    answers equal a float64 brute force over the corpus — ids, order
    and scores — on the gather and the full-scan branch, for the
    float64 query and its float32 form (what the strategies pass)."""
    import numpy as np

    from hybrid_vector_search_spark.functions.predicates import (
        compile_filters,
    )
    from hybrid_vector_search_spark.functions.vector import ensure_unit_l2
    from hybrid_vector_search_spark.operators.topk import topk_positions
    from hybrid_vector_search_spark.plans.canonical import CANONICAL_QUERIES
    from hybrid_vector_search_spark.queryvecs import query_vector

    assert serve.mat.dtype == np.float32
    corpus = R.load_corpus(spark, SF0001)
    pdf = corpus.select("id", "embedding").toPandas()
    ids = pdf["id"].to_numpy(dtype=np.int64)
    emb = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)

    def brute(q, rows, k):
        scores = emb[rows] @ np.asarray(q, dtype=np.float64)
        top = topk_positions(ids[rows], scores, k)
        return ids[rows][top].tolist(), scores[top]

    def check(got, want):
        assert [i for i, _ in got] == want[0]
        np.testing.assert_allclose(
            [s for _, s in got], want[1], rtol=0, atol=1e-12
        )

    everyone = np.arange(len(ids))
    for cq in CANONICAL_QUERIES:
        allowed = {
            r["id"]
            for r in corpus.filter(compile_filters(corpus.schema, cq.filters))
            .select("id")
            .collect()
        }
        rows = np.flatnonzero(np.isin(ids, list(allowed)))
        for q in (query_vector(cq.seed), ensure_unit_l2(query_vector(cq.seed))):
            check(serve.exact_topk(q, cq.k), brute(q, everyone, cq.k))
            for frac in (0.0, 1.0):  # full scan, then gather
                monkeypatch.setattr(
                    LocalCorpusServe, "PREFILTER_GATHER_FRAC", frac
                )
                check(
                    serve.prefilter_topk(q, cq.filters, cq.k),
                    brute(q, rows, cq.k),
                )


def test_warm_dispatch_confirms_its_cache_entry_in_two_calls(
    spark, monkeypatch
):
    """A warm search finds its memoized dispatch with two py4j round
    trips (is the cache entry's RDD still persistent?), not a cache
    manager lookup; unpersisting and caching the same handle again is
    a new entry, so the next search gets the new entry's tier."""
    from hybrid_vector_search_spark import serving
    from hybrid_vector_search_spark.operators.strategies import get_backend
    from hybrid_vector_search_spark.queryvecs import query_vector

    corpus = (
        R.load_corpus(spark, SF0001)
        .filter(F.col("id") >= 2)
        .cache()
    )
    backend = get_backend("exact", corpus, corpus.count())
    first = backend._served()
    assert first.route == "resident"
    client = spark.sparkContext._gateway._gateway_client
    # py4j sends one delete command for each Java proxy the garbage
    # collector frees: collect the garbage of earlier tests now, so no
    # cycle collection falls inside the counted window
    gc.collect()
    sent = []
    real = client.send_command
    monkeypatch.setattr(
        client,
        "send_command",
        lambda *a, **kw: sent.append(a) or real(*a, **kw),
    )
    assert backend._served() is first
    monkeypatch.undo()
    assert len(sent) == 2, sent
    corpus.unpersist(blocking=True)
    corpus.cache()
    second = backend._served()
    assert second is not first and second.tier is not first.tier
    assert second is serving.serve_or_plan(corpus)
    got, stats = backend.search(query_vector(5), None, 5)
    assert stats["notes"] == "route=resident"
    assert got == [i for i, _ in second.tier.exact_topk(query_vector(5), 5)]
    corpus.unpersist()
