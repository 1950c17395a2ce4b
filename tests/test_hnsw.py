"""HNSW operator tests: graph recall vs the exact scan, determinism,
distributed merge, backend ladder contract, K6 chain placement."""

import numpy as np
import pytest

from hybrid_vector_search_spark.operators.hnsw import (
    HNSWBackend,
    HNSWGraph,
    hnsw_topk,
)


@pytest.fixture(scope="module")
def unit_vecs():
    rng = np.random.RandomState(11)
    vecs = rng.randn(600, 32)
    return vecs / np.linalg.norm(vecs, axis=1, keepdims=True)


def test_graph_recall_vs_exact(unit_vecs):
    ids = np.arange(len(unit_vecs), dtype=np.int64)
    g = HNSWGraph(ids, unit_vecs)
    rng = np.random.RandomState(12)
    recalls = []
    for _ in range(10):
        q = rng.randn(32)
        q /= np.linalg.norm(q)
        exact = set(np.argsort(-(unit_vecs @ q), kind="stable")[:10])
        got, scores = g.search(q, 10, ef_search=64)
        assert list(scores) == sorted(scores, reverse=True)
        recalls.append(len(set(got) & exact) / 10)
    assert np.mean(recalls) >= 0.9  # isotropic worst case, ef=64


def test_graph_deterministic(unit_vecs):
    ids = np.arange(len(unit_vecs), dtype=np.int64)
    q = unit_vecs[7]
    a = HNSWGraph(ids, unit_vecs).search(q, 5)
    b = HNSWGraph(ids, unit_vecs).search(q, 5)
    assert list(a[0]) == list(b[0])
    assert a[0][0] == 7  # self-match: the planted exact neighbor wins


def test_graph_empty_and_tiny():
    g = HNSWGraph(np.empty(0, np.int64), np.empty((0, 4)))
    ids, scores = g.search([1.0, 0, 0, 0], 3)
    assert len(ids) == 0
    g1 = HNSWGraph(np.array([9], dtype=np.int64), np.eye(4)[:1])
    ids, _ = g1.search([1.0, 0, 0, 0], 3)
    assert list(ids) == [9]


def test_hnsw_topk_distributed_merge(spark, unit_vecs):
    """Per-partition top-k rows merge to the global winner set: with a
    planted dominant neighbor, the merged top-1 must find it no matter
    which partition it lands in."""
    q = np.zeros(32)
    q[0] = 1.0
    vecs = unit_vecs.copy()
    vecs[123] = q  # exact match planted
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, embedding array<float>",
    ).repartition(8)
    out = hnsw_topk(emb, q, 5).collect()
    assert len(out) == 5
    assert out[0].id == 123
    assert out[0].score == pytest.approx(1.0, abs=1e-6)
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True)


def test_backend_ladder_and_stats(spark, unit_vecs):
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], i % 3) for i, v in enumerate(unit_vecs)],
        "id long, embedding array<float>, label int",
    )
    backend = HNSWBackend(emb, k_ladder=(50, 200))
    q = unit_vecs[4]
    ids, stats = backend.search(q, {"label": {"eq": 1}}, 5)
    assert len(ids) == 5
    assert stats["method"] == "post_filter_hnsw"
    assert stats["scored_vectors"] in (50, 200)
    assert "ladder_stop=" in stats["notes"]
    # filters respected: every returned id has label 1
    got_labels = {r.label for r in emb.filter(emb.id.isin(ids)).collect()}
    assert got_labels == {1}


def test_k6_chain_lands_hnsw_when_ivf_skipped(spark, unit_vecs):
    from hybrid_vector_search_spark.operators.strategies import (
        get_index_params,
        load_corpus_index,
    )

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(unit_vecs[:50])],
        "id long, embedding array<float>",
    )
    backend = load_corpus_index(emb, prefer_ivf=False)
    assert backend.name == "post_filter_hnsw"
    assert "to hnsw" in backend.fallback_note
    params = get_index_params(backend)
    assert params["type"] == "hnsw" and params["ef_search"] == 64


def test_registry_hnsw_query_matches_exact(spark):
    """The registered degenerate-exact form: persisted-graph search with
    exhaustive ef equals the exact top-K — the same equality the driver's
    DuckDB oracle now hash-checks."""
    import numpy as np

    from hybrid_vector_search_spark.plans.registry import ORACLES, QUERIES
    from hybrid_vector_search_spark.queryvecs import query_vector
    from hybrid_vector_search_spark.sources.loaders import load_table

    out = QUERIES["ann_hnsw_topk"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert len(rows) == 10
    assert [f.name for f in out.schema.fields] == ["id", "score"]
    assert "ann_hnsw_topk" in ORACLES  # closed in r4: full value-hash check

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").collect()
    q = query_vector(53)
    scored = sorted(
        ((float(np.dot(np.asarray(r.embedding, float), q)), int(r.vec_id))
         for r in emb),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    assert [r.id for r in rows] == [i for _, i in scored]
    for r, (s, _) in zip(rows, scored):
        assert r.score == pytest.approx(round(s, 6), abs=1e-6)


def test_exhaustive_ef_degenerates_to_exact(unit_vecs):
    """ef ≥ n ⇒ the beam retains every node ⇒ search is the exact scan."""
    ids = np.arange(len(unit_vecs), dtype=np.int64)
    g = HNSWGraph(ids, unit_vecs)
    rng = np.random.RandomState(21)
    q = rng.randn(32)
    q /= np.linalg.norm(q)
    got, scores = g.search(q, 10, ef_search=len(unit_vecs))
    exact = np.argsort(-(unit_vecs @ q), kind="stable")[:10]
    assert list(got) == list(exact)
    assert np.allclose(scores, (unit_vecs @ q)[exact])


def test_persisted_index_no_rebuild(spark, unit_vecs, tmp_path):
    """HNSWIndex: searching the persisted artifact reconstructs graphs
    via from_parts — identical results to build-at-search, with ZERO
    insert work on the driver-side reconstruction path."""
    import hybrid_vector_search_spark.operators.hnsw as H
    from hybrid_vector_search_spark.operators.hnsw import HNSWIndex

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(unit_vecs)],
        "id long, embedding array<float>",
    )
    path = str(tmp_path / "hnsw_idx.parquet")
    index = HNSWIndex.build(emb, path)
    q = unit_vecs[42]
    persisted = index.search_plan(q, 7).collect()
    fresh = hnsw_topk(emb, q, 7).collect()
    assert [(r.id, round(r.score, 9)) for r in persisted] == [
        (r.id, round(r.score, 9)) for r in fresh
    ]
    # reconstruction never inserts: round-trip one partition's rows
    # through from_parts locally and watch the counter
    pdf = spark.read.parquet(path).filter("part = 0").toPandas()
    pdf = pdf.sort_values("node_idx")
    adjacency = []
    for i, layers in enumerate(pdf["adj"].tolist()):
        for lay, neigh in enumerate(layers):
            while len(adjacency) <= lay:
                adjacency.append({})
            adjacency[lay][i] = [int(x) for x in neigh]
    before = H.INSERT_CALLS
    g = HNSWGraph.from_parts(
        pdf["id"].to_numpy(np.int64),
        np.vstack(pdf["vec"].to_numpy()),
        adjacency,
        int(pdf["entry_idx"].iloc[0]),
        int(pdf["entry_level"].iloc[0]),
    )
    ids, _ = g.search(q, 3)
    assert len(ids) == 3
    assert H.INSERT_CALLS == before  # zero graph-construction work


def test_hnsw_costed_ladder_ab(spark, unit_vecs):
    """Costed vs fixed ladder A/B on the HNSW backend (r6 VERDICT #7):
    strict filter → the costed entry clamps straight to the final rung
    (rungs_run 1 vs the fixed regime's 3) with bit-identical answers
    (the replay prefixes are nested, and the fixed ladder exhausts);
    broad filter → entry clamps to the first rung, fast path untouched."""
    emb = spark.createDataFrame(
        [
            (i, [float(x) for x in v], i % 3, i % 60)
            for i, v in enumerate(unit_vecs)
        ],
        "id long, embedding array<float>, label int, grp int",
    )
    q = unit_vecs[4]
    fixed = HNSWBackend(emb)
    costed = HNSWBackend(emb, costed=True, index=fixed.index)

    strict = {"grp": {"eq": 5}}  # 10 of 600 rows
    ids_f, st_f = fixed.search(q, strict, 10)
    ids_c, st_c = costed.search(q, strict, 10)
    assert st_f["ladder_entry"] == 200 and st_f["rungs_run"] == 3
    assert st_c["ladder_entry"] == 1000 and st_c["rungs_run"] == 1
    assert ids_f == ids_c and st_f["scores"] == st_c["scores"]
    assert 0 < st_c["selectivity_est"] < 0.05

    broad = {"label": {"eq": 1}}  # 200 of 600 rows
    ids_fb, st_fb = fixed.search(q, broad, 10)
    ids_cb, st_cb = costed.search(q, broad, 10)
    assert st_cb["ladder_entry"] == 200  # clamped to the first rung
    assert st_fb["rungs_run"] == st_cb["rungs_run"]
    assert ids_fb == ids_cb and st_fb["scores"] == st_cb["scores"]


def test_recall_sweep_monotone_work_axis(spark):
    """The oracle-checked beam sweep: visited-set size grows with ef
    (more beam = more expansions) and recall stays in [0,1], ending at
    a high-ef rung at least as good as the lowest."""
    from hybrid_vector_search_spark.plans import registry as R

    rows = R.QUERIES["metrics_hnsw_recall_sweep"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [r["ef"] for r in rows] == [10, 16, 32, 64, 128]
    vis = [r["n_visited"] for r in rows]
    assert vis == sorted(vis)
    recs = [r["recall"] for r in rows]
    assert all(0.0 <= r <= 1.0 for r in recs)
    assert recs[-1] >= recs[0]
    assert len(set(recs)) > 1  # genuinely approximate: the curve moves


def test_purge_nodes_rebuilds_affected_partitions(spark, unit_vecs, tmp_path):
    """Erasure on the persisted graph (r14): subject nodes gone from
    storage, NO dangling adjacency/entry references anywhere (dropping
    rows without the partition-local rebuild would leave both), search
    still answers and never returns a purged id, and partitions without
    a subject node are carried through with their row content
    untouched."""
    from hybrid_vector_search_spark.operators.hnsw import HNSWIndex

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(unit_vecs)],
        "id long, embedding array<float>",
    )
    path = str(tmp_path / "hnsw_idx.parquet")
    index = HNSWIndex.build(emb, path)
    before = spark.read.parquet(path)
    subjects = [i for i in range(len(unit_vecs)) if i % 50 == 13]
    touched_parts = {
        r["part"]
        for r in before.filter(before.id.isin(subjects))
        .select("part")
        .distinct()
        .collect()
    }
    untouched_before = {
        (r["part"], r["node_idx"], r["id"], tuple(r["adj"][0]))
        for r in before.collect()
        if r["part"] not in touched_parts
    }
    audit = index.purge_nodes(subjects)
    assert audit["purged_rows"] == len(subjects)
    assert audit["rows_after"] == len(unit_vecs) - len(subjects)
    assert audit["residual_nodes"] == 0
    assert audit["bad_adjacency_refs"] == 0
    assert audit["bad_entry_refs"] == 0
    assert audit["parts_rebuilt"] == len(touched_parts) > 0
    after = spark.read.parquet(path)
    untouched_after = {
        (r["part"], r["node_idx"], r["id"], tuple(r["adj"][0]))
        for r in after.collect()
        if r["part"] not in touched_parts
    }
    assert untouched_after == untouched_before
    # the index still SERVES, and never a purged id
    got = [r["id"] for r in index.search_plan(unit_vecs[42], 7).collect()]
    assert len(got) == 7
    assert not set(got) & set(subjects)
    # idempotent: purging the same subjects again is a no-op audit
    again = index.purge_nodes(subjects)
    assert again["purged_rows"] == 0
    assert again["parts_rebuilt"] == 0
    assert again["rows_before"] == audit["rows_after"]


def _forge_mid_swap(path, stage):
    """The shared swap's marker for a swap of ``path`` from ``stage``
    (scratch.swap_directory), as a crash would leave it."""
    import json

    from hybrid_vector_search_spark.scratch import pending_marker

    with open(pending_marker(path), "w") as f:
        json.dump({"stage": stage, "into": path, "old": path + ".old-x"}, f)
    return path + ".old-x"


def test_purge_swap_crash_recovery(spark, unit_vecs, tmp_path):
    """Every interruption point of the purge's staged swap recovers to
    a consistent index: a committed-but-unpublished swap finishes, an
    unpublished stage discards, leftovers sweep."""
    import os
    import shutil

    from hybrid_vector_search_spark.operators.hnsw import HNSWIndex
    from hybrid_vector_search_spark.scratch import pending_marker, recover_swap

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(unit_vecs[:100])],
        "id long, embedding array<float>",
    )
    path = str(tmp_path / "idx.parquet")
    HNSWIndex.build(emb, path)
    stage = path + ".stage-x"

    # crash point A: stage written, no marker, index untouched → the
    # stage is torn and is discarded (nothing was pending)
    shutil.copytree(path, stage)
    assert not recover_swap(path)
    assert os.path.isdir(path) and not os.path.isdir(stage)

    # crash point B: old moved away, stage not yet published → finish
    shutil.copytree(path, stage)
    trash = _forge_mid_swap(path, stage)
    os.rename(path, trash)
    assert recover_swap(path)
    assert os.path.isdir(path)
    assert not os.path.isdir(stage) and not os.path.isdir(trash)
    assert spark.read.parquet(path).count() == 100

    # crash point C: published, trash left behind → sweep
    shutil.copytree(path, _forge_mid_swap(path, stage))
    assert recover_swap(path)
    assert not os.path.isdir(trash)
    assert not os.path.exists(pending_marker(path))
    # quiescent: nothing to do
    assert not recover_swap(path)


def test_purge_crash_self_heals_on_next_use(spark, unit_vecs, tmp_path):
    """Reads and retried purges must not require a MANUAL recovery
    call: search_plan and purge_nodes recover the shared swap
    themselves, so a crash between the two swap renames (index dir
    missing, stage complete) heals on the next use (r14 advice)."""
    import os

    from hybrid_vector_search_spark.operators.hnsw import HNSWIndex

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(unit_vecs[:100])],
        "id long, embedding array<float>",
    )
    path = str(tmp_path / "idx.parquet")
    index = HNSWIndex.build(emb, path)
    # simulate the mid-swap crash: stage committed, index dir gone
    _forge_mid_swap(path, path + ".stage-x")
    os.rename(path, path + ".stage-x")
    got = [r["id"] for r in index.search_plan(unit_vecs[3], 5).collect()]
    assert len(got) == 5  # healed, no manual recovery call
    assert os.path.isdir(path)
    # same for a retried purge after the crash
    _forge_mid_swap(path, path + ".stage-x")
    os.rename(path, path + ".stage-x")
    audit = index.purge_nodes([0])
    assert audit["purged_rows"] == 1
    assert audit["residual_nodes"] == 0
