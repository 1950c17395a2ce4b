"""Fast checks of the benchmark's own arithmetic, without Spark:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from hybrid_vector_search_spark.sources import loaders
from perfbench import gen, metrics, oracle
from perfbench.trace import Tracer, _union_ms
from perfbench.workloads import Run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def tiny(seed=3, n=400, dim=16, clusters=6):
    emb, cluster = gen.embeddings(seed, n, clusters, dim)
    return emb, cluster, gen.centroids(seed, clusters, dim)


def test_generator_is_seeded_unit_and_clustered():
    a, ca, cents = tiny()
    b, cb, _ = tiny()
    assert a.dtype == np.float32 and a.shape == (400, 16)
    assert np.array_equal(a, b) and np.array_equal(ca, cb)
    assert not np.array_equal(a, tiny(seed=4)[0])
    assert np.allclose(np.linalg.norm(a.astype(np.float64), axis=1), 1.0, atol=1e-6)
    # rows sit next to their planted centroid
    own = np.einsum("ij,ij->i", a.astype(np.float64), cents[ca])
    assert own.min() > 0.8


SF_DIR = loaders.DEFAULT_SF_DIR


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="sf0.1 test data absent")
def test_corpus_cache_round_trip_keeps_template_selectivity(tmp_path):
    from hybrid_vector_search_spark.plans.canonical import CANONICAL_QUERIES

    built = gen.build_corpus(0, SF_DIR, str(tmp_path), 3000, 8)
    again = gen.build_corpus(0, SF_DIR, str(tmp_path), 3000, 8)  # from the cache
    assert np.array_equal(built.emb, again.emb)
    assert built.meta.equals(again.meta) and built.checksum == again.checksum
    assert sorted(os.listdir(built.path)) == [
        "_PERFBENCH_CORPUS_OK", "documents.parquet", "embeddings.parquet"]
    # every canonical template keeps a non-empty, selective-to-broad universe
    share = [oracle.filter_mask(built.meta, q.filters).mean() for q in CANONICAL_QUERIES]
    assert all(s > 0 for s in share) and share[-1] == 1.0


def test_query_stream_and_batches_are_seeded():
    _, _, cents = tiny()
    q1, g1 = gen.query_vector(5, 2, cents)
    q2, g2 = gen.query_vector(5, 2, cents)
    assert np.array_equal(q1, q2) and g1 == g2
    assert not np.array_equal(q1, gen.query_vector(5, 2, cents, warm=True)[0])
    live = np.arange(100)
    b1 = gen.upsert_batch(1, 0, 1000, live, cents, 100, 4, 3, 2)
    b2 = gen.upsert_batch(1, 0, 1000, live, cents, 100, 4, 3, 2)
    assert np.array_equal(b1.vectors, b2.vectors)
    assert list(b1.insert_ids) == [1000, 1001, 1002, 1003]
    assert not set(b1.replace_ids) & set(b1.delete_ids)
    orders = [gen.method_order(1, b, ("a", "b", "c")) for b in range(6)]
    assert all(sorted(o) == ["a", "b", "c"] for o in orders)
    assert len({tuple(o) for o in orders}) > 1
    assert orders[2] == gen.method_order(1, 2, ("a", "b", "c"))


def test_exact_topk_matches_brute_force_order():
    emb, _, cents = tiny()
    q = gen.query_vector(1, 0, cents)[0]
    ids = np.arange(len(emb)) * 7
    sc = oracle.scores_f64(emb, np.arange(len(emb)), q)
    brute = sorted(zip(ids.tolist(), sc.tolist()), key=lambda t: (-t[1], t[0]))[:10]
    assert oracle.exact_topk(ids, sc, 10) == brute


def test_same_topk_accepts_exact_and_tie_swaps_and_rejects_wrong_ids():
    truth = [(1, 0.9), (2, 0.8), (3, 0.8), (4, 0.5)]
    score_of = {1: 0.9, 2: 0.8, 3: 0.8, 4: 0.5, 5: 0.4}
    assert oracle.same_topk([1, 2, 3, 4], truth, score_of) is None
    assert oracle.same_topk([1, 3, 2, 4], truth, score_of) is None  # exact tie
    assert oracle.same_topk([1, 2, 3, 5], truth, score_of) is not None
    assert oracle.same_topk([1, 2, 3, 99], truth, score_of) is not None
    assert oracle.same_topk([1, 2, 3], truth, score_of) is not None
    assert oracle.same_topk([1, 2, 2, 4], truth, score_of) is not None


def test_recall_arithmetic():
    truth = [(i, 1.0 - i / 10) for i in range(10)]
    assert oracle.recall(list(range(10)), truth) == 1.0
    assert oracle.recall([0, 1, 2, 3, 4, 5, 6, 97, 98, 99], truth) == pytest.approx(0.7)
    assert oracle.recall([], []) == 1.0


def test_filter_mask_ops():
    meta = pd.DataFrame({
        "label": [0, 1, 2, 7, 7],
        "lang": ["zh", "de", None, "es", "fr"],
        "n_chars": [100, 400, 600, 50, 700],
        "text": ["Spark a", "b", "x spark", None, "SPARK"],
    })
    m = oracle.filter_mask
    assert m(meta, {}).tolist() == [True] * 5
    assert m(meta, {"label": {"eq": 7}}).tolist() == [False, False, False, True, True]
    assert m(meta, {"label": {"in": [1, 2]}}).tolist() == [False, True, True, False, False]
    assert m(meta, {"lang": {"eq": "de"}, "n_chars": {"between": [100, 400]}}).tolist() == [
        False, True, False, False, False]
    assert m(meta, {"lang": {"in": ["zh", "es"]}, "n_chars": {"le": 100}}).tolist() == [
        True, False, False, True, False]
    assert m(meta, {"text": {"like": "spark"}, "n_chars": {"ge": 600}}).tolist() == [
        False, False, True, False, True]


def test_injected_wrong_answer_counts_as_failure(tmp_path):
    run = Run("hybrid_point", 1, 1.0, False, ROOT, str(tmp_path), "", 0.0)
    truth = [(1, 0.9), (2, 0.5)]
    score_of = {1: 0.9, 2: 0.5, 3: 0.1}

    def check(got):
        return oracle.same_topk(got, truth, score_of)

    run.op("prefilter", lambda: [1, 2], check)
    run.op("prefilter", lambda: [1, 3], check)  # injected wrong id
    run.op("serve", lambda: 1 / 0, check)  # an exception is a failure too
    assert (run.ledger.attempted, run.ledger.failed) == (3, 2)
    assert [o["ok"] for o in run.ops] == [True, False, False]
    assert metrics.failed_frac(run.ledger.attempted, run.ledger.failed) == pytest.approx(2 / 3)
    assert run.setup_s is not None


def test_percentiles_and_summary():
    assert metrics.percentile([1, 2, 3, 4, 5], 50) == 3
    assert metrics.percentile(list(range(11)), 90) == pytest.approx(9.0)
    assert metrics.tail_percentile(10) == 50
    assert metrics.tail_percentile(100) == 90
    ops = [{"kind": k, "ms": float(i + 1), "ok": True}
           for i, k in enumerate(["prefilter", "postfilter", "serve"] * 4)]
    ops.append({"kind": "serve", "ms": 1e9, "ok": False})  # failed: not timed
    summ = metrics.kind_summary(ops)
    assert summ["serve"]["n"] == 4 and summ["serve"]["p50_ms"] == pytest.approx(7.5)
    e2e = metrics.end_to_end("hybrid_point", ops, 12.5, 900.0)
    assert set(e2e) == {m[0] for m in metrics.END_TO_END}
    assert e2e["p50_ms"] == pytest.approx(metrics.geomean([5.5, 6.5, 7.5]))
    # one median per (kind, variant), then their geometric mean
    typed = [{"kind": "drain", "variant": v, "ms": ms, "ok": True}
             for v, ms in [("a", 1.0), ("a", 3.0), ("b", 8.0)]]
    assert metrics.typical_ms(typed) == pytest.approx(4.0)


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(metrics.KINDS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in metrics.PER_LAYER]
    line = metrics.result_line(True, 3, 0, {"setup_s": 1.0, "p50_ms": 2.0,
                                            "peak_rss_mb": 4.0})
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]}


def test_frame_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"], "z": [0.1, 0.2]})
    b = a.iloc[::-1][["z", "y", "x"]]
    assert oracle.frame_digest(a) == oracle.frame_digest(b)
    c = a.copy()
    c.loc[0, "x"] = 3
    assert oracle.frame_digest(a) != oracle.frame_digest(c)


class _Layer:
    @classmethod
    def outer(cls, x):
        return cls.inner(x) + 1

    @staticmethod
    def inner(x):
        return x * 2


def test_tracer_spans_nest_per_op():
    tr = Tracer()
    tr.wrap(_Layer, "outer", "outer")
    tr.wrap(_Layer, "inner", "inner")
    assert _Layer.outer(1) == 3 and tr.spans == []  # inactive: no spans
    tr.active, tr.op_id = True, 7
    with tr.span("op.test"):
        assert _Layer.outer(2) == 5
    tr.active = False
    assert [(s["name"], s["op"], s["parent"]) for s in tr.spans] == [
        ("op.test", 7, None), ("outer", 7, 0), ("inner", 7, 1)]
    assert len(tr.per_op_ms("inner", {7, 8})) == 2


def test_union_of_job_intervals():
    assert _union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert _union_ms([]) == 0
