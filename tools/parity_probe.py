"""Measure the hybrid engine at the REFERENCE'S OWN corpus shape.

Every round's bench caveat is the same: the driver's sf0.1 corpus is
2,000×64-d while the reference's numbers (BASELINE.md) are measured on
N=150,346 × D=384. This probe removes the caveat by DERIVING a corpus of
exactly that shape from the driver testdata (no new synthetic data:
sf0.1 embeddings are copy-shifted ×76 and dimension-tiled ×6 with a
1/√6 rescale so vectors stay unit-norm; documents metadata tiles with
the same id shift) and running the reference's canonical 10-query
workload on it:

* ``exact``  — per-query full-scan float64 scoring + top-10
  (reference: ~136 ms/query mean);
* ``pre_filter`` — per-query filter → score survivors → top-10
  (reference: 54.4 ms/query mean, 0.544 s for the 10);
* ``batch`` — all 10 queries as ONE set-at-a-time Spark job (the plan
  the reference's per-query loop cannot express).

Same measurement rules as the reference harness: the corpus is resident
in memory before timing (its loader holds the vector matrix in RAM;
here ``.cache()``), plans are prepared once, and per-query figures are
min-of-N execution latency. r10: each row is additionally blended
toward one of PLANT_C planted unit centroids (α=0.95, re-normalized) —
latency is unchanged (cost is shape-determined) but scores are no
longer degenerate ties, which is what lets tools/parity_recall.py
measure the reference's recall trade-off on this corpus. Correctness
is still carried by the sf0.01 DuckDB oracle gate, not by this probe.

Usage: python tools/parity_probe.py   (writes BASELINE_PARITY.md)
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from hybrid_vector_search_spark.session import get_spark  # noqa: E402

BASE = "/root/testdata/sf0.1"
TARGET_N = 150_346
TARGET_D = 384
COPIES = 76  # 76 × 2,000 = 152,000 ≥ TARGET_N
TILE = TARGET_D // 64
ID_SHIFT = 10_000_000
RUNS = int(os.environ.get("SPARK_GRAFT_PARITY_RUNS", "5"))

#: planted cluster structure (r10): the v1 corpus was 76 bit-identical
#: copies of each sf0.1 vector — fine for latency (cost is shape-
#: determined), degenerate for RECALL (massive exact score ties made
#: ANN recall tie-noise). v2 blends each row toward one of PLANT_C
#: deterministic unit centroids: v = normalize(α·centroid_{id mod C} +
#: β·tiled_noise), α²+β²=1 — the standard clustered-ANN testbed, and
#: the reason IVF recall at the parity shape now measures the same
#: pre/post-filter tension the reference's real-embedding corpus shows
#: (isotropic data gives ~chance recall at any nprobe — r1 verdict).
#: PLANT_C = default_nlist(150,346) so planted clusters ≡ IVF lists.
PLANT_C = 387
PLANT_SEED0 = 5000
PLANT_ALPHA = 0.95
PLANT_BETA = (1.0 - PLANT_ALPHA**2) ** 0.5


def planted_centroid(g: int):
    from hybrid_vector_search_spark.queryvecs import query_vector

    return query_vector(PLANT_SEED0 + int(g), TARGET_D)


def parity_query_vector(seed: int, dim: int = TARGET_D):
    """Cluster-aligned query: same α/β blend as the corpus rows, so a
    query's true neighborhood concentrates in one planted cluster —
    what real embedding queries do and isotropic seeds cannot."""
    import numpy as np

    from hybrid_vector_search_spark.queryvecs import query_vector

    v = PLANT_ALPHA * planted_centroid(seed % PLANT_C) + (
        PLANT_BETA * query_vector(seed, dim)
    )
    return v / np.linalg.norm(v)


def build_parity_corpus(spark):
    """Derive (and cache on scratch parquet) the 150,346×384 corpus."""
    import tempfile

    out = os.path.join(tempfile.gettempdir(), "hvs_parity_corpus.parquet")
    marker = os.path.join(out, "_PARITY_OK_v2")
    if not os.path.exists(marker):
        emb = spark.read.parquet(os.path.join(BASE, "embeddings.parquet"))
        docs = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
        scale = 1.0 / (TILE ** 0.5)
        parts = []
        for i in range(COPIES):
            e = emb.withColumn("vec_id", F.col("vec_id") + i * ID_SHIFT)
            d = docs.withColumn("doc_id", F.col("doc_id") + i * ID_SHIFT)
            parts.append(
                e.join(d, e.vec_id == d.doc_id, "left").select(
                    F.col("vec_id").alias("id"),
                    F.flatten(
                        F.array_repeat(
                            F.transform(
                                "embedding",
                                lambda x: (x * F.lit(scale)).cast("float"),
                            ),
                            TILE,
                        )
                    ).alias("embedding"),
                    "label",
                    "text",
                    "lang",
                    "source",
                    "n_chars",
                )
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        # ordinal cut to EXACTLY the reference N, layout-independent
        from pyspark.sql import Window

        ranked = df.withColumn(
            "__rn",
            F.row_number().over(Window.orderBy("id")),
        )
        cut = ranked.filter(F.col("__rn") <= TARGET_N).drop("__rn")
        # plant the cluster structure (see PLANT_* above): broadcast the
        # tiny centroid table, blend, re-normalize — all JVM-side
        from hybrid_vector_search_spark.functions.vector import (
            l2_normalize_col,
        )

        centdf = spark.createDataFrame(
            [
                (g, [float(x) for x in planted_centroid(g)])
                for g in range(PLANT_C)
            ],
            "g int, cent array<double>",
        )
        blended = (
            # spread rows across cores BEFORE the blend: the window
            # above collapses to one partition, and the nested
            # higher-order blend expression evaluates INTERPRETED
            # (ArrayAggregate has no codegen) — single-task it takes
            # ~10 min for 150k×384, repartitioned it's seconds
            cut.repartition(32)
            .withColumn("g", (F.col("id") % PLANT_C).cast("int"))
            .join(F.broadcast(centdf), "g")
            .withColumn(
                "embedding",
                F.transform(
                    l2_normalize_col(
                        F.zip_with(
                            "cent",
                            "embedding",
                            lambda c, x: c * F.lit(PLANT_ALPHA)
                            + x.cast("double") * F.lit(PLANT_BETA),
                        )
                    ),
                    lambda x: x.cast("float"),
                ),
            )
            .select(
                "id", "embedding", "label", "text", "lang", "source",
                "n_chars",
            )
        )
        blended.write.mode("overwrite").parquet(out)
        Path(marker).touch()
    return spark.read.parquet(out)


def recall_lines() -> list[str]:
    """Fold the parity-shape recall artifact (tools/parity_recall.py →
    fixtures/parity_results.jsonl) into the report — BASELINE.md's
    headline trade-off, reproduced at the reference's own shape."""
    import json
    import statistics

    from hybrid_vector_search_spark.plans.canonical import CANONICAL_QUERIES

    p = REPO / "fixtures" / "parity_results.jsonl"
    if not p.exists():
        return [
            "",
            "Recall trade-off table pending: run tools/parity_recall.py.",
        ]
    rows = [json.loads(l) for l in p.read_text().splitlines() if l.strip()]
    by: dict[str, dict[int, dict]] = {}
    for r in rows:
        by.setdefault(r["method"], {})[r["qid"]] = r
    label = {cq.qid: cq.label for cq in CANONICAL_QUERIES}
    ref = {
        "exact": "1.0 (ground truth)",
        "pre_filter": "0.99 (nine 1.0, one 0.9)",
        "post_filter": "0.73 (1.0 broad, 0.0–0.3 strict)",
        "random": "0.0",
    }
    out = [
        "",
        "## Recall trade-off at the parity shape",
        "",
        "The reference's headline result (BASELINE.md): pre_filter holds",
        "near-perfect recall with latency ∝ selectivity, post_filter's",
        "recall is BIMODAL — the IVF candidate ladder exhausts before K",
        "survivors pass a strict predicate. Reproduced here on the same",
        "150,346×384 shape through the engine's own four strategies and",
        "14-field harness (committed: fixtures/parity_results.jsonl,",
        "generated by tools/parity_recall.py; recall measured against",
        "the exact oracle over the same filtered universe, quirk-Q6",
        "denominator).",
        "",
        "| method | mean recall@10 (here) | per-qid recalls (qid 1→10) |"
        " reference (BASELINE.md) |",
        "|---|---|---|---|",
    ]
    empty_qids = sorted(
        {
            r["qid"]
            for r in rows
            if (r.get("filter_selectivity") or 0) == 0
        }
    )
    for m in ("exact", "pre_filter", "post_filter", "random"):
        if m not in by:
            continue
        rs = by[m]
        recs_all = [(q, rs[q]["recall_at_k"]) for q in sorted(rs)]
        per = " ".join(
            f"{v:.1f}" + ("†" if q in empty_qids else "")
            for q, v in recs_all
        )
        recs = [v for q, v in recs_all if q not in empty_qids]
        out.append(
            f"| {m} | {statistics.mean(recs):.2f} | {per} |"
            f" {ref.get(m, 'n/a')} |"
        )
    if empty_qids:
        out += [
            "",
            f"† qid {', '.join(map(str, empty_qids))}: the canonical",
            "filter matches ZERO rows at the parity corpus (the",
            "reference's selectivity spectrum bottoms at 0.0015, the",
            "tiled metadata bottoms at 0) — the engine returns the",
            "empty-result contract ``([], stats)`` and the quirk-Q6",
            "recall convention reads 0; excluded from the means above.",
        ]
    if "post_filter" in by:
        pf = by["post_filter"]
        strict = [
            pf[q]["recall_at_k"] for q in pf if label.get(q) == "strict"
        ]
        broad = [
            pf[q]["recall_at_k"] for q in pf if label.get(q) == "broad"
        ]
        if strict and broad:
            out += [
                "",
                f"Bimodality check: post_filter mean recall on BROAD",
                f"filters {statistics.mean(broad):.2f} vs STRICT filters",
                f"{statistics.mean(strict):.2f} — the same collapse the",
                "reference measures (its qids 1/5 read 0.0 with the",
                "ladder exhausted). pre_filter's scored_vectors track",
                "selectivity×N exactly as BASELINE.md describes; rows",
                "carry the full 14-field contract including",
                "scored_vectors, lists_probed, and kth_at_stop.",
            ]
    return out


def main() -> None:
    from hybrid_vector_search_spark.functions.predicates import (
        compile_filters,
    )
    from hybrid_vector_search_spark.functions.vector import (
        dot_score_pandas_udf,
        per_qid_dot_scores,
    )
    from hybrid_vector_search_spark.operators.topk import grouped_topk, topk
    from hybrid_vector_search_spark.plans.canonical import CANONICAL_QUERIES
    from hybrid_vector_search_spark.queryvecs import query_vector

    spark = get_spark("parity_probe")
    corpus = build_parity_corpus(spark).cache()
    n = corpus.count()  # materialize the resident corpus (untimed)
    d = len(corpus.select("embedding").first()["embedding"])
    print(f"parity corpus: N={n:,} D={d}")

    def qvec384(seed: int):
        v = query_vector(seed)
        scale = 1.0 / (TILE ** 0.5)
        return [x * scale for x in list(v) * TILE]

    # prepared per-query plans (reference rule: built once, time execution).
    # Scoring is the engine's single-query path: JVM codegen dot product
    # (functions/vector.py dot_score_column — same expression the
    # Exact/PreFilter backends and the hybrid_topk_* registry family run)
    from hybrid_vector_search_spark.functions.vector import dot_score_column

    exact_plans, pre_plans = {}, {}
    for cq in CANONICAL_QUERIES:
        q = qvec384(cq.seed)
        scored_all = corpus.select(
            "id", dot_score_column(q).alias("score")
        )
        exact_plans[cq.qid] = topk(scored_all, cq.k)
        pred = compile_filters(corpus.schema, cq.filters)
        scored_f = corpus.filter(pred).select(
            "id", dot_score_column(q).alias("score")
        )
        pre_plans[cq.qid] = topk(scored_f, cq.k)

    # IVF strategy at parity scale (the reference's post_filter is FAISS
    # IVFFlat nlist≈√N, nprobe=32 — BASELINE.md): fixed seeded coarse
    # quantizer over a corpus sample (deterministic, same plan family as
    # ann_ivf_persisted_topk), list-pruned scan, K′=1000 like the ladder
    # max. Index build is the untimed ingest stage, as in the reference.
    from hybrid_vector_search_spark.operators.ivf import IVFIndex, default_nlist

    import numpy as np

    nlist = default_nlist(n)
    sample = corpus.select("embedding").limit(nlist).collect()
    cents = np.vstack([r["embedding"] for r in sample]).astype(np.float64)
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    # persisted list_id-partitioned layout, NOT a second in-memory cache:
    # the probe's search then partition-prunes to the probed lists (the
    # ann_ivf_persisted_topk pattern, and the layout a cluster would use)
    # and the resident corpus cache stays the only cached copy
    import tempfile

    ivf_path = os.path.join(
        tempfile.gettempdir(), "hvs_parity_ivf.parquet"
    )
    index = IVFIndex.build_fixed(
        corpus.select("id", "embedding"), cents, persist_path=ivf_path
    )
    ivf_plans = {
        cq.qid: index.search_plan(qvec384(cq.seed), 1000, nprobe=32)[0]
        for cq in CANONICAL_QUERIES
    }
    # partition-pruning proof at parity scale: rows the pruned scan reads
    probed0 = index.probe(qvec384(CANONICAL_QUERIES[0].seed), 32)
    pruned_rows = index.assigned.filter(
        F.col("list_id").isin(probed0)
    ).count()

    # batch ANN: ALL 10 probes in ONE job over the union of probed lists
    # (registry ann_ivf_batch_topk shape) — the amortized serving regime
    from hybrid_vector_search_spark.functions.vector import (
        per_qid_dot_scores,
    )
    from hybrid_vector_search_spark.operators.topk import grouped_topk as _gt

    _qv = {cq.qid: qvec384(cq.seed) for cq in CANONICAL_QUERIES}
    _probes = {qid: index.probe(v, 32) for qid, v in _qv.items()}
    _union = sorted({li for p in _probes.values() for li in p})
    _pruned = index.assigned.filter(F.col("list_id").isin(_union))
    _match = F.array(
        *[
            F.when(
                F.col("list_id").isin(_probes[qid]), F.lit(qid)
            ).otherwise(F.lit(None).cast("int"))
            for qid in sorted(_qv)
        ]
    )
    ann_batch_plan = _gt(
        per_qid_dot_scores(
            _pruned.select(
                "id",
                "embedding",
                F.explode(F.filter(_match, lambda x: x.isNotNull())).alias(
                    "qid"
                ),
            ),
            _qv,
        ),
        ["qid"],
        10,
    )

    # micro-batched serving sweep (r9 verdict #4): a serving tier that
    # coalesces q in-flight queries into ONE job over the union of
    # their probed lists — the regime between the floor-bound q=1
    # probe and the q=10 batch. Amortized ms/query vs q is THE curve
    # that says where Spark serving crosses the FAISS per-query rate.
    def ann_microbatch_plan(q: int):
        qids = sorted(_qv)[:q]
        qv = {qid: _qv[qid] for qid in qids}
        union_q = sorted({li for qid in qids for li in _probes[qid]})
        pruned_q = index.assigned.filter(F.col("list_id").isin(union_q))
        match_q = F.array(
            *[
                F.when(
                    F.col("list_id").isin(_probes[qid]), F.lit(qid)
                ).otherwise(F.lit(None).cast("int"))
                for qid in qids
            ]
        )
        return _gt(
            per_qid_dot_scores(
                pruned_q.select(
                    "id",
                    "embedding",
                    F.explode(
                        F.filter(match_q, lambda x: x.isNotNull())
                    ).alias("qid"),
                ),
                qv,
            ),
            ["qid"],
            10,
        )

    MICRO_QS = (1, 2, 5, 10)
    micro_plans = {q: ann_microbatch_plan(q) for q in MICRO_QS}

    # ------- lexical + hybrid retrieval at parity scale (r8 next #5) ----
    # The reference has NO lexical leg (SURVEY.md §2.5 absent): these rows
    # publish beyond-reference capability under the SAME rules — persisted
    # artifacts built untimed at ingest, plans prepared once, min-of-N.
    import json as _json

    from pyspark.sql import Window

    from hybrid_vector_search_spark.operators.bm25 import (
        bm25_score_expr,
        bm25_topk_plan,
        build_postings_layout,
        term_bucket,
    )
    from hybrid_vector_search_spark.functions.vector import multi_dot_scores
    from hybrid_vector_search_spark.operators.topk import grouped_topk

    bm25_path = os.path.join(tempfile.gettempdir(), "hvs_parity_bm25")
    bm25_marker = os.path.join(bm25_path, "_PARITY_OK_v1")
    if not os.path.exists(bm25_marker):
        build_postings_layout(corpus.select("id", "text"), bm25_path)
        Path(bm25_marker).touch()
    with open(os.path.join(bm25_path, "meta.json"), encoding="utf-8") as f:
        bm25_meta = _json.load(f)

    # the registry's three (dense seed, term set) serving profiles
    RRF_CASES = (
        (41, ("vector", "join", "filter")),
        (42, ("stream", "window", "merge")),
        (43, ("hash", "scan", "sort")),
    )
    RRF_LEG_K, RRF_KC, RRF_FINAL_K = 20, 60, 10
    bm25_plans = {
        qid: bm25_topk_plan(spark, bm25_path, list(terms), k=RRF_LEG_K)
        for qid, terms in RRF_CASES
    }

    def _rrf_of(lexr, vecr, join_cols):
        return lexr.join(vecr, join_cols, "full_outer").select(
            *join_cols,
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_KC) + F.col("lr")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_KC) + F.col("vr")), F.lit(0.0)
                ),
                6,
            ).alias("rrf_score"),
        )

    def rrf_plan(qid, terms):
        """retrieval_rrf_fusion_persisted shape: BM25 leg from the pruned
        postings probe, dense leg from the pruned IVF layout."""
        lex_top = bm25_topk_plan(
            spark, bm25_path, list(terms), k=RRF_LEG_K
        )
        probedq = index.probe(qvec384(qid), 32)
        dense_top = topk(
            index.assigned.filter(F.col("list_id").isin(probedq)).select(
                "id",
                F.round(dot_score_column(qvec384(qid)), 6).alias("score"),
            ),
            RRF_LEG_K,
        )

        def leg(t, name):
            w = Window.orderBy(F.col("score").desc(), F.col("id").asc())
            return t.withColumn(name, F.row_number().over(w)).select(
                "id", name
            )

        return topk(
            _rrf_of(leg(lex_top, "lr"), leg(dense_top, "vr"), ["id"]),
            RRF_FINAL_K,
            score_col="rrf_score",
        )

    rrf_plans = {qid: rrf_plan(qid, terms) for qid, terms in RRF_CASES}

    # batch RRF: ALL profiles in ONE job, both legs from artifacts — the
    # registry retrieval_rrf_fusion_batch shape with corpus stats read
    # from the layout's meta.json (zero stats jobs at query time)
    all_terms = sorted({tm for _, ts in RRF_CASES for tm in ts})
    buckets = sorted(
        {term_bucket(tm, bm25_meta["n_buckets"]) for tm in all_terms}
    )
    postings = spark.read.parquet(os.path.join(bm25_path, "postings"))
    stats_df = spark.read.parquet(
        os.path.join(bm25_path, "termstats")
    ).filter(F.col("term").isin(all_terms))
    qterm = spark.createDataFrame(
        [(int(qid), tm) for qid, ts in RRF_CASES for tm in ts],
        "qid long, term string",
    )
    lex_scored = (
        postings.filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(all_terms))
        .join(F.broadcast(stats_df), "term")
        .join(F.broadcast(qterm), "term")
        .groupBy("qid", "id")
        .agg(
            F.round(
                F.sum(bm25_score_expr(bm25_meta["n"], bm25_meta["t"])), 6
            ).alias("score")
        )
    )
    dense_scored = multi_dot_scores(
        corpus.select("id", "embedding"),
        {int(qid): qvec384(qid) for qid, _ in RRF_CASES},
    ).select("qid", "id", F.round("score", 6).alias("score"))

    def legb(scored, name):
        top = grouped_topk(scored, ["qid"], RRF_LEG_K)
        w = Window.partitionBy("qid").orderBy(
            F.col("score").desc(), F.col("id").asc()
        )
        return top.withColumn(name, F.row_number().over(w)).select(
            "qid", "id", name
        )

    rrf_batch_plan = grouped_topk(
        _rrf_of(legb(lex_scored, "lr"), legb(dense_scored, "vr"), ["qid", "id"]),
        ["qid"],
        RRF_FINAL_K,
        score_col="rrf_score",
    )

    qvecs = {cq.qid: qvec384(cq.seed) for cq in CANONICAL_QUERIES}
    match = F.array(
        *[
            F.when(
                compile_filters(corpus.schema, cq.filters), F.lit(cq.qid)
            ).otherwise(F.lit(None).cast("int"))
            for cq in CANONICAL_QUERIES
        ]
    )
    fanned = corpus.select(
        "id",
        "embedding",
        F.explode(F.filter(match, lambda x: x.isNotNull())).alias("qid"),
    )
    batch_plan = grouped_topk(per_qid_dot_scores(fanned, qvecs), ["qid"], 10)

    def best_ms(plan, action="collect", runs: int | None = None) -> float:
        best = float("inf")
        for _ in range(runs or RUNS):
            t0 = time.perf_counter()
            plan.count() if action == "count" else plan.collect()
            best = min(best, time.perf_counter() - t0)
        return best * 1000.0

    def remeasure_outliers(ms: dict, plans: dict) -> dict:
        """Host-noise guard (the r7 lesson: qid 8's pre_filter recorded
        415 ms — 2.3× its own family — on a plan identical to its
        siblings'; a fresh exclusive session measured 222 ms. A noise
        burst can contaminate ALL of one query's min-of-N block because
        the runs are consecutive). Any query measuring >3× its family
        median gets one fresh min-of-N block late in the session; the
        overall min is kept — a real plan cost survives both blocks, a
        burst does not."""
        import statistics

        med = statistics.median(ms.values())
        for qid in sorted(ms):
            if med > 0 and ms[qid] > 3.0 * med:
                ms[qid] = min(ms[qid], best_ms(plans[qid]))
        return ms

    # warmup: one pass of everything (python workers, codegen)
    for pl in (
        list(exact_plans.values())
        + list(pre_plans.values())
        + list(ivf_plans.values())
    ):
        pl.collect()
    batch_plan.collect()

    exact_ms = remeasure_outliers(
        {qid: best_ms(p) for qid, p in exact_plans.items()}, exact_plans
    )
    pre_ms = remeasure_outliers(
        {qid: best_ms(p) for qid, p in pre_plans.items()}, pre_plans
    )
    ivf_ms = remeasure_outliers(
        {qid: best_ms(p) for qid, p in ivf_plans.items()}, ivf_plans
    )
    batch_total_ms = best_ms(batch_plan)
    ann_batch_plan.collect()  # warm
    ann_batch_ms = best_ms(ann_batch_plan)
    for pl in micro_plans.values():
        pl.collect()  # warm
    micro_ms = {q: best_ms(pl) for q, pl in micro_plans.items()}
    # driver-local q=1 serving fast path (r13): Arrow-read ONLY the
    # probed list dirs, numpy GEMM, no Spark job — the FAISS execution
    # shape over the Spark-written layout (operators/ivf.py
    # serve_local_topk; same probe planner/scoring/tiebreak, pinned to
    # ann_ivf_topk's oracle in the registry). min-of-RUNS per qid, the
    # same rule as every per-query row.
    import time as _time

    local_ms = {}
    for cq in CANONICAL_QUERIES:
        qv1 = qvec384(cq.seed)
        index.serve_local_topk(qv1, 1000, nprobe=32)  # warm page cache
        best = float("inf")
        for _ in range(RUNS):
            t0 = _time.perf_counter()
            index.serve_local_topk(qv1, 1000, nprobe=32)
            best = min(best, _time.perf_counter() - t0)
        local_ms[cq.qid] = best * 1000.0
    mean_local = sum(local_ms.values()) / len(local_ms)
    # driver-local EXACT / PRE_FILTER serving tier (r13 serving.py):
    # the resident float32 matrix + metadata frame — the reference's own
    # residency model (its ~136/54.4 ms rows are in-process NumPy over a
    # RAM corpus) — behind the distributed size gate. Same DSL via
    # filters_mask_pandas (parity pytest-pinned), same tiebreak; the
    # registry pins both to the hybrid_topk_* oracles verbatim.
    from hybrid_vector_search_spark.serving import LocalCorpusServe

    serve = LocalCorpusServe.from_corpus(corpus)
    exact_local_ms, pre_local_ms = {}, {}
    for cq in CANONICAL_QUERIES:
        qv1 = qvec384(cq.seed)
        serve.exact_topk(qv1, cq.k)  # warm (BLAS threads, cache)
        best = float("inf")
        for _ in range(RUNS):
            t0 = _time.perf_counter()
            serve.exact_topk(qv1, cq.k)
            best = min(best, _time.perf_counter() - t0)
        exact_local_ms[cq.qid] = best * 1000.0
        serve.prefilter_topk(qv1, cq.filters, cq.k)  # warm
        best = float("inf")
        for _ in range(RUNS):
            t0 = _time.perf_counter()
            serve.prefilter_topk(qv1, cq.filters, cq.k)
            best = min(best, _time.perf_counter() - t0)
        pre_local_ms[cq.qid] = best * 1000.0
    mean_exact_local = sum(exact_local_ms.values()) / len(exact_local_ms)
    mean_pre_local = sum(pre_local_ms.values()) / len(pre_local_ms)
    for pl in list(bm25_plans.values()) + list(rrf_plans.values()):
        pl.collect()  # warm
    rrf_batch_plan.collect()
    bm25_ms = remeasure_outliers(
        {qid: best_ms(p) for qid, p in bm25_plans.items()}, bm25_plans
    )
    rrf_ms = remeasure_outliers(
        {qid: best_ms(p) for qid, p in rrf_plans.items()}, rrf_plans
    )
    rrf_batch_ms = best_ms(rrf_batch_plan)
    # second placement, min kept (the bench.py headline rule): the BM25
    # scoring expression is large enough that C2 JIT tiering lands
    # between measurement blocks — an early block can read ~2× the
    # fully-compiled cost, which showed up as the leg timing SLOWER than
    # the fused plan containing it
    for qid, p in bm25_plans.items():
        bm25_ms[qid] = min(bm25_ms[qid], best_ms(p))
    for qid, p in rrf_plans.items():
        rrf_ms[qid] = min(rrf_ms[qid], best_ms(p))
    rrf_batch_ms = min(rrf_batch_ms, best_ms(rrf_batch_plan))
    mean_bm25 = sum(bm25_ms.values()) / len(bm25_ms)
    mean_rrf = sum(rrf_ms.values()) / len(rrf_ms)
    # the number every per-query row is bounded by: Spark's job-launch
    # floor in this very session (scheduler + DAG + task round trip for
    # a trivial 1M-row count). min-of-20: the floor anchors the whole
    # per-query argument, and a single contended min-of-5 block once
    # recorded a "floor" ABOVE the measured ANN rows it bounds
    floor_ms = best_ms(spark.range(1_000_000), action="count", runs=20)

    mean_exact = sum(exact_ms.values()) / len(exact_ms)
    mean_pre = sum(pre_ms.values()) / len(pre_ms)
    mean_ivf = sum(ivf_ms.values()) / len(ivf_ms)
    total_pre = sum(pre_ms.values())

    lines = [
        "# BASELINE_PARITY — measured at the reference's own corpus shape",
        "(generated by tools/parity_probe.py)",
        "",
        f"Corpus: **N={n:,} × D={d}** float32 unit-norm — the exact shape",
        "BASELINE.md's numbers were measured on — derived deterministically",
        "from the driver testdata (sf0.1 embeddings copy-shifted ×76,",
        "dimension-tiled ×6, rescaled 1/√6; documents metadata tiled with",
        f"the same id shift; r10: blended toward {PLANT_C} planted unit",
        "centroids, α=0.95, re-normalized — same shape and latency, but",
        "scores are no longer degenerate ties, so the recall table below",
        "measures real ANN behavior). Same measurement rules as the reference",
        "harness: corpus resident in memory before timing, plans prepared",
        f"once, per-query = min-of-{RUNS} execution latency on",
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}], and any",
        "query measuring >3× its family median gets one fresh re-measure",
        "block with the min kept (host-noise guard — r7 recorded qid 8's",
        "pre_filter at 415 ms on a plan identical to its siblings'; an",
        "exclusive fresh session measured 222 ms). Performance",
        "probe only — correctness is carried by the sf0.01 DuckDB oracle",
        "gate.",
        "",
        "| workload | reference (BASELINE.md) | this engine | ratio |",
        "|---|---|---|---|",
        f"| exact, mean ms/query | ~136 | {mean_exact:.1f} |"
        f" {mean_exact / 136:.2f}× |",
        f"| exact, LOCAL SERVE tier ms/query (serving.py) | ~136 |"
        f" {mean_exact_local:.1f} | {mean_exact_local / 136:.2f}× |",
        f"| pre_filter, mean ms/query | 54.4 | {mean_pre:.1f} |"
        f" {mean_pre / 54.4:.2f}× |",
        f"| pre_filter, LOCAL SERVE tier ms/query | 54.4 |"
        f" {mean_pre_local:.1f} | {mean_pre_local / 54.4:.2f}× |",
        f"| pre_filter, 10-query total ms | ≈544 | {total_pre:.0f} |"
        f" {total_pre / 544:.2f}× |",
        f"| ANN (ref: FAISS IVF post_filter; here: IVF nlist={nlist} "
        f"nprobe=32 K′=1000), mean ms/query | 15.7 | {mean_ivf:.1f} |"
        f" {mean_ivf / 15.7:.2f}× |",
        f"| Spark job-launch floor (bare 1M-row count, same session) |"
        f" n/a (in-process) | {floor_ms:.1f} | — |",
        f"| all 10 queries as ONE batch job, ms | n/a (per-query loop) |"
        f" {batch_total_ms:.0f} | — |",
        f"| all 10 ANN probes as ONE batch job over ∪ probed lists, ms |"
        f" 157 (10 × 15.7) | {ann_batch_ms:.0f} |"
        f" {ann_batch_ms / 157:.2f}× |",
        *[
            f"| micro-batched ANN serving, q={q}: amortized ms/query |"
            f" 15.7 | {micro_ms[q] / q:.1f} |"
            f" {micro_ms[q] / q / 15.7:.2f}× |"
            for q in MICRO_QS
        ],
        f"| driver-local q=1 serve (Arrow read of probed lists, no "
        f"Spark job — ann_ivf_local_serve_topk), ms/query | 15.7 |"
        f" {mean_local:.1f} | {mean_local / 15.7:.2f}× |",
        f"| BM25 top-{RRF_LEG_K} (pruned postings probe), mean ms/query |"
        f" n/a (no lexical leg) | {mean_bm25:.1f} | — |",
        f"| hybrid RRF fusion (BM25 + IVF legs, persisted artifacts), "
        f"mean ms/query | n/a (no lexical leg) | {mean_rrf:.1f} | — |",
        f"| all {len(RRF_CASES)} hybrid RRF queries as ONE batch job, ms |"
        f" n/a (no lexical leg) | {rrf_batch_ms:.0f} | — |",
        "",
        "Per-query detail (ms):",
        "",
        "| qid | label | exact | pre_filter | ivf |",
        "|---|---|---|---|---|",
    ]
    for cq in CANONICAL_QUERIES:
        lines.append(
            f"| {cq.qid} | {cq.label} | {exact_ms[cq.qid]:.1f} |"
            f" {pre_ms[cq.qid]:.1f} | {ivf_ms[cq.qid]:.1f} |"
        )
    lines += [
        "",
        "Reading. Two regimes, stated plainly:",
        "",
        "* **Per-query latency is bounded below by Spark's job-launch",
        f"  floor** — {floor_ms:.0f} ms for a bare 1M-row count in this",
        "  same session. The reference's post_filter (15.7 ms) sits UNDER",
        "  that floor: an in-process FAISS probe does no scheduling, no",
        "  task dispatch, no Arrow hop. No Spark plan can win a",
        "  single-point-query latency race, at any corpus size — this is",
        "  the documented cost of the execution model, not a plan defect.",
        "  The IVF plan's SCALE property holds and is measured: the pruned",
        f"  scan reads **{pruned_rows:,} of {n:,} rows ({100 * pruned_rows / n:.1f}%)**",
        "  — bytes ∝ nprobe/nlist, which is what keeps per-query cost",
        "  bounded on a cluster. Two r7 fixes took this row from 434.6 ms",
        "  (27.7× ref in r6) to here: the persisted layout is ONE file",
        "  per list (pre-write repartition(nlist, list_id); the old",
        "  layout's ~12k write-slivers were pure file-open cost), and the",
        "  single-query dot product — here AND in the Exact/PreFilter",
        "  backends and the hybrid_topk_* family — is a JVM-evaluated",
        "  zip_with/aggregate expression with no Python worker in the",
        "  plan (Spark's higher-order functions run interpreted inside",
        "  the codegen'd stage; an unrolled 384-term codegen sum measured",
        "  4.6× SLOWER): at one",
        "  query per scanned row, the Arrow round trip of a pandas-UDF",
        "  kernel dominates the GEMM it buys (r7 profile: exact 516→295,",
        "  strict pre_filter 351→60, IVF probed subset 338→73 ms; the",
        "  regime rule lives in functions/vector.py dot_score_column —",
        "  multi-query batch scoring keeps the Arrow GEMM, which is why",
        "  the batch row below amortizes better than any per-query path).",
        "* **Micro-batched serving closes the one weak row** — the",
        "  per-query IVF probe cannot beat the job-launch floor, but a",
        "  serving tier never has to issue one job per query: coalesce",
        "  whatever arrived in the dispatch window into one job over",
        "  the union of the probed lists (registry",
        "  ann_ivf_microbatch_topk — same plan shape, q is the only",
        f"  knob). Measured amortized: q=1 {micro_ms[1]:.0f} ms,",
        f"  q=2 {micro_ms[2] / 2:.1f}, q=5 {micro_ms[5] / 5:.1f},",
        f"  q=10 {micro_ms[10] / 10:.1f} ms/query — the curve crosses",
        f"  2× the FAISS rate at q={min((q for q in MICRO_QS if micro_ms[q] / q <= 2 * 15.7), default=0)}",
        "  and keeps falling ~1/q: the floor is per-JOB, so batching",
        "  divides it while bytes read stay sub-additive (probe sets",
        "  overlap). At cluster scale the same dispatch loop is how",
        "  any Spark-serving tier would run; the q=1 row is the only",
        "  shape with no amortization and the SPARK-JOB form of it is",
        "  floor-bound by construction. r13 removes even that: the",
        "  driver-local serve row answers the identical probe by",
        f"  Arrow-reading only the probed list files ({mean_local:.1f}",
        "  ms/query, no job launch — the FAISS execution shape over",
        "  the Spark-written layout, same oracle), so the floor now",
        "  bounds only serving nodes that cannot mount the storage.",
        "* **The exact/pre_filter rows get the same serving twin**",
        "  (r13 serving.py LocalCorpusServe): the reference's own",
        "  residency model — resident float32 matrix + metadata,",
        "  rescored exactly in float64, RAM-gated on an N×D×8",
        "  estimate of the conversion peak — answers the exact",
        f"  scan at {mean_exact_local:.1f} ms/query",
        f"  ({mean_exact_local / 136:.2f}× ref) and the strict/broad",
        f"  pre_filter set at {mean_pre_local:.1f} ms/query",
        f"  ({mean_pre_local / 54.4:.2f}× ref), with the filter DSL",
        "  evaluated by the pandas twin of compile_filters (one",
        "  semantics, pytest-pinned) and both paths value-hash pinned",
        "  to the distributed strategies' oracles in the registry",
        "  (hybrid_topk_local_exact / hybrid_topk_local_prefilter).",
        "  Beyond the RAM gate the distributed plans are the only",
        "  exact path — this tier serves the single-machine regime",
        "  the reference's numbers were measured in.",
        "* **Throughput is where the Spark shape wins** — the batch row",
        "  answers all 10 canonical queries in ONE job at",
        f"  {batch_total_ms / 10:.1f} ms/query amortized, {544 / batch_total_ms:.0f}×",
        "  the reference's pre_filter rate — and that advantage compounds",
        "  with query count while the reference's loop pays ~54 ms each,",
        "  forever. The batch plan is also the only shape on this page",
        "  that survives a corpus that outgrows one machine.",
        "* **The lexical/hybrid rows are beyond-reference capability**",
        "  (the reference ships no text retrieval, SURVEY.md §2.5): BM25",
        "  reads |query-term buckets| postings directories per query —",
        "  corpus size never enters the I/O bound — fusion joins two",
        f"  {RRF_LEG_K}-row leg sets from persisted artifacts (postings +",
        "  IVF lists, both built untimed at ingest like the reference's",
        "  FAISS artifacts), and the batch row fuses every profile in ONE",
        "  job with corpus statistics read from the layout's meta.json",
        "  (zero stats jobs at query time). Same min-of-N and outlier",
        "  re-measure rules as every other row. The r9 AQE artifact —",
        "  the standalone BM25 agg is byte-light but CPU-heavy, so",
        "  AQE's advisory-size rule coalesced it to ONE partition and",
        "  ran it single-threaded (~150 ms vs ~86 ms) — is CLOSED in",
        "  r10: bm25_topk_plan pins the agg's parallelism with an",
        "  explicit-count repartition on the doc id (user-specified",
        "  partition counts are exempt from AQE coalescing), which is",
        "  scoped to exactly this stage instead of lowering the",
        "  session-wide minPartitionSize; the shuffle stays bounded by",
        "  the probed term buckets' rows, so the forgone map-side",
        "  combine costs nothing that scales with the corpus.",
        "",
    ]
    lines += recall_lines()
    lines.append("")
    (REPO / "BASELINE_PARITY.md").write_text("\n".join(lines))
    print(f"wrote {REPO / 'BASELINE_PARITY.md'}")
    print(
        f"exact {mean_exact:.1f}ms  pre {mean_pre:.1f}ms  "
        f"batch {batch_total_ms:.0f}ms"
    )


if __name__ == "__main__":
    main()
