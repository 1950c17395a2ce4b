"""Graph operators at scale: BFS traversal, fixed-point PageRank, and
triangle counting over the near-dup pair graph of the FULL inflated
documents corpus (×1..×16).

The three registry queries pin correctness on fixed seeds/thresholds;
this probe asks the scale question for the ITERATIVE family: per-round
join cost must track the EDGE count (the LSH pair invariant says edges
grow ~linearly in corpus size), and the oriented wedge join behind
triangles must not go quadratic (dup-graph degrees are bounded, and the
a<b orientation caps wedge fan-out by forward degree).

Each cell re-runs the UNWRAPPED registry builder (the iterative work
happens at build time — per-round localCheckpoint materialization — so
timing the memoized plan would measure nothing) and reports the measured
graph volumes next to the walls.

Usage: python tools/graph_probe.py [factors ...]  (appends to SCALING.md)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from hybrid_vector_search_spark.session import get_spark  # noqa: E402

MARKER = "## Appendix: graph operators at scale"
FACTORS = (1, 2, 4, 8, 16)
RUNS = int(os.environ.get("SPARK_GRAFT_PROBE_RUNS", "2"))
QUERY_NAMES = (
    "dedup_graph_bfs_hops",
    "dedup_pagerank_centrality",
    "dedup_graph_triangles",
)


def _sf_dir(spark, k: int) -> str:
    root = os.path.join(tempfile.gettempdir(), f"hvs_scale_x{k}")
    if not os.path.exists(os.path.join(root, "documents.parquet")):
        from tools.scale_probe import inflate

        inflate(spark, k, root)
    return root


def main() -> None:
    from pyspark.sql import functions as F

    from hybrid_vector_search_spark.operators import dedup as DD
    from hybrid_vector_search_spark.plans import registry as R
    from hybrid_vector_search_spark.plans.registry_corpus import (
        JACCARD_THRESHOLD,
        _sig_table,
    )
    from hybrid_vector_search_spark.sources.loaders import load_table

    spark = get_spark("graph_probe")
    factors = (
        tuple(int(a) for a in sys.argv[1:]) if len(sys.argv) > 1 else FACTORS
    )

    cells = []
    for k in factors:
        sf_dir = _sf_dir(spark, k)
        # shared ingest artifact: the signature table (untimed, like
        # every probe's landing zone) + measured graph volumes
        pairs = DD.minhash_lsh_pairs(
            load_table(spark, sf_dir, "documents"),
            JACCARD_THRESHOLD,
            sig=_sig_table(spark, sf_dir),
        )
        n_edges = pairs.count()
        n_nodes = (
            pairs.select(F.col("doc_a").alias("id"))
            .union(pairs.select(F.col("doc_b").alias("id")))
            .distinct()
            .count()
        )
        cell = dict(k=k, edges=n_edges, nodes=n_nodes)
        for name in QUERY_NAMES:
            fn = getattr(R.QUERIES[name], "__wrapped__", R.QUERIES[name])
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            best, rows = float("inf"), 0
            for _ in range(RUNS):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                best = min(best, time.perf_counter() - t0)
            rows = fn(spark, sf_dir).count()
            short = name.split("_")[-1]
            cell[f"{short}_s"] = round(best, 3)
            cell[f"{short}_rows"] = rows
        cells.append(cell)
        print(cell, flush=True)

    r0, kmax = cells[0], cells[-1]
    lines = [
        MARKER,
        "",
        "BFS hop distance, fixed-point PageRank (3 rounds), and oriented",
        "wedge-join triangle counting over the near-dup pair graph of the",
        "full inflated corpus. Walls time the UNWRAPPED builder (the",
        "iterative work is per-round localCheckpoint materialization) +",
        f"a noop sink, best-of-{RUNS}; the signature table is the shared",
        "untimed ingest artifact. Edges must grow ~linearly (the LSH",
        "banding invariant), and every per-round join tracks edges — a",
        "quadratic wedge blow-up or frontier explosion shows here first.",
        "",
        "| factor | edges | nodes | bfs s | bfs rows | pagerank s | pr rows | triangles s | tri rows |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for c in cells:
        lines.append(
            f"| ×{c['k']} | {c['edges']} | {c['nodes']} | {c['hops_s']}s | "
            f"{c['hops_rows']} | {c['centrality_s']}s | "
            f"{c['centrality_rows']} | {c['triangles_s']}s | "
            f"{c['triangles_rows']} |"
        )
    lines += [
        "",
        f"×{kmax['k']}/×1: edges {round(kmax['edges'] / r0['edges'], 1)}×, "
        f"bfs {round(kmax['hops_s'] / r0['hops_s'], 1)}×, "
        f"pagerank {round(kmax['centrality_s'] / r0['centrality_s'], 1)}×, "
        f"triangles {round(kmax['triangles_s'] / r0['triangles_s'], 1)}× "
        f"for {round(kmax['k'] / r0['k'], 1)}× corpus.",
        "",
    ]

    # --- adversarial skew row (r12 verdict task 6): a content-farm hub.
    # Star hub ⋈ H spokes plus a spoke chain (every chain edge closes a
    # triangle with the hub), hub id placed mid-range so the OLD id
    # ordering would split its edges ~half in / half out — in×out ≈
    # H²/4 wedges, quadratic. Degree ordering sorts the hub LAST (zero
    # out-edges ⇒ zero wedges at the hub); the wedge volumes below are
    # computed exactly from the two orientations, the wall is the real
    # triangle_stats run under the degree-ordered join.
    from hybrid_vector_search_spark.operators import dedup as DD2

    skew_lines = [
        "Hub-skew guard (degree-ordered wedge join):",
        "",
        "| hub degree | edges | wedges (id order) | wedges (deg order) |"
        " triangle_stats s | hub cc |",
        "|---|---|---|---|---|---|",
    ]
    for H in (2_000, 8_000, 32_000):
        hub = H // 2  # mid-range id: the id-order worst case
        spokes = [i if i < hub else i + 1 for i in range(H)]
        rows = [(hub, i) for i in spokes]
        rows += [(spokes[j], spokes[j + 1]) for j in range(H - 1)]
        edges = spark.createDataFrame(rows, "doc_a long, doc_b long")
        t0 = time.perf_counter()
        out = DD.triangle_stats(edges)
        hub_row = out.filter(F.col("doc_id") == hub).collect()[0]
        wall = time.perf_counter() - t0
        # exact wedge volumes under each orientation: sum over nodes of
        # in×out for the oriented edge list
        canon = edges.select(
            F.least("doc_a", "doc_b").alias("a"),
            F.greatest("doc_a", "doc_b").alias("b"),
        ).distinct()
        def wedge_volume(e):
            din = e.groupBy(F.col("b").alias("id")).agg(
                F.count(F.lit(1)).alias("i")
            )
            dout = e.groupBy(F.col("a").alias("id")).agg(
                F.count(F.lit(1)).alias("o")
            )
            return (
                din.join(dout, "id")
                .agg(F.sum(F.col("i") * F.col("o")))
                .collect()[0][0]
                or 0
            )
        w_id = wedge_volume(canon)
        dd = (
            canon.select(F.col("a").alias("id"))
            .union(canon.select(F.col("b").alias("id")))
            .groupBy("id").agg(F.count(F.lit(1)).alias("d"))
        )
        ordered = (
            canon.join(dd.select(F.col("id").alias("a"), F.col("d").alias("da")), "a")
            .join(dd.select(F.col("id").alias("b"), F.col("d").alias("db")), "b")
            .select(
                F.when(
                    (F.col("da") < F.col("db"))
                    | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                    F.struct("a", "b"),
                ).otherwise(
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b"))
                ).alias("e")
            )
            .select("e.a", "e.b")
        )
        w_deg = wedge_volume(ordered)
        n_tri = int(hub_row["n_triangles"])
        assert n_tri == H - 1, (n_tri, H)  # every chain edge closes one
        skew_lines.append(
            f"| {H:,} | {canon.count():,} | {w_id:,} | {w_deg:,} |"
            f" {wall:.2f} | {hub_row['clustering']} |"
        )
        print({"hub_degree": H, "wedges_id": w_id, "wedges_deg": w_deg,
               "wall_s": round(wall, 2)}, flush=True)
    lines += [
        "",
        *skew_lines,
        "",
        "Wedge volume under degree ordering stays LINEAR in hub degree",
        "(the hub sorts last and contributes zero wedges) while the old",
        "id ordering is quadratic — at 32k hub degree, 256M wedges vs",
        "64k (4,000× less). The wall column is the full operator on the skewed graph;",
        "answers are orientation-invariant (dedup_graph_triangles stays",
        "hash-green against the LEAST/GREATEST DuckDB oracle).",
        "",
    ]

    from tools._scaling import replace_section

    replace_section(MARKER, lines)


if __name__ == "__main__":
    main()
