"""Clustered semantic dedup at scale: fixed-quantizer (the oracle
variant) vs scaled-nlist (the production dispatch).

``dedup_embedding_clustered_pairs`` pins nlist=16 seeded centroids so
its DuckDB oracle can replay the assignment — at that FIXED quantizer
the within-cell fan-out is Σ|cell|² ∝ N²/nlist, quadratic in N by
design. The production entry point (``operators.dedup.
embedding_near_dup_ivf`` with the KMeans default) sizes nlist ≈ √N
(ivf.default_nlist), holding |cell| ≈ √N so total fan-out is ~N^1.5,
and the size-dispatched ``embedding_near_dup`` picks GEMM vs IVF by
matrix footprint. This probe measures both variants over inflated
embeddings and records the comparison-row volumes next to the walls —
the fan-out column IS the claim being checked.

Usage: python tools/semantic_probe.py [factors ...] (appends SCALING.md)
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from hybrid_vector_search_spark.session import get_spark  # noqa: E402

MARKER = "## Appendix: clustered semantic dedup at ×K"
FACTORS = (1, 4, 16)
RUNS = int(os.environ.get("SPARK_GRAFT_PROBE_RUNS", "2"))


def _sf_dir(spark, k: int) -> str:
    from tools.scale_probe import ensure_inflated

    return ensure_inflated(spark, k)


def main() -> None:
    from pyspark.sql import functions as F

    from hybrid_vector_search_spark.operators.dedup import (
        embedding_near_dup_ivf,
    )
    from hybrid_vector_search_spark.operators.ivf import (
        IVFIndex,
        default_nlist,
    )
    from hybrid_vector_search_spark.plans.registry_corpus import (
        COSINE_DUP_THRESHOLD,
    )
    from hybrid_vector_search_spark.plans.registry_hybrid_ann import (
        _ann_ivf_centroids,
    )
    from hybrid_vector_search_spark.sources.loaders import load_table

    spark = get_spark("semantic_probe")
    factors = (
        tuple(int(a) for a in sys.argv[1:]) if len(sys.argv) > 1 else FACTORS
    )

    def fanout(assigned) -> int:
        # Σ|cell|² — the exact comparison-row volume of the cell join
        return int(
            assigned.groupBy("list_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.sum(F.col("c") * F.col("c")))
            .collect()[0][0]
        )

    cells = []
    for k in factors:
        sf_dir = _sf_dir(spark, k)
        emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        cell = dict(k=k, n=n)

        # fixed oracle quantizer (nlist=16) — quadratic by design
        fixed_assigned = IVFIndex.build_fixed(
            emb.withColumnRenamed("vec_id", "id"), _ann_ivf_centroids()
        ).assigned
        cell["fixed_fanout"] = fanout(fixed_assigned)
        best = float("inf")
        for _ in range(RUNS):
            t0 = time.perf_counter()
            embedding_near_dup_ivf(
                emb, COSINE_DUP_THRESHOLD, centroids=_ann_ivf_centroids()
            ).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        cell["fixed_s"] = round(best, 3)

        # production dispatch: KMeans with nlist ≈ √N
        nlist = default_nlist(n)
        cell["nlist"] = nlist
        scaled_assigned = IVFIndex.build(
            emb.withColumnRenamed("vec_id", "id"), nlist=nlist, seed=42
        ).assigned
        cell["scaled_fanout"] = fanout(scaled_assigned)
        best = float("inf")
        for _ in range(RUNS):
            t0 = time.perf_counter()
            embedding_near_dup_ivf(
                emb, COSINE_DUP_THRESHOLD, nlist=nlist
            ).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        cell["scaled_s"] = round(best, 3)
        cells.append(cell)
        print(cell, flush=True)

    r0, kx = cells[0], cells[-1]
    lines = [
        MARKER,
        "",
        "The oracle variant pins nlist=16 seeded centroids (assignment",
        "replayable in SQL) — its Σ|cell|² fan-out is quadratic in N by",
        "design and the wall should follow. The production dispatch",
        "(embedding_near_dup → embedding_near_dup_ivf with KMeans,",
        "nlist ≈ √N) holds |cell| ≈ √N: fan-out ~N^1.5, the bounded",
        "cell-join story. Fan-out columns are exact comparison-row",
        f"volumes; walls are best-of-{RUNS} including the assign pass.",
        "",
        "| factor | vectors | fixed nlist=16 Σ|cell|² | fixed s |"
        " scaled nlist | scaled Σ|cell|² | scaled s |",
        "|---|---|---|---|---|---|---|",
    ]
    for c in cells:
        lines.append(
            f"| ×{c['k']} | {c['n']:,} | {c['fixed_fanout']:,} |"
            f" {c['fixed_s']}s | {c['nlist']} |"
            f" {c['scaled_fanout']:,} | {c['scaled_s']}s |"
        )
    fgrow = kx["fixed_fanout"] / max(r0["fixed_fanout"], 1)
    sgrow = kx["scaled_fanout"] / max(r0["scaled_fanout"], 1)
    lines += [
        "",
        f"×{kx['k']}/×{r0['k']}: fixed fan-out {fgrow:.0f}× (=K², as"
        f" designed), scaled fan-out {sgrow:.0f}× for {kx['k']}×"
        f" vectors (ideal balanced-cell K^1.5 is"
        f" {kx['k'] ** 1.5:.0f}×; the excess is KMeans cell skew —"
        " production holds it with a cell-size cap / re-split, the"
        " same guard as the LSH stop-shingle cap); walls"
        f" {r0['fixed_s']}→{kx['fixed_s']}s vs"
        f" {r0['scaled_s']}→{kx['scaled_s']}s.",
        "",
    ]

    from tools._scaling import replace_section

    replace_section(MARKER, lines)


if __name__ == "__main__":
    main()
