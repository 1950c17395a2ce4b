"""Sketch family at scale: walls should track the SCAN (~linear in K),
while the sketch STATE the shuffle moves stays flat/bounded — that bound
is the entire reason the family exists at 100 TB.

Per factor this probe records, next to the walls, the measured state
volumes: nonempty HLL registers (≤ 256 by construction), CMS cells
(≤ d·w = 4096), histogram bins (≤ value-domain/width), and the bloom
prefilter's funnel (bench grams → candidate grams → confirmed grams —
candidates must hug confirmed; the gap is the false-positive count, and
NONE of it may grow faster than the bench vocabulary).

Usage: python tools/sketch_probe.py [factors ...] (appends to SCALING.md)
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from hybrid_vector_search_spark.session import get_spark  # noqa: E402

MARKER = "## Appendix: sketch family at ×K"
FACTORS = (1, 4, 16)
RUNS = int(os.environ.get("SPARK_GRAFT_PROBE_RUNS", "2"))
QUERY_NAMES = (
    "events_distinct_users_hll",
    "events_type_distinct_users_hll",
    "events_user_overlap_hll",
    "events_heavy_users_cms",
    "events_value_histogram_quantiles",
    "docs_decontaminate_bloom",
    "streaming_hll_users",
    # metadata-only rollup: the builder commits per factor dir once
    # (memoized); the timed read scans ONLY the sketch sidecar table
    "events_hll_rollup_range",
)


def _sf_dir(spark, k: int) -> str:
    from tools.scale_probe import ensure_inflated

    return ensure_inflated(spark, k)


def main() -> None:
    from pyspark.sql import functions as F

    from hybrid_vector_search_spark.functions import sketches as SK
    from hybrid_vector_search_spark.functions import text as TX
    from hybrid_vector_search_spark.plans import registry as R
    from hybrid_vector_search_spark.plans.registry_relational import (
        _DECON_MOD,
        _DECON_N,
        _landing,
    )
    from hybrid_vector_search_spark.sources.loaders import load_table

    spark = get_spark("sketch_probe")
    factors = (
        tuple(int(a) for a in sys.argv[1:]) if len(sys.argv) > 1 else FACTORS
    )

    cells = []
    for k in factors:
        sf_dir = _sf_dir(spark, k)
        _landing(spark, sf_dir, "events")  # untimed ingest infra
        ev = load_table(spark, sf_dir, "events")
        docs = load_table(spark, sf_dir, "documents")

        # ---- state volumes (row counts — timing-noise-proof invariants)
        regs = SK.hll_registers(ev, "user_id").count()
        cms = SK.cms_sketch(ev, "user_id").count()
        bins = (
            ev.select(
                F.floor(F.col("value").cast("double") * 10.0).alias("b")
            )
            .distinct()
            .count()
        )
        is_bench = F.col("doc_id") % _DECON_MOD == 0
        bench_g = (
            TX.shingle_rows(docs.filter(is_bench), _DECON_N)
            .select("g")
            .distinct()
        )
        n_bench = bench_g.count()
        m = SK.bloom_m_for(n_bench)
        corpus_g = (
            TX.shingle_rows(docs.filter(~is_bench), _DECON_N)
            .select("g")
            .distinct()
        )
        bloom = (
            bench_g.select(
                F.explode(SK.bloom_positions("g", "decon", m)).alias("pos")
            )
            .distinct()
        )
        cand = (
            corpus_g.select(
                "g",
                F.explode(SK.bloom_positions("g", "decon", m)).alias("pos"),
            )
            .join(F.broadcast(bloom), "pos")
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("h"))
            .filter(F.col("h") == SK.BLOOM_K)
        )
        n_cand = cand.count()
        n_conf = cand.join(F.broadcast(bench_g), "g").count()

        cell = dict(
            k=k,
            events=ev.count(),
            regs=regs,
            cms=cms,
            bins=bins,
            bench=n_bench,
            cand=n_cand,
            conf=n_conf,
        )

        # ---- walls (unwrapped builders + noop sink, best-of-RUNS)
        for name in QUERY_NAMES:
            fn = getattr(R.QUERIES[name], "__wrapped__", R.QUERIES[name])
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            best = float("inf")
            for _ in range(RUNS):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                best = min(best, time.perf_counter() - t0)
            cell[name] = round(best, 3)
        cells.append(cell)
        print(cell, flush=True)

    r0, kx = cells[0], cells[-1]
    short = {
        "events_distinct_users_hll": "hll",
        "events_type_distinct_users_hll": "hll_by_type",
        "events_user_overlap_hll": "hll_overlap",
        "events_heavy_users_cms": "cms",
        "events_value_histogram_quantiles": "hist_q",
        "docs_decontaminate_bloom": "bloom_decon",
        "streaming_hll_users": "stream_hll",
        "events_hll_rollup_range": "hll_rollup",
    }
    lines = [
        MARKER,
        "",
        "Walls (unwrapped builder + noop sink, best-of-%d) should track" % RUNS,
        "the scan ~linearly; the STATE columns are the invariant being",
        "bought: HLL registers ≤ 256, CMS cells ≤ 4096, histogram bins",
        "bounded by the value domain — all flat while events grow ×16.",
        "The bloom funnel (bench → candidates → confirmed) grows with the",
        "BENCH vocabulary only, and candidates−confirmed is the measured",
        "false-positive count.",
        "",
        "| factor | events | " + " | ".join(short.values()) + " |",
        "|---|---|" + "---|" * len(short),
    ]
    for c in cells:
        lines.append(
            f"| ×{c['k']} | {c['events']:,} | "
            + " | ".join(f"{c[q]}s" for q in QUERY_NAMES)
            + " |"
        )
    lines += [
        "",
        "| factor | HLL regs | CMS cells | hist bins | bench grams |"
        " bloom candidates | confirmed |",
        "|---|---|---|---|---|---|---|",
    ]
    for c in cells:
        lines.append(
            f"| ×{c['k']} | {c['regs']} | {c['cms']} | {c['bins']} |"
            f" {c['bench']:,} | {c['cand']:,} | {c['conf']:,} |"
        )
    ratios = ", ".join(
        f"{short[q]} {round(kx[q] / max(r0[q], 1e-9), 1)}×"
        for q in QUERY_NAMES
    )
    lines += [
        "",
        f"×{kx['k']}/×{r0['k']} walls: {ratios} for {kx['k']}× events;"
        f" HLL registers {r0['regs']}→{kx['regs']} (saturates at 256),"
        f" CMS cells {r0['cms']}→{kx['cms']} (≤4096),"
        f" bloom false positives {r0['cand'] - r0['conf']}→"
        f"{kx['cand'] - kx['conf']}.",
        "",
    ]

    from tools._scaling import replace_section

    replace_section(MARKER, lines)


if __name__ == "__main__":
    main()
