"""Render the reference's three result plots as dependency-free SVG.

Reference parity: ``plots/latency_recall.py`` draws three matplotlib PNGs
from ``results.jsonl`` — latency-vs-recall lines per method (:21-42),
mean scored-vectors bars per method (:45-57), and grouped scored-vectors
bars per (qid, method) (:60-84). This container has no matplotlib, so the
rendering layer is a small hand-rolled SVG writer; the DATA layer is the
engine itself — the tolerant results scan (S8, plans/harness.load_results)
and the exact aggregations the oracle-checked A3/A4 registry queries run
(results_mean_scored_by_method / results_scored_pivot_by_qid). Plot
artifacts are driver-side presentation over driver-sized aggregates; the
distributed work is the aggregation, which stays in Spark.

Design notes (chart method, validated): categorical palette slots
blue/orange/aqua/yellow in fixed order — CVD-validated for adjacent
series (worst adjacent ΔE 9.1, normal-vision 22.9, both PASS; aqua and
yellow sit below 3:1 contrast on the light surface, so every chart ships
value labels or a companion table — PLOTS.md carries the full table
view). Marks: 2px lines with round caps, r=4 markers ringed 2px in the
surface color, bars ≤24px with 4px rounded data-ends (square at the
baseline), 2px surface gaps between touching bars, hairline solid
gridlines, text in ink tokens (never the series color).

Usage: python tools/plot_results.py   (writes fixtures/plots/*.svg + PLOTS_DATA.md)
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# ---------------------------------------------------------------- palette
SURFACE = "#fcfcfb"
INK = "#0b0b0b"
INK_2 = "#52514e"
MUTED = "#898781"
GRID = "#e1e0d9"
BASELINE = "#c3c2b7"
SERIES = ["#2a78d6", "#eb6834", "#1baf7a", "#eda100"]  # fixed slot order
SEQ = "#2a78d6"  # single-hue magnitude

FONT = 'font-family="system-ui, -apple-system, Segoe UI, sans-serif"'


def _ticks(lo: float, hi: float, n: int = 5) -> list[float]:
    """Clean round-number ticks covering [lo, hi]."""
    import math

    if hi <= lo:
        hi = lo + 1.0
    raw = (hi - lo) / max(n, 1)
    mag = 10 ** math.floor(math.log10(raw))
    for step in (1, 2, 2.5, 5, 10):
        if raw <= step * mag:
            step *= mag
            break
    start = math.floor(lo / step) * step
    out, v = [], start
    while v < hi + step * 0.5:
        out.append(round(v, 10))
        v += step
    return out


def _fmt(v: float) -> str:
    if v == int(v) and abs(v) < 1e15:
        return f"{int(v):,}"
    return f"{v:g}"


class SVG:
    def __init__(self, w: int, h: int, title: str):
        self.w, self.h = w, h
        self.parts = [
            f'<svg xmlns="http://www.w3.org/2000/svg" width="{w}" '
            f'height="{h}" viewBox="0 0 {w} {h}" role="img" '
            f'aria-label="{title}">',
            f'<rect width="{w}" height="{h}" fill="{SURFACE}"/>',
        ]

    def text(self, x, y, s, size=12, fill=INK, anchor="start", weight="normal"):
        self.parts.append(
            f'<text x="{x:.1f}" y="{y:.1f}" {FONT} font-size="{size}" '
            f'fill="{fill}" text-anchor="{anchor}" '
            f'font-weight="{weight}">{s}</text>'
        )

    def line(self, x1, y1, x2, y2, stroke, width=1.0, cap="butt"):
        self.parts.append(
            f'<line x1="{x1:.1f}" y1="{y1:.1f}" x2="{x2:.1f}" '
            f'y2="{y2:.1f}" stroke="{stroke}" stroke-width="{width}" '
            f'stroke-linecap="{cap}"/>'
        )

    def polyline(self, pts, stroke, width=2.0):
        p = " ".join(f"{x:.1f},{y:.1f}" for x, y in pts)
        self.parts.append(
            f'<polyline points="{p}" fill="none" stroke="{stroke}" '
            f'stroke-width="{width}" stroke-linecap="round" '
            f'stroke-linejoin="round"/>'
        )

    def dot(self, x, y, fill, r=4.0, tip=""):
        t = f"<title>{tip}</title>" if tip else ""
        # 2px surface ring keeps the marker legible across line crossings
        self.parts.append(
            f'<circle cx="{x:.1f}" cy="{y:.1f}" r="{r + 2:.1f}" '
            f'fill="{SURFACE}"/>'
            f'<circle cx="{x:.1f}" cy="{y:.1f}" r="{r:.1f}" '
            f'fill="{fill}">{t}</circle>'
        )

    def bar(self, x, y_top, w, y_base, fill, tip=""):
        """Vertical bar: 4px rounded data-end, square at the baseline."""
        h = y_base - y_top
        r = min(4.0, h / 2, w / 2)
        t = f"<title>{tip}</title>" if tip else ""
        d = (
            f"M{x:.1f},{y_base:.1f} L{x:.1f},{y_top + r:.1f} "
            f"Q{x:.1f},{y_top:.1f} {x + r:.1f},{y_top:.1f} "
            f"L{x + w - r:.1f},{y_top:.1f} "
            f"Q{x + w:.1f},{y_top:.1f} {x + w:.1f},{y_top + r:.1f} "
            f"L{x + w:.1f},{y_base:.1f} Z"
        )
        self.parts.append(f'<path d="{d}" fill="{fill}">{t}</path>')

    def write(self, path: Path):
        self.parts.append("</svg>")
        path.write_text("\n".join(self.parts))


def _frame(svg: SVG, x0, y0, x1, y1, yticks, ymap, xlabel, ylabel, title):
    svg.text(x0, 24, title, size=14, weight="600")
    for v in yticks:
        y = ymap(v)
        svg.line(x0, y, x1, y, GRID, 1.0)
        svg.text(x0 - 8, y + 4, _fmt(v), size=11, fill=MUTED, anchor="end")
    svg.line(x0, y1, x1, y1, BASELINE, 1.0)  # baseline/axis
    svg.text((x0 + x1) / 2, svg.h - 8, xlabel, size=11, fill=INK_2,
             anchor="middle")
    svg.parts.append(
        f'<text x="14" y="{(y0 + y1) / 2:.1f}" {FONT} font-size="11" '
        f'fill="{INK_2}" text-anchor="middle" '
        f'transform="rotate(-90 14 {(y0 + y1) / 2:.1f})">{ylabel}</text>'
    )


def _legend(svg: SVG, x, y, names):
    for i, name in enumerate(names):
        svg.parts.append(
            f'<rect x="{x:.1f}" y="{y + i * 18 - 9:.1f}" width="10" '
            f'height="10" rx="2" fill="{SERIES[i % len(SERIES)]}"/>'
        )
        svg.text(x + 16, y + i * 18, name, size=11, fill=INK_2)


def plot_latency_vs_recall(rows, out: Path):
    """Reference plots/latency_recall.py:21-42: one line per method,
    recall on x, latency on y, sorted by recall within method."""
    by_m: dict[str, list] = {}
    for r in rows:
        if r["recall_at_k"] is None or r["latency_ms"] is None:
            continue
        by_m.setdefault(r["method"], []).append(
            (float(r["recall_at_k"]), float(r["latency_ms"]))
        )
    methods = sorted(by_m)
    W, H = 640, 420
    x0, y0, x1, y1 = 64, 40, W - 140, H - 48
    lat_max = max(v for pts in by_m.values() for _, v in pts)
    yticks = _ticks(0, lat_max)
    xticks = _ticks(0, 1.0)

    def xm(v):
        return x0 + (x1 - x0) * (v - xticks[0]) / (xticks[-1] - xticks[0])

    def ym(v):
        return y1 - (y1 - y0) * (v - yticks[0]) / (yticks[-1] - yticks[0])

    svg = SVG(W, H, "Recall@10 vs latency by method")
    _frame(svg, x0, y0, x1, y1, yticks, ym, "Recall@10", "Latency (ms)",
           "Recall@10 vs latency by method")
    for v in xticks:
        svg.text(xm(v), y1 + 16, _fmt(v), size=11, fill=MUTED,
                 anchor="middle")
    for i, m in enumerate(methods):
        pts = sorted(by_m[m])
        color = SERIES[i % len(SERIES)]
        svg.polyline([(xm(x), ym(y)) for x, y in pts], color)
        for x, y in pts:
            svg.dot(xm(x), ym(y), color,
                    tip=f"{m}: recall {x:g}, {y:.1f} ms")
    _legend(svg, x1 + 16, y0 + 8, methods)
    svg.write(out)


def plot_scored_vectors_bar(means, out: Path):
    """Reference :45-57: mean scored_vectors per method, ascending —
    single-series magnitude bars (one sequential hue, value on cap)."""
    items = sorted(means.items(), key=lambda kv: kv[1])
    W, H = 520, 380
    x0, y0, x1, y1 = 72, 40, W - 24, H - 64
    yticks = _ticks(0, max(means.values()))

    def ym(v):
        return y1 - (y1 - y0) * (v - yticks[0]) / (yticks[-1] - yticks[0])

    svg = SVG(W, H, "Mean scored vectors by method")
    _frame(svg, x0, y0, x1, y1, yticks, ym, "Method",
           "Mean scored vectors", "Mean scored vectors by method")
    slot = (x1 - x0) / max(len(items), 1)
    bw = min(24.0, slot * 0.6)
    for i, (m, v) in enumerate(items):
        cx = x0 + slot * (i + 0.5)
        svg.bar(cx - bw / 2, ym(v), bw, y1, SEQ, tip=f"{m}: {v:,.1f}")
        svg.text(cx, ym(v) - 6, f"{v:,.1f}", size=11, fill=INK_2,
                 anchor="middle")  # value on the cap
        svg.text(cx, y1 + 16, m, size=11, fill=INK_2, anchor="middle")
    svg.write(out)


def plot_scored_vectors_per_query(pivot, methods, out: Path):
    """Reference :60-84: grouped bars, one group per qid, one bar per
    method — categorical identity, 2px surface gaps between neighbors."""
    qids = sorted(pivot)
    W, H = 880, 420
    x0, y0, x1, y1 = 72, 40, W - 150, H - 56
    vmax = max(
        (v for q in pivot.values() for v in q.values() if v is not None),
        default=1.0,
    )
    yticks = _ticks(0, vmax)

    def ym(v):
        return y1 - (y1 - y0) * (v - yticks[0]) / (yticks[-1] - yticks[0])

    svg = SVG(W, H, "Scored vectors per query by method")
    _frame(svg, x0, y0, x1, y1, yticks, ym, "Query ID", "Scored vectors",
           "Scored vectors per query by method")
    group = (x1 - x0) / max(len(qids), 1)
    n = len(methods)
    gap = 2.0  # surface gap between touching bars
    bw = min(24.0, (group * 0.8 - gap * (n - 1)) / max(n, 1))
    for gi, q in enumerate(qids):
        gx = x0 + group * gi + (group - (bw * n + gap * (n - 1))) / 2
        for mi, m in enumerate(methods):
            v = pivot[q].get(m)
            if v is None:
                continue
            svg.bar(gx + mi * (bw + gap), ym(v), bw, y1,
                    SERIES[mi % len(SERIES)], tip=f"qid {q} {m}: {v:,}")
        svg.text(x0 + group * (gi + 0.5), y1 + 16, str(q), size=11,
                 fill=MUTED, anchor="middle")
    _legend(svg, x1 + 16, y0 + 8, methods)
    svg.write(out)


def main() -> None:
    from hybrid_vector_search_spark.plans import registry as R
    from hybrid_vector_search_spark.plans.harness import load_results
    from hybrid_vector_search_spark.plans.registry_relational import (
        RESULTS_FIXTURE,
    )
    from hybrid_vector_search_spark.session import get_spark

    spark = get_spark("plots")
    rows = [r.asDict() for r in load_results(spark, RESULTS_FIXTURE).collect()]

    # A3: mean scored_vectors per method (oracle-checked aggregation)
    means_df = R.QUERIES["results_mean_scored_by_method"](spark, "")
    means = {
        r["method"]: float(r["mean_scored"]) for r in means_df.collect()
    }
    # A4: qid × method pivot (oracle-checked aggregation)
    pivot_df = R.QUERIES["results_scored_pivot_by_qid"](spark, "")
    mcols = [c for c in pivot_df.columns if c != "qid"]
    pivot = {
        r["qid"]: {m: r[m] for m in mcols} for r in pivot_df.collect()
    }

    out_dir = REPO / "fixtures" / "plots"
    out_dir.mkdir(parents=True, exist_ok=True)
    plot_latency_vs_recall(rows, out_dir / "latency_vs_recall.svg")
    plot_scored_vectors_bar(means, out_dir / "scored_vectors.svg")
    plot_scored_vectors_per_query(
        pivot, mcols, out_dir / "scored_vectors_per_query.svg"
    )

    # table view: the accessibility channel for the sub-3:1 series hues
    lines = [
        "# Plot data (generated by tools/plot_results.py)",
        "",
        "Table view of the three SVG charts in fixtures/plots/ — the same",
        "aggregates the oracle-checked A3/A4 queries return.",
        "",
        "## Mean scored vectors by method",
        "",
        "| method | mean scored vectors |",
        "|---|---|",
    ]
    for m, v in sorted(means.items()):
        lines.append(f"| {m} | {v:,.2f} |")
    lines += [
        "",
        "## Scored vectors per query by method",
        "",
        "| qid | " + " | ".join(mcols) + " |",
        "|---|" + "---|" * len(mcols),
    ]
    for q in sorted(pivot):
        cells = [
            "" if pivot[q][m] is None else f"{pivot[q][m]:,}" for m in mcols
        ]
        lines.append(f"| {q} | " + " | ".join(cells) + " |")
    (out_dir / "PLOTS_DATA.md").write_text("\n".join(lines) + "\n")
    print(f"wrote {out_dir}/: latency_vs_recall.svg scored_vectors.svg "
          "scored_vectors_per_query.svg PLOTS_DATA.md")


if __name__ == "__main__":
    main()
