"""Metric catalogue and the arithmetic that turns timed ops into metrics.

``END_TO_END`` is printed by an untraced run and ``PER_LAYER`` by a traced
one; both lists are mirrored in ``BENCHMARK.json`` (the fast tests check
that they agree). Every workload prints every metric of its list: a
per-layer metric whose layer a workload does not run reads 0.
"""

from __future__ import annotations

import math
import statistics

# (name, unit, better, bound)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("p50_ms", "ms", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
)

#: op kinds of each workload
KINDS = {
    "hybrid_point": ("prefilter", "postfilter", "serve"),
    "ingest": ("upsert", "fresh_read", "snapshot_read", "drain"),
}
#: kinds that run Spark jobs (the others answer in-process)
SPARK_KINDS = ("prefilter", "postfilter", "upsert", "snapshot_read", "drain")

SPARK_COUNTERS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("job_ms", "ms"), ("driver_ms", "ms"), ("executor_run_ms", "ms"),
    ("executor_cpu_ms", "ms"), ("scheduler_delay_ms", "ms"), ("gc_ms", "ms"),
    ("input_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"), ("result_bytes", "bytes"),
)

_LAYER = (
    # per-kind medians of the traced ops (the untraced ones are printed on
    # the detail line of every run)
    ("kind.prefilter_p50_ms", "ms", "lower"),
    ("kind.postfilter_p50_ms", "ms", "lower"),
    ("kind.serve_p50_ms", "ms", "lower"),
    ("kind.upsert_p50_ms", "ms", "lower"),
    ("kind.fresh_read_p50_ms", "ms", "lower"),
    ("kind.snapshot_read_p50_ms", "ms", "lower"),
    ("kind.drain_p50_ms", "ms", "lower"),
    ("quality.postfilter_recall_at_10", "ratio", "higher"),
    ("quality.failed_frac", "ratio", "lower"),
    ("trace.overhead_ms", "ms", "lower"),
    ("predicates.compile_ms", "ms", "lower"),
    ("predicates.mask_ms", "ms", "lower"),
    ("strategies.plan_ms", "ms", "lower"),
    ("strategies.scored_vectors", "count", "lower"),
    ("strategies.useful_ratio", "ratio", "higher"),
    ("ivf.probe_ms", "ms", "lower"),
    ("ivf.rungs_run", "count", "lower"),
    ("ivf.ladder_entry", "count", "lower"),
    ("ivf.scored_vectors", "count", "lower"),
    ("ivf.lists_probed", "count", "lower"),
    ("ivf.useful_ratio", "ratio", "higher"),
    ("ivf.build_s", "s", "lower"),
    ("ivf.upsert_ms", "ms", "lower"),
    ("ivf.touched_lists", "count", "lower"),
    ("ivf.rewrite_amplification", "ratio", "lower"),
    ("serving.prefilter_topk_ms", "ms", "lower"),
    ("serving.exact_topk_ms", "ms", "lower"),
    ("serving.count_allowed_ms", "ms", "lower"),
    ("serving.resident_build_s", "s", "lower"),
    ("serving.resident_bytes", "bytes", "lower"),
    ("serving.ann_route_ms", "ms", "lower"),
    ("sources.loaders.corpus_load_s", "s", "lower"),
    ("sources.manifest.commit_append_ms", "ms", "lower"),
    ("sources.manifest.bytes_written_per_user_byte", "ratio", "lower"),
    ("sources.manifest.read_snapshot_ms", "ms", "lower"),
    ("sources.storage.layout_files", "count", "lower"),
    ("sources.storage.manifest_files", "count", "lower"),
    ("sources.storage.bytes_per_live_byte", "ratio", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.input_rows", "count", "lower"),
    ("streaming.addBatch_ms", "ms", "lower"),
    ("streaming.queryPlanning_ms", "ms", "lower"),
    ("streaming.getBatch_ms", "ms", "lower"),
    ("streaming.latestOffset_ms", "ms", "lower"),
    ("streaming.walCommit_ms", "ms", "lower"),
    ("streaming.commitOffsets_ms", "ms", "lower"),
    ("streaming.triggerExecution_ms", "ms", "lower"),
    ("streaming.state_rows_total", "count", "lower"),
    ("streaming.state_memory_bytes", "bytes", "lower"),
    ("plans.build_ms", "ms", "lower"),
    ("plans.deliver_ms", "ms", "lower"),
    ("plans.registry_streaming_layouts_ms", "ms", "lower"),
    ("plans.registry_relational_ms", "ms", "lower"),
    ("plans.registry_sketches_ms", "ms", "lower"),
)

PER_LAYER = _LAYER + tuple(
    (f"spark.{kind}.{name}", unit, "lower")
    for kind in SPARK_KINDS
    for name, unit in SPARK_COUNTERS
) + tuple(
    (f"driver.{kind}.cpu_ms", "ms", "lower") for kind in SPARK_KINDS
)

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int:
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond it
    (p50 when there are too few samples for any of them)."""
    best = 50
    for q in (75, 90, 95, 99):
        if n * (100 - q) / 100.0 >= 10:
            best = q
    return best


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def kind_summary(ops: list[dict]) -> dict[str, dict]:
    """Per kind: sample count, median, the reportable tail percentile and
    p90 with its count of samples beyond it, over ops that succeeded."""
    out: dict[str, dict] = {}
    for kind in sorted({op["kind"] for op in ops}):
        ms = [op["ms"] for op in ops if op["kind"] == kind and op["ok"]]
        if not ms:
            continue
        tail = tail_percentile(len(ms))
        out[kind] = {
            "n": len(ms),
            "p50_ms": statistics.median(ms),
            "p90_ms": percentile(ms, 90),
            "p90_beyond": int(len(ms) * 0.1),
            f"p{tail}_ms": percentile(ms, tail),
            "mean_ms": statistics.fmean(ms),
        }
    return out


def typical_ms(ops: list[dict]) -> float:
    """Geometric mean over op types — (kind, variant): a method on one
    filter template, one registry drain — of each type's median latency.
    The types differ in cost by up to 100x, so a plain median over all ops
    would report whichever type sits in the middle; the geometric mean
    moves by the same ratio whichever type gets faster."""
    by_type: dict[tuple[str, str], list[float]] = {}
    for op in ops:
        by_type.setdefault((op["kind"], op.get("variant", "")), []).append(op["ms"])
    return geomean([statistics.median(v) for v in by_type.values()])


def end_to_end(workload: str, ops: list[dict], setup_s: float,
               peak_rss_mb: float) -> dict[str, float]:
    """The ``END_TO_END`` values of one untraced run."""
    ok = [op for op in ops if op["ok"] and op["kind"] in KINDS[workload]]
    missing = set(KINDS[workload]) - {op["kind"] for op in ok}
    if missing:
        raise RuntimeError(f"no successful {sorted(missing)} ops to report")
    return {
        "setup_s": setup_s,
        "p50_ms": typical_ms(ok),
        "peak_rss_mb": peak_rss_mb,
    }


def failed_frac(attempted: int, failed: int) -> float:
    return failed / attempted if attempted else 1.0


def result_line(correct: bool, attempted: int, failed: int,
                values: dict[str, float]) -> dict:
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": float(v), "unit": UNITS[k]} for k, v in values.items()
        },
    }
