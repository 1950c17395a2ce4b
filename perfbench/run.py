"""Benchmark driver: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload hybrid_point --seed 1 --seconds 5 --trace 0

Run from the repository root. Every file the run writes goes under
``.bench_build/perfbench/`` there (cached inputs, Spark scratch, traces).
The last line of stdout is ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it (``perfbench-detail ...``) holds the
per-kind percentiles with their sample counts, recall, the failures and
the environment stamp. Exits non-zero, printing no result, when the engine
or its test data is missing or set-up fails.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _environment() -> str:
    """Point every scratch location of Python, Spark and the engine inside
    the checkout, before anything imports them. Returns the sf0.1 dir."""
    if not os.path.isfile(os.path.join(ROOT, "hybrid_vector_search_spark", "__init__.py")):
        _fail(f"engine package not found under {ROOT}")
    env = {
        "TMPDIR": os.path.join(WORK, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(WORK, "scratch"),
    }
    for k, v in env.items():
        os.makedirs(v, exist_ok=True)
        os.environ[k] = v
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # the engine's default driver heap (16g) exceeds small hosts' RAM
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT]
    # $SPARK_GRAFT_SF_DIR, else the engine's default test-data location
    from hybrid_vector_search_spark.sources.loaders import DEFAULT_SF_DIR

    for t in ("embeddings", "documents", "events"):
        if not os.path.isfile(os.path.join(DEFAULT_SF_DIR, f"{t}.parquet")):
            _fail(f"test data table {t} not found in {DEFAULT_SF_DIR}")
    return DEFAULT_SF_DIR


def _stamp(args, run) -> dict:
    import numpy
    import pyspark

    from perfbench.workloads import source_digest

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "pyspark": pyspark.__version__, "numpy": numpy.__version__,
        "engine_source": source_digest(ROOT), "commit": _commit(),
        "corpus": run.detail.get("corpus"),
    }


def _commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            return open(os.path.join(ROOT, ".git", ref[5:])).read().strip()
        return ref
    except OSError:
        return "unknown (not a git checkout)"


def _shutdown(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    if spark is None:
        return
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("hybrid_point", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    sf_dir = _environment()

    from perfbench import metrics
    from perfbench.workloads import WORKLOADS, Run

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              ROOT, WORK, sf_dir, T_START)
    try:
        WORKLOADS[args.workload](run)
        run.log(f"measured {len(run.ops)} ops")
        rss = run.rss_mb()
        if args.trace:
            values = run.per_layer()
            trace_file = run.write_trace()
        else:
            values = metrics.end_to_end(args.workload, run.ops, run.setup_s, rss)
            trace_file = None
    except Exception:
        traceback.print_exc()
        _shutdown(run.spark)
        return 1
    _shutdown(run.spark)

    led = run.ledger
    detail = {
        "kinds": metrics.kind_summary([o for o in run.ops if not o["traced"]]),
        "op_ms": {k: [round(o["ms"], 2) for o in run.ops if o["kind"] == k]
                  for k in dict.fromkeys(o["kind"] for o in run.ops)},
        "failed_frac": metrics.failed_frac(led.attempted, led.failed),
        "failures": led.first,
        "setup_s": run.setup_s, "peak_rss_mb": rss,
        "excluded_setup_s": run.excluded_s,
        "trace_file": trace_file,
        **{k: v for k, v in run.detail.items() if k != "corpus"},
        "stamp": _stamp(args, run),
    }
    for f in led.first:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print("perfbench-detail " + json.dumps(detail, default=float))
    print(json.dumps(metrics.result_line(led.failed == 0, led.attempted,
                                         led.failed, values)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
