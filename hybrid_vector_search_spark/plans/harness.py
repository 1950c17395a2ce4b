"""Benchmark/evaluation harness (reference §3.1: src/harness/run.py).

Per query: parse + validate filters (hard error aborts the run, nothing
logged), compute selectivity, run the chosen strategy, run the float64
brute-force oracle over the *allowed subset* (reference src/eval/oracle.py),
score recall, append one fixed-order JSONL stats row (§2.10 contract):

    qid, method, K, latency_ms, recall_at_k, filter_selectivity,
    scored_vectors, lists_probed, nprobe, kth_at_stop, bound_at_stop,
    notes, timestamp_utc, run_id

Injectable seams (the reference's tests specify them — quirk Q5):
``backend_factory`` and ``oracle_factory`` default to the engine registry
but can be swapped by tests.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable, Sequence
from datetime import datetime, timezone
from typing import Any

import numpy as np
from pyspark.sql import DataFrame

from hybrid_vector_search_spark.functions.predicates import (
    compile_filters,
    parse_filters,
)
from hybrid_vector_search_spark.operators.strategies import (
    ExactBackend,
    SearchBackend,
    allowed_count,
    get_backend,
)
from hybrid_vector_search_spark.plans.canonical import CANONICAL_QUERIES, CanonicalQuery
from hybrid_vector_search_spark.plans.metrics import recall_at_k, selectivity
from hybrid_vector_search_spark.queryvecs import query_vector
from hybrid_vector_search_spark.serving import resident_serve
from hybrid_vector_search_spark.sources.loaders import validate_K

STATS_FIELDS = (
    "qid",
    "method",
    "K",
    "latency_ms",
    "recall_at_k",
    "filter_selectivity",
    "scored_vectors",
    "lists_probed",
    "nprobe",
    "kth_at_stop",
    "bound_at_stop",
    "notes",
    "timestamp_utc",
    "run_id",
)


def append_jsonl(row: dict[str, Any], out_path: str) -> None:
    """Append one result row, creating parent dirs (reference S6:
    src/logger.py:6-10)."""
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    with open(out_path, "a", encoding="utf-8") as f:
        f.write(json.dumps(row) + "\n")


def make_run_id(version: str, backend: str) -> str:
    """``{version}_{backend}_{8-hex}`` — constant across a run (reference
    U9: src/harness/run.py:146)."""
    return f"{version}_{backend}_{uuid.uuid4().hex[:8]}"


def run_queries(
    corpus: DataFrame,
    backend_name: str,
    queries: Sequence[CanonicalQuery] = CANONICAL_QUERIES,
    k: int | None = None,
    n: int | None = None,
    out_path: str | None = None,
    version: str = "testdata",
    max_queries: int | None = None,
    backend_factory: Callable[..., SearchBackend] = get_backend,
    oracle_factory: Callable[..., SearchBackend] | None = None,
    backend_kwargs: dict[str, Any] | None = None,
    qvec_factory: Callable[[int, int], np.ndarray] | None = None,
    concurrency: int = 1,
) -> list[dict[str, Any]]:
    """Run the query table through one strategy; emit §2.10 stats rows.

    The oracle is the exact strategy over the same filtered universe, so
    ``recall_at_k ≡ 1.0`` when ``backend_name == "exact"`` by construction.

    ``backend_name="auto"`` is the COSTED PLANNER default (r10 verdict
    task 6): one ingest-style column-statistics pass (exact-ndv, so an
    ANSI oracle can replay it), then per query
    ``choose_backend_costed`` picks pre_filter vs post_filter from the
    System-R estimate — the reference's manual ``--backend`` flag made
    a per-query planner decision. The chosen strategy executes, the
    row's ``method`` is the choice, and ``notes`` carries
    ``auto:<choice> est=<estimate>`` (machine-parseable; the
    harness_auto_costed_batch oracle re-derives both)."""
    if n is None:
        n = corpus.count()
    # V5: query dim must equal corpus dim (reference: run.py:140) — the
    # harness generates query vectors at the corpus's own dimensionality.
    import pyspark.sql.functions as F

    dim = corpus.select(F.size("embedding").alias("d")).first()["d"]
    auto = backend_name == "auto"
    if auto:
        from hybrid_vector_search_spark.functions.colstats import (
            collect_column_stats,
        )
        from hybrid_vector_search_spark.operators.ivf import (
            DEFAULT_NPROBE,
            default_nlist,
        )
        from hybrid_vector_search_spark.operators.strategies import (
            choose_backend_costed,
        )

        geo = {"lat_between": "latitude", "lon_between": "longitude"}
        stat_cols = sorted(
            {geo.get(c, c) for cq in queries for c in (cq.filters or {})}
        )
        stats = collect_column_stats(corpus, stat_cols, exact_ndv=True)
        auto_nlist = default_nlist(n)
        auto_nprobe = min(DEFAULT_NPROBE, auto_nlist)
        made: dict[str, SearchBackend] = {}
        backend = None
    else:
        backend = backend_factory(
            backend_name, corpus, n, **(backend_kwargs or {})
        )
    oracle = (
        oracle_factory(corpus, n)
        if oracle_factory is not None
        else ExactBackend(corpus, n)
    )
    run_id = make_run_id(version, backend_name)

    todo = list(queries)[: max_queries or len(queries)]

    # Validate everything up front: a malformed spec aborts the whole run
    # with no partial output (reference: run.py:163-167 + test :272-300).
    parsed: list[tuple[CanonicalQuery, dict, np.ndarray]] = []
    for cq in todo:
        filters = parse_filters(cq.filters)
        compile_filters(corpus.schema, filters)  # schema check, hard error
        validate_K(cq.k if k is None else k, n)
        # qvec_factory lets an evaluation harness align queries with a
        # structured corpus (tools/parity_recall.py blends toward the
        # planted cluster centroids); default is the shared seeded
        # generator both engines' oracles replay
        parsed.append(
            (cq, filters, (qvec_factory or query_vector)(cq.seed, dim))
        )

    # Resolve each query's backend UP FRONT (auto: the costed decision
    # is pure driver arithmetic over the shared stats pass; instantiating
    # the ≤2 chosen strategies once keeps index builds out of the loop).
    plan: list[tuple[CanonicalQuery, dict, np.ndarray, Any, str | None]] = []
    for cq, filters, qvec in parsed:
        auto_note = None
        b = backend
        if auto:
            choice, est = choose_backend_costed(
                stats, filters, auto_nprobe, auto_nlist
            )
            if choice not in made:
                made[choice] = backend_factory(
                    choice, corpus, n, **(backend_kwargs or {})
                )
            b = made[choice]
            auto_note = f"auto:{choice} est={est}"
        plan.append((cq, filters, qvec, b, auto_note))

    # |allowed| for filter_selectivity: from the resident tier when it
    # holds the filters, else a count job (memoized per cache entry on a
    # resident corpus)
    dispatch = resident_serve(corpus)

    def n_allowed(filters: dict) -> int:
        if dispatch is not None and dispatch.holds(filters):
            return dispatch.tier.count_allowed(filters)
        return allowed_count(
            corpus, filters, compile_filters(corpus.schema, filters)
        )

    def one(item) -> dict[str, Any]:
        cq, filters, qvec, b, auto_note = item
        kk = cq.k if k is None else k
        allowed = n_allowed(filters)

        t0 = time.perf_counter()
        ids, stats_q = b.search(qvec, filters, kk)
        latency_ms = (time.perf_counter() - t0) * 1000.0

        oracle_ids, _ = oracle.search(qvec, filters, kk)
        row = {
            "qid": cq.qid,
            "method": b.name,
            "K": kk,
            "latency_ms": latency_ms,
            "recall_at_k": recall_at_k(ids, oracle_ids, kk),
            "filter_selectivity": selectivity(allowed, n),
            "scored_vectors": stats_q.get("scored_vectors"),
            "lists_probed": stats_q.get("lists_probed"),
            "nprobe": stats_q.get("nprobe"),
            "kth_at_stop": stats_q.get("kth_at_stop"),
            "bound_at_stop": stats_q.get("bound_at_stop"),
            "notes": (
                f"{auto_note};{stats_q['notes']}"
                if auto_note and stats_q.get("notes")
                else auto_note or stats_q.get("notes")
            ),
            "timestamp_utc": datetime.now(timezone.utc).isoformat(),
            "run_id": run_id,
        }
        assert tuple(row.keys()) == STATS_FIELDS
        return row

    if concurrency > 1:
        # per-query plans are independent bounded job chains; a wall-
        # clock consumer (the registry batch entry) runs them pooled.
        # latency_ms still brackets each search individually, but under
        # contention it includes scheduler queueing — benchmark runs
        # that REPORT latency keep the serial default.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(int(concurrency)) as ex:
            rows = list(ex.map(one, plan))
        if out_path:  # pooled: rows land when the batch completes
            for row in rows:
                append_jsonl(row, out_path)
    else:
        # serial: append each row AS IT FINISHES — the append-only
        # stats-log contract survives a crash or interrupt mid-run
        # (batching the writes would lose every completed row)
        rows = []
        for item in plan:
            row = one(item)
            rows.append(row)
            if out_path:
                append_jsonl(row, out_path)
    return rows


def main(argv: Sequence[str] | None = None) -> None:
    """CLI mirroring the reference harness (``python -m src.harness.run``
    with --version/--backend/--K/--max_queries/--out — run.py:94-104)."""
    import argparse

    from hybrid_vector_search_spark.session import get_spark
    from hybrid_vector_search_spark.sources.loaders import load_corpus

    p = argparse.ArgumentParser(description="hybrid-search evaluation harness")
    p.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    p.add_argument("--backend", default="exact",
                   choices=["auto", "exact", "pre_filter", "post_filter",
                            "post_filter_lsh", "random"])
    p.add_argument("--K", type=int, default=10)
    p.add_argument("--max_queries", type=int, default=10)
    p.add_argument("--out", default="results/results.jsonl")
    args = p.parse_args(argv)

    spark = get_spark("harness")
    corpus = load_corpus(spark, args.sf_dir)
    rows = run_queries(
        corpus,
        args.backend,
        k=args.K,
        max_queries=args.max_queries,
        out_path=args.out,
        version=os.path.basename(args.sf_dir.rstrip("/")),
    )
    print(json.dumps(summarize(rows), indent=2))


def load_results(spark, path: str):
    """Tolerant results.jsonl scan (reference S8,
    plots/latency_recall.py:9-19: json.loads per line, bad lines
    skipped): PERMISSIVE JSON read routing unparseable lines to the
    corrupt-record column, which are then dropped — same
    keep-what-parses semantics, but distributed."""
    from pyspark.sql import functions as F

    df = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    if "_corrupt" in df.columns:
        df = df.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    return df


def summarize(rows: list[dict[str, Any]]) -> dict[str, Any]:
    """Plots-equivalent summary aggregations (reference A3/A4,
    plots/latency_recall.py:48,65) as plain reductions over stats rows."""
    by_method: dict[str, list[dict[str, Any]]] = {}
    for r in rows:
        by_method.setdefault(r["method"], []).append(r)
    out: dict[str, Any] = {}
    for m, rs in by_method.items():
        lat = sorted(r["latency_ms"] for r in rs)
        out[m] = {
            "n": len(rs),
            "mean_latency_ms": sum(lat) / len(lat),
            "median_latency_ms": lat[len(lat) // 2],
            "mean_recall_at_k": sum(r["recall_at_k"] for r in rs) / len(rs),
            "mean_scored_vectors": sum(r["scored_vectors"] or 0 for r in rs) / len(rs),
        }
    return out


if __name__ == "__main__":
    main()
