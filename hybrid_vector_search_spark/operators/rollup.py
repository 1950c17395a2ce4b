"""Day-partitioned rollup table + partition-local incremental
maintenance — the RELATIONAL leg of the engine's index-maintenance
story (the vector leg is the IVF upsert/compaction, operators/ivf.py;
the lexical leg is the BM25 postings append, operators/bm25.py; this
closes the triangle for the aggregate tables every 100-TB pipeline
serves dashboards from).

The table stores ALGEBRAIC partial aggregates — ``(day, event_type) →
(n_events, sum_value)`` — partitioned by day. Because count and sum
merge associatively, a late-arriving batch (reprocessed events, a
backfilled source, a corrected day) never forces a full recompute NOR a
re-scan of raw history: aggregate the batch alone, read ONLY the
touched day partitions of the rollup, combine, and rewrite just those
partitions with dynamic partition overwrite. Cost per batch is
O(|touched days| · rows-per-day-in-rollup + |batch|), independent of
table history length — the same bytes-∝-touched property as the IVF
upsert.

Float discipline: ``sum_value`` lives on the input's 2-decimal grid and
is SNAPPED there (functions/portable.py round_portable) before storage,
so merge order can never drift an ULP from a from-scratch recompute —
grid points are exactly representable, so snap(snap(a)+snap(b)) ==
snap(a+b) for 2-decimal inputs, which is what lets a full-recompute SQL
oracle hash-match the merged table.

CRASH SAFETY: the merged partitions are staged to scratch, then
committed through ``scratch.staged_commit`` — the one protocol of every
plain-parquet layout, described there; a crash is repaired on the next
merge or open.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hybrid_vector_search_spark.functions.portable import round_portable
from hybrid_vector_search_spark.scratch import (
    overwrite_partitions,
    recover_staged,
    scratch_path,
    staged_commit,
)

GRID_DIGITS = 2  # events.value lives on a 2-decimal grid


def day_expr(ts_col: str = "ts") -> F.Column:
    """Partition key: calendar day as a STRING (matches the oracle's
    strftime and avoids partition-column date inference ambiguity)."""
    return F.date_format(ts_col, "yyyy-MM-dd")


def aggregate_partials(events: DataFrame) -> DataFrame:
    """(day, event_type) algebraic partials over raw events — the same
    expression for the initial build and every batch, so merge inputs
    are always grid-snapped the same way."""
    return events.groupBy(
        day_expr().alias("day"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        round_portable(F.sum("value"), GRID_DIGITS).alias("sum_value"),
    )


def _write_partitions(df: DataFrame, path: str, n_days: int, mode: str) -> None:
    """ONE file per day directory (the r7 layout lesson: pre-write
    repartition on the partition column, write-slivers are pure
    file-open cost on pruned reads)."""
    df.repartition(max(n_days, 1), "day").write.mode(mode).partitionBy(
        "day"
    ).parquet(path)


def build_rollup(events: DataFrame, path: str) -> int:
    """Initial build: aggregate and write the day-partitioned table.
    Returns the number of day partitions written."""
    agg = aggregate_partials(events)
    n_days = agg.select("day").distinct().count()
    _write_partitions(agg, path, n_days, "overwrite")
    return int(n_days)


_ROLLUP_META = "rollup_meta.json"


def read_rollup_meta(path: str) -> dict:
    """Side metadata committed WITH a merge (see ``commit_meta``) —
    e.g. the streaming maintainer's high-watermark batch id."""
    p = os.path.join(path, _ROLLUP_META)
    if not os.path.exists(p):
        return {}
    with open(p, encoding="utf-8") as f:
        return json.load(f)


def _commit_merge(spark: SparkSession, path: str, info: dict) -> None:
    """The merge's staged-commit apply: overwrite the touched day
    partitions from the stage, then write ``rollup_meta.json``."""
    overwrite_partitions(spark, path, info, "day")
    # commit_meta lands INSIDE the marker window: a crash after the
    # overwrite but before this write replays the whole commit (both
    # steps idempotent), so meta and table can never split-brain —
    # that invariant is what gives the streaming maintainer
    # exactly-once merges under foreachBatch's at-least-once replay
    if info.get("commit_meta") is not None:
        with open(
            os.path.join(path, _ROLLUP_META), "w", encoding="utf-8"
        ) as f:
            json.dump(info["commit_meta"], f)


def merge_rollup_batch(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    commit_meta: dict | None = None,
) -> dict:
    """Merge a batch of raw events into the rollup, rewriting ONLY the
    touched day partitions. ``commit_meta``, when given, is written to
    ``rollup_meta.json`` atomically WITH the merge (same marker
    window). Returns ``{"touched_days": T, "batch_rows": B}``."""
    # never stack on a crash
    recover_staged(path, lambda info: _commit_merge(spark, path, info))
    partials = aggregate_partials(batch)
    touched = sorted(
        r["day"] for r in partials.select("day").distinct().collect()
    )
    if not touched:
        return {"touched_days": 0, "batch_rows": 0}
    existing = spark.read.parquet(path).filter(
        F.col("day").cast("string").isin(touched)
    )
    merged = (
        # cast: the partition column may read back date-typed under
        # partition-type inference; the union side is string
        existing.select(
            F.col("day").cast("string").alias("day"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .unionByName(partials)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            # partials are grid-snapped, so this re-snap equals the
            # from-scratch sum regardless of merge order
            round_portable(F.sum("sum_value"), GRID_DIGITS).alias(
                "sum_value"
            ),
        )
    )
    stage = scratch_path("rollup_merge_stage")
    _write_partitions(merged, stage, len(touched), "overwrite")
    batch_rows = int(
        partials.agg(F.sum("n_events")).collect()[0][0] or 0
    )
    info = {
        "stage": stage,
        "n_touched": len(touched),
        "commit_meta": commit_meta,
    }
    staged_commit(path, info, lambda i: _commit_merge(spark, path, i))
    return {"touched_days": len(touched), "batch_rows": batch_rows}


def streaming_merge_batch(table: str, batch: DataFrame, batch_id: int) -> None:
    """The ``foreachBatch`` body of a continuously-maintained rollup —
    EXACTLY-ONCE under Structured Streaming's at-least-once replay:
    the micro-batch id commits to ``rollup_meta.json`` inside the
    merge's marker window, so a replayed batch sees ``batch_id <=
    last_batch_id`` and skips. Bootstrap is gated on META presence,
    NOT dir existence: a crash between :func:`build_rollup` and the
    meta write leaves the table dir present but meta-less, and the
    replayed bootstrap batch must RE-RUN the deterministic overwrite
    (identical result) — taking the merge path there would
    double-count the batch into a possibly half-written table."""
    sp = batch.sparkSession
    meta = read_rollup_meta(table)
    if not meta:
        build_rollup(batch, table)
        with open(
            os.path.join(table, _ROLLUP_META), "w", encoding="utf-8"
        ) as f:
            json.dump({"last_batch_id": int(batch_id)}, f)
        return
    if batch_id <= meta.get("last_batch_id", -1):
        return  # at-least-once replay of an applied batch
    merge_rollup_batch(
        sp, table, batch, commit_meta={"last_batch_id": int(batch_id)}
    )


def open_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Open the rollup for reading, first completing any crashed merge
    (the open_partitioned contract, relational edition)."""
    recover_staged(path, lambda info: _commit_merge(spark, path, info))
    return spark.read.parquet(path)
