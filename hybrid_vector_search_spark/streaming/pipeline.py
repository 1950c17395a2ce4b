"""Streaming pipeline: file-source event stream → watermarked windowed agg.

The batch/stream duality is the design point: ``windowed_agg_stream``
applies the *same* tumbling-window expression as
``operators.events.tumbling_window_agg`` — only the watermark (state
eviction bound for late data) and the distinct-user estimator differ,
because exact ``countDistinct`` needs unbounded state in a stream while
``approx_count_distinct`` (HyperLogLog++) is mergeable and bounded. At
100 TB/day the same code runs against a Kafka source by swapping
``read_events_stream`` for ``spark.readStream.format("kafka")`` + a
``from_json`` projection; everything downstream is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

TS_FMT = "yyyy-MM-dd HH:mm:ss"


def read_events_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType = EVENTS_STREAM_SCHEMA,
    max_files_per_trigger: int | None = None,
    ntz_ts: bool = False,
) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    Each newly-landed file becomes a micro-batch input (the standard
    landing-zone pattern); ``maxFilesPerTrigger`` bounds batch size for
    steady backpressure.

    ``ntz_ts=True`` reads parquet whose ``ts`` is TIMESTAMP(MICROS) with
    isAdjustedToUTC=false (what the testdata stores): the declared schema
    must say TIMESTAMP_NTZ or the vectorized reader refuses the column;
    the NTZ→TZ cast then pins the wall-clock to the UTC session zone,
    mirroring the batch loader. The streaming source also requires a
    *directory* (or glob) path — for a single file, pass a glob like
    ``.../events.parque[t]`` so basePath resolves to the parent dir.
    """
    if ntz_ts:
        # NTZ→TZ cast and downstream rendering must agree on UTC even on a
        # session without our get_spark defaults (e.g. the driver's): on
        # whole-hour zones the two cancel, but not on half-hour offsets.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        fields = [
            T.StructField("ts", T.TimestampNTZType()) if f.name == "ts" else f
            for f in schema.fields
        ]
        schema = T.StructType(fields)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    if ntz_ts:
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def materialize_landing(
    spark: SparkSession,
    sf_dir: str,
    table: str = "events",
    n_files: int | None = None,
) -> str:
    """Split a single-file testdata table into an ``n_files``-file landing
    directory (scratch parquet) for the streaming readers.

    A one-file landing zone serializes the stream's FIRST stateful
    exchange: every source task reads the same split, so the initial
    micro-batch starts from parallelism 1 (VERDICT r2 — 3.0×/2.1× probe
    ratios on the session/stateful queries). Real landing zones land many
    files per trigger; this materializes the same shape once per
    (session, sf_dir) — the streaming twin of the batch ``spread()``.
    Timestamps round-trip through the batch loader, so the landing files
    carry proper UTC-adjusted TIMESTAMP (no NTZ cast needed on read).

    Default file count is VOLUME-ADAPTIVE: one source task per ~12.5k
    rows, clamped to [4, defaultParallelism]. At sf0.1 (100k events)
    that is 8 files — 32 near-empty splits cost ~0.25 s of pure task
    launch per micro-batch (r6 sweep: hourly 0.82→0.57 s, sessions
    1.09→0.95 s) — while the ×8 probe's 800k-row batches still fan out
    to all 32 cores, preserving the scale behavior the r2 fix bought.
    """
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources.loaders import load_table

    df = load_table(spark, sf_dir, table)
    if n_files is None:
        try:
            max_files = spark.sparkContext.defaultParallelism
        except Exception:  # Spark Connect: no SparkContext handle
            max_files = 32
        n_files = max(4, min(max_files, -(-df.count() // 12_500)))
    path = scratch_path(f"landing_{table}")
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return path


def windowed_agg_stream(
    events: DataFrame,
    duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation — streaming twin of
    ``operators.events.tumbling_window_agg``.

    The watermark bounds both late-data acceptance and state size: a
    window closes (and its state is evicted) once the event-time
    high-water-mark passes ``window.end + watermark``.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "avg_value",
            "approx_users",
        )
    )


def dedup_stream(
    docs: DataFrame,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact dedup — the online twin of
    ``operators.dedup.exact_dedup_groups``: fingerprint each arriving
    document (md5 of normalized text, same portable hash as the batch
    path) and keep only the first arrival per fingerprint.

    ``dropDuplicatesWithinWatermark`` bounds the fingerprint state: a
    fingerprint is forgotten once the event-time high-water-mark passes
    its timestamp + watermark, so state is O(docs per watermark window),
    not O(corpus) — the property that makes continuous ingest dedup
    feasible. (Documents re-arriving further apart than the watermark
    both survive; the batch CC/exact pass downstream remains the
    authority, this stage just strips the high-frequency near-in-time
    duplicate storm before it hits storage.)
    """
    from hybrid_vector_search_spark.functions.text import fingerprint_md5

    return (
        docs.withColumn("fingerprint", fingerprint_md5(text_col))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def _has_streaming_aggregation(df: DataFrame) -> bool | None:
    """True when the streaming plan contains an Aggregate node (tumbling/
    session windows, any groupBy().agg() — the operators whose append-mode
    output is emitted by the watermark-advancing no-data flush batch).
    ``None`` when the plan cannot be inspected (e.g. Spark Connect has no
    JVM plan handle): the caller then degrades by KEEPING the flush
    enabled — the optimization is skipped, never turned into a hard
    failure on a plan (like the registry's own stream-stream join) that
    would have been safe (ADVICE r7 #1)."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    # analyzed-plan node names: `Aggregate [...]` covers groupBy().agg()
    # including window()/session_window() grouping; stream-stream joins
    # surface as `Join`, dropDuplicates* as `Deduplicate` — neither trips
    # this. FlatMapGroupsInPandasWithState is update-mode-only upstream.
    return "Aggregate [" in plan or "\nAggregate" in plan


DRAIN_TIMEOUT_S = 120


def _drain(writer: DataStreamWriter, what: str) -> list[dict]:
    """Start the configured ``writer`` as one ``availableNow`` drain and
    wait for it — every drain in the package goes through here.

    The query gets ``DRAIN_TIMEOUT_S`` to consume its backlog. One still
    running then is stopped and raises ``RuntimeError`` naming ``what``
    before the caller reads anything: its sink holds only the batches
    committed so far, and a running query would keep writing into it.
    Returns the drain's per-micro-batch progress reports."""
    q = writer.trigger(availableNow=True).start()
    try:
        drained = q.awaitTermination(DRAIN_TIMEOUT_S)
    finally:
        if q.isActive:
            q.stop()
    if not drained:
        raise RuntimeError(
            f"{what} did not finish within {DRAIN_TIMEOUT_S} s — refusing "
            f"to read a partial sink"
        )
    return q.recentProgress


def run_available_now(
    stream_df: DataFrame,
    table_name: str,
    output_mode: str = "complete",
    checkpoint_dir: str | None = None,
    expect_single_data_batch: bool = False,
    shuffle_partitions: int | None = None,
    flush_no_data_batch: bool = True,
) -> None:
    """Drain all currently-available input through the streaming plan into
    an in-memory sink table (test/driver harness path).

    ``availableNow`` processes the backlog in micro-batches then stops —
    the bounded-execution mode that makes a streaming job testable and
    also serves as incremental batch ("run the stream until caught up").
    The drain runs through :func:`_drain`: one still running after
    ``DRAIN_TIMEOUT_S`` is stopped and raises ``RuntimeError`` before
    anything reads the sink table.

    ``expect_single_data_batch``: fail loudly if the drain consumed input
    across more than one micro-batch (batch 0). Callers whose oracle
    depends on one-emission-per-key update-mode semantics (the stateful
    totals query) set this so a future ``maxFilesPerTrigger`` or
    rate-limited source breaks the run instead of silently yielding
    duplicate rows with intermediate totals (ADVICE r2 #5). Watermark
    flush batches carry no rows and are exempt.

    ``shuffle_partitions``: right-size the stream's STATE partitioning
    for the expected micro-batch volume. The number of state-store
    partitions is fixed at the first micro-batch from
    ``spark.sql.shuffle.partitions``; the session default (sized for
    batch scans) means every micro-batch pays that many state dirs,
    commit files, and tasks regardless of data volume. Callers with an
    ephemeral checkpoint (the drain-to-memory harness path) pass the
    size each run; a production job with a durable checkpoint must pick
    it ONCE at provisioning — it is immutable for the checkpoint's
    lifetime. The session conf is restored after the drain.

    ``flush_no_data_batch=False`` disables the trailing zero-row
    micro-batch (``spark.sql.streaming.noDataMicroBatches.enabled``)
    that availableNow otherwise appends to advance the watermark. That
    batch re-executes the whole stateful plan (~0.4-0.8 s here) and
    exists only to EMIT watermark-gated output or EVICT state — so it is
    safe to skip exactly when the operator emits eagerly on arrival and
    the checkpoint is discarded afterwards: stream-stream INNER joins
    (matches emit as both sides land; the flush only drops expired
    buffers — r6 A/B: 2.05→1.22 s, identical 172 rows) and
    ``dropDuplicates*`` (survivors emit in their arrival batch). It is
    NOT safe for watermark-emitting append-mode aggregations
    (session/tumbling windows emit IN the flush batch — r6 A/B:
    sessions returned 0 rows with the flush off) or for any durable
    checkpoint that a later incremental run resumes. That unsafe
    combination is ENFORCED, not just documented: an append-mode drain
    with the flush disabled whose plan contains a streaming aggregation
    raises ``ValueError`` before any conf is touched (the failure mode
    is a silently empty sink — the worst kind). Complete/update drains
    never schedule the flush batch in the first place (observed:
    batches=1), so the default is only load-bearing for append mode.
    """
    import os
    import shutil
    import tempfile
    import uuid

    session = stream_df.sparkSession
    # ---- validate EVERYTHING before mutating any session conf (ADVICE
    # r6 #1: a ValueError after a conf.set leaked the flush-off flag
    # session-wide, silently emptying later append-mode drains)
    if shuffle_partitions is not None and checkpoint_dir is not None:
        raise ValueError(
            "shuffle_partitions is for ephemeral checkpoints: a "
            "durable checkpoint's state partitioning is fixed at "
            "creation and must not be changed per run"
        )
    if not flush_no_data_batch:
        if checkpoint_dir is not None:
            raise ValueError(
                "flush_no_data_batch=False is only safe for ephemeral "
                "checkpoints: a durable checkpoint resumed later needs "
                "the watermark advanced before the query stops"
            )
        if output_mode == "append":
            has_agg = _has_streaming_aggregation(stream_df)
            if has_agg:
                raise ValueError(
                    "flush_no_data_batch=False on an append-mode drain whose "
                    "plan contains a streaming aggregation: watermark-gated "
                    "windows emit IN the no-data flush batch, so skipping it "
                    "returns a silently EMPTY sink (r6 A/B: session windows "
                    "-> 0 rows). Skip the flush only for eager-emitting "
                    "operators (stream-stream inner joins, dropDuplicates*)."
                )
            if has_agg is None:
                # plan not inspectable (Spark Connect): degrade to the
                # safe default — run the flush batch, skip the
                # optimization — instead of failing a safe plan
                import warnings

                warnings.warn(
                    "flush_no_data_batch=False requested but the streaming "
                    "plan cannot be inspected for aggregations on this "
                    "backend; keeping the no-data flush batch enabled",
                    RuntimeWarning,
                    stacklevel=2,
                )
                flush_no_data_batch = True
    prev_parts: str | None = None
    prev_flush: str | None = None
    _FLUSH_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"
    if not flush_no_data_batch:
        try:
            prev_flush = session.conf.get(_FLUSH_KEY)
        except Exception:
            prev_flush = "true"
        session.conf.set(_FLUSH_KEY, "false")
    if shuffle_partitions is not None:
        prev_parts = session.conf.get("spark.sql.shuffle.partitions")
        session.conf.set(
            "spark.sql.shuffle.partitions", str(int(shuffle_partitions))
        )
    # Ephemeral checkpoint placement: the drain's durability artifacts
    # (offset log, commit log, state-store delta files) are pure
    # constants here — the checkpoint is discarded after the drain — so
    # put them on tmpfs when the host has one instead of Spark's default
    # disk-backed temp dir. A PRODUCTION stream passes checkpoint_dir
    # explicitly (durable storage); this path is the harness/incremental
    # -batch drain only.
    ephemeral: str | None = None
    if checkpoint_dir is None:
        shm = "/dev/shm"
        root = shm if os.path.isdir(shm) and os.access(shm, os.W_OK) else (
            tempfile.gettempdir()
        )
        ephemeral = os.path.join(root, f"hvs_ckpt_{uuid.uuid4().hex[:12]}")
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir or ephemeral)
    )
    try:
        progress = _drain(writer, f"run_available_now: query '{table_name}'")
    finally:
        if prev_parts is not None:
            session.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if prev_flush is not None:
            session.conf.set(_FLUSH_KEY, prev_flush)
        if ephemeral is not None:
            shutil.rmtree(ephemeral, ignore_errors=True)
    if expect_single_data_batch:
        data_batches = [
            p["batchId"] for p in progress if p.get("numInputRows", 0) > 0
        ]
        if any(b != 0 for b in data_batches):
            raise AssertionError(
                "availableNow drain consumed input beyond micro-batch 0 "
                f"(data batches: {data_batches}); the one-emission-per-key "
                "oracle contract no longer holds"
            )


def session_window_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Event-time SESSION windows per user — the native Spark stateful
    sessionizer (``F.session_window``): a session extends while the next
    event arrives strictly within ``gap`` of the last, and the window
    closes (and is emitted, append-mode) once the watermark passes its
    end. The batch twin is the gap-and-islands sessionization in
    operators/events.py — identical grouping, different machinery: here
    state lives in the streaming state store and is evicted by the
    watermark instead of being a window function over a complete sort."""
    from hybrid_vector_search_spark.functions.portable import round_portable

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_portable(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("user_id"),
            F.date_format(F.col("w.start"), TS_FMT).alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def stateful_user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running totals held in explicit GroupState — the escape hatch for
    stateful logic the built-in windowed/dedup operators cannot express
    (per-key counters, custom eviction, model state). Each micro-batch
    updates the (n, sum) state per user and emits the running totals;
    an availableNow drain over one landing file runs exactly one batch,
    so the emitted rows ARE the final totals (the registry query's
    oracle is the batch GROUP BY)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id LONG, n_events LONG, sum_value DOUBLE"
    state_schema = "n LONG, s DOUBLE"

    def fn(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    # Project to the two columns the kernel reads BEFORE the opaque
    # stateful node (guide §4/§2.3): Catalyst cannot prune through
    # FlatMapGroupsInPandasWithState, so without this every event column
    # (including the wide ``props`` string) is scanned, shuffled into the
    # state partitions, and Arrow-shipped to the Python workers per
    # micro-batch. Same grouping, same state, same output rows.
    return events.select("user_id", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sink_to_parquet(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_by: str | None = None,
) -> None:
    """Exactly-once streaming parquet sink — the landing-zone writer.

    The file sink commits each micro-batch through a write-ahead file log
    (``_spark_metadata``): a batch is visible to readers only after its
    log entry commits, and a restarted query resumes from the checkpoint
    without rewriting committed batches — re-draining the same input is
    a no-op, not a duplicate (asserted in tests/test_streaming.py). With
    ``partition_by`` the landing layout is hive-partitioned, so the
    downstream batch jobs get partition pruning on the sink column for
    free. Append-mode only, matching the sink's contract. The drain
    runs through :func:`_drain`: one still running after
    ``DRAIN_TIMEOUT_S`` is stopped and raises ``RuntimeError``, since
    the landing dir then holds only part of the input."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if partition_by:
        writer = writer.partitionBy(partition_by)
    _drain(writer, f"sink_to_parquet: query writing '{out_dir}'")


def view_purchase_join_stream(
    views: DataFrame,
    purchases: DataFrame,
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM inner join with an event-time bound: each view event
    pairs with the same user's purchase events landing within ``within``
    of it — the attribution join (did the view convert?) every
    clickstream pipeline runs, as two live streams instead of a batch
    backfill.

    Both sides carry watermarks, which is what BOUNDS THE JOIN STATE: a
    buffered view can be dropped once the purchase-side watermark passes
    ``view_ts + within`` (no future purchase can reach back further),
    and symmetrically for buffered purchases — state is O(events per
    watermark horizon), never O(stream). The time bound rides in the
    join condition itself, so Spark derives the state-eviction
    thresholds from it (the documented stream-stream join contract).
    Inner-join matches emit as soon as both sides arrive; an availableNow
    drain therefore emits exactly the batch join's pairs, which is what
    lets the registry value-hash this operator against a plain SQL join.
    """
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("buyer_id"),
        F.col("ts").alias("buy_ts"),
        F.col("value"),
    ).withWatermark("buy_ts", watermark)
    return v.join(
        p,
        (F.col("user_id") == F.col("buyer_id"))
        & (F.col("buy_ts") >= F.col("view_ts"))
        & (F.col("buy_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    ).select(
        "view_id",
        "purchase_id",
        "user_id",
        # microsecond-exact difference, floored once: floor(a) - floor(b)
        # over second-truncated stamps would drift ±1s vs floor(a - b)
        (
            (F.unix_micros("buy_ts") - F.unix_micros("view_ts"))
            / F.lit(1_000_000)
        )
        .cast("long")
        .alias("gap_sec"),
        "value",
    )
