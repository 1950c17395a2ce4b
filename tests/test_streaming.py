"""Streaming twins match their batch operators on the same input."""

import os
from datetime import datetime

import pytest

from hybrid_vector_search_spark.operators import events as EV
from hybrid_vector_search_spark.streaming import (
    read_events_stream,
    run_available_now,
    sessionize_stream,
    windowed_agg_stream,
)

ROWS = [
    (0, datetime(2024, 1, 1, 0, 0, 0), 1, "view", 1.0, '{"k": 5}'),
    (1, datetime(2024, 1, 1, 0, 10, 0), 1, "click", 2.0, '{"k": 7}'),
    (2, datetime(2024, 1, 1, 0, 50, 0), 1, "view", 3.0, "{}"),
    (3, datetime(2024, 1, 1, 1, 0, 0), 2, "view", 4.0, '{"k": 1}'),
    (4, datetime(2024, 1, 1, 1, 30, 0), 2, "purchase", 5.0, '{"k": 2}'),
    (5, datetime(2024, 1, 1, 1, 30, 0), 2, "view", 6.0, None),
]
DDL = (
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _stored(spark, key):
    """The artifact a query stored in the session store under ``key``."""
    from hybrid_vector_search_spark.session import artifact

    return artifact(spark, key, lambda: pytest.fail(f"{key} was not built"))


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_stream"))
    spark.createDataFrame(ROWS, DDL).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def test_windowed_agg_stream_matches_batch(spark, events_dir, tmp_path):
    stream = read_events_stream(spark, events_dir)
    assert stream.isStreaming
    agg = windowed_agg_stream(stream, "1 hour", watermark="2 hours")
    run_available_now(
        agg, "win_agg_out", output_mode="complete",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("win_agg_out").collect()
    }
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in EV.tumbling_window_agg(
            spark.createDataFrame(ROWS, DDL), "1 hour"
        ).collect()
    }
    assert got == batch


def test_sessionize_stream_matches_batch(spark, events_dir, tmp_path):
    stream = read_events_stream(spark, events_dir)
    sess = sessionize_stream(stream, gap_minutes=30)
    run_available_now(
        sess, "sess_out", output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    got = {
        r.event_id: r.session_seq for r in spark.table("sess_out").collect()
    }
    batch = {
        r.event_id: r.session_seq
        for r in EV.sessionize(
            spark.createDataFrame(ROWS, DDL), 30
        ).collect()
    }
    assert got == batch and len(got) == len(ROWS)


def test_session_state_carries_across_batches(spark, tmp_path):
    """Two availableNow drains over a growing directory against one
    checkpoint: the second run's session numbering continues from the
    persisted GroupState (memory sink can't recover a checkpoint, so the
    output goes through foreachBatch)."""
    d = str(tmp_path / "grow")
    ckpt = str(tmp_path / "ckpt3")
    out: dict[int, int] = {}

    def drain():
        sess = sessionize_stream(read_events_stream(spark, d), gap_minutes=30)
        q = (
            sess.writeStream.foreachBatch(
                lambda bdf, _id: out.update(
                    {int(r.event_id): int(r.session_seq) for r in bdf.collect()}
                )
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    first = ROWS[:2]  # user 1: two events 10 min apart → one session
    spark.createDataFrame(first, DDL).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    drain()
    assert out == {0: 1, 1: 1}

    # a later event for user 1, > 30 min after the last → new session (2)
    late = [(9, datetime(2024, 1, 1, 2, 0, 0), 1, "view", 7.0, "{}")]
    spark.createDataFrame(late, DDL).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    drain()
    assert out[9] == 2


def test_dedup_stream_drops_in_window_duplicates(spark, tmp_path):
    """Docs arriving in two micro-batches: in-watermark duplicates are
    dropped, first arrival survives."""
    from hybrid_vector_search_spark.streaming import dedup_stream

    d = str(tmp_path / "docs_stream")
    ddl = "doc_id LONG, ts TIMESTAMP, text STRING"
    batch1 = [
        (0, datetime(2024, 1, 1, 0, 0, 0), "alpha beta gamma"),
        (1, datetime(2024, 1, 1, 0, 5, 0), "delta epsilon"),
    ]
    batch2 = [
        # duplicate of doc 0 (same normalized text) 10 min later -> dropped
        (2, datetime(2024, 1, 1, 0, 10, 0), "  Alpha  BETA gamma "),
        (3, datetime(2024, 1, 1, 0, 15, 0), "zeta eta"),
    ]
    ckpt = str(tmp_path / "ckpt_dedup")
    kept: set[int] = set()

    def drain():
        stream = spark.readStream.schema(ddl).parquet(d)
        q = (
            dedup_stream(stream, watermark="1 hour")
            .writeStream.foreachBatch(
                lambda bdf, _id: kept.update(
                    int(r.doc_id) for r in bdf.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(batch1, ddl).coalesce(1).write.parquet(
        d, mode="overwrite"
    )
    drain()
    assert kept == {0, 1}
    spark.createDataFrame(batch2, ddl).coalesce(1).write.parquet(d, mode="append")
    drain()
    assert kept == {0, 1, 3}  # doc 2 deduped against doc 0's fingerprint


def test_registry_streaming_hourly_matches_batch(spark):
    """The registry's availableNow-drained stream equals the batch
    GROUP BY on real testdata (complete mode keeps every window)."""
    from pyspark.sql import functions as F

    from hybrid_vector_search_spark.plans.registry import QUERIES
    from hybrid_vector_search_spark.sources.loaders import load_table

    sf_dir = "/root/testdata/sf0.001"
    out = QUERIES["streaming_hourly_counts"](spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
    )
    got = dict(zip(zip(out.window_start, out.event_type), out.n_events))
    expected = dict(
        zip(zip(batch.window_start, batch.event_type), batch.n_events)
    )
    assert got == expected


def test_registry_streaming_dedup_is_distinct_set(spark):
    from hybrid_vector_search_spark.functions.text import fingerprint_md5
    from hybrid_vector_search_spark.plans.registry import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    out = QUERIES["streaming_dedup_fingerprints"](spark, sf_dir).toPandas()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    expected = {
        r[0]
        for r in docs.select(fingerprint_md5("text").alias("f"))
        .distinct()
        .collect()
    }
    assert set(out.fingerprint) == expected
    assert len(out) == len(expected)  # each fingerprint survives exactly once


def test_stateful_totals_state_survives_restart(spark, tmp_path):
    """applyInPandasWithState GroupState persists in the checkpoint: a
    second availableNow drain over newly-landed files CONTINUES each
    user's running totals instead of recounting from zero (and does not
    reprocess the already-committed files — exactly-once file source)."""
    from hybrid_vector_search_spark.streaming.pipeline import (
        stateful_user_totals_stream,
    )

    d = str(tmp_path / "grow")
    ckpt = str(tmp_path / "ckpt_tot")
    out: dict[int, tuple[int, float]] = {}

    def drain():
        tot = stateful_user_totals_stream(read_events_stream(spark, d))
        q = (
            tot.writeStream.foreachBatch(
                lambda bdf, _id: out.update(
                    {
                        int(r.user_id): (int(r.n_events), float(r.sum_value))
                        for r in bdf.collect()
                    }
                )
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(ROWS[:3], DDL).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    drain()
    assert out[1] == (3, 6.0)  # user 1: events 0,1,2 → values 1+2+3

    late = [(9, datetime(2024, 1, 1, 2, 0, 0), 1, "view", 10.0, "{}")]
    spark.createDataFrame(late, DDL).coalesce(1).write.mode("append").parquet(d)
    out.clear()
    drain()
    # only user 1 is updated in the second batch, and the total CONTINUES
    assert out == {1: (4, 16.0)}


def test_drain_shuffle_partitions_sizes_state_and_restores(spark, events_dir):
    """shuffle_partitions right-sizes the drain's state stage and always
    restores the session conf; combining it with a durable checkpoint is
    refused (state partitioning is immutable for a checkpoint's life)."""
    import pytest as _pytest

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    agg = windowed_agg_stream(
        read_events_stream(spark, events_dir), "1 hour", watermark="2 hours"
    )
    run_available_now(
        agg, "win_agg_sized", output_mode="complete", shuffle_partitions=4
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert spark.table("win_agg_sized").count() > 0
    with _pytest.raises(ValueError, match="ephemeral"):
        run_available_now(
            agg,
            "win_agg_bad",
            output_mode="complete",
            checkpoint_dir="/tmp/nonexistent-ckpt",
            shuffle_partitions=4,
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_parquet_sink_exactly_once_across_drains(spark, tmp_path):
    """File sink + checkpoint: draining twice over unchanged input adds
    nothing (committed batches are not rewritten); newly-landed files
    produce exactly their own rows; the sink layout is hive-partitioned
    so batch readers prune on the partition column."""
    from hybrid_vector_search_spark.streaming.pipeline import sink_to_parquet

    src = str(tmp_path / "landing")
    out = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt_sink")

    from pyspark.sql import functions as F

    def drain():
        ev = read_events_stream(spark, src)
        enriched = ev.withColumn("day", F.to_date("ts"))
        sink_to_parquet(enriched, out, ckpt, partition_by="event_type")

    spark.createDataFrame(ROWS[:4], DDL).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    drain()
    assert spark.read.parquet(out).count() == 4
    drain()  # unchanged input: exactly-once, no duplicates
    assert spark.read.parquet(out).count() == 4

    late = [(9, datetime(2024, 1, 1, 2, 0, 0), 3, "view", 9.0, "{}")]
    spark.createDataFrame(late, DDL).coalesce(1).write.mode("append").parquet(src)
    drain()
    df = spark.read.parquet(out)
    assert df.count() == 5
    # hive partitioning on the sink column → partition pruning downstream
    plan = (
        df.filter(df.event_type == "view")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(event_type" in plan


def test_stream_stream_join_equals_batch_join(spark):
    """Inner time-bounded stream-stream join drained availableNow must
    emit exactly the batch join's pairs (watermarks bound state, never
    results, for an inner join over a finite drain)."""
    from pyspark.sql import functions as F

    from hybrid_vector_search_spark.plans.registry_relational import _landing
    from hybrid_vector_search_spark.sources.loaders import load_table
    from hybrid_vector_search_spark.streaming.pipeline import (
        read_events_stream,
        run_available_now,
        view_purchase_join_stream,
    )

    sf = "/root/testdata/sf0.001"
    land = _landing(spark, sf, "events")
    views = read_events_stream(spark, land).filter(
        F.col("event_type") == "view"
    )
    buys = read_events_stream(spark, land).filter(
        F.col("event_type") == "purchase"
    )
    run_available_now(
        view_purchase_join_stream(views, buys),
        "t_ss_join",
        output_mode="append",
        shuffle_partitions=4,
    )
    got = {
        (r.view_id, r.purchase_id, r.gap_sec)
        for r in spark.table("t_ss_join").collect()
    }
    ev = load_table(spark, sf, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("vts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("bu"),
        F.col("ts").alias("bts"),
    )
    batch = v.join(
        p,
        (F.col("user_id") == F.col("bu"))
        & (F.col("bts") >= F.col("vts"))
        & (F.col("bts") <= F.col("vts") + F.expr("INTERVAL 30 minutes")),
    ).select(
        "view_id",
        "purchase_id",
        ((F.unix_micros("bts") - F.unix_micros("vts")) / F.lit(1_000_000))
        .cast("long")
        .alias("gap_sec"),
    )
    want = {(r.view_id, r.purchase_id, r.gap_sec) for r in batch.collect()}
    assert got == want and len(want) > 0

    # flush-off semantics (the registry's production setting — ADVICE r6
    # #3): inner matches emit eagerly in their arrival batch, so skipping
    # the trailing no-data flush batch must change NOTHING in the output.
    run_available_now(
        view_purchase_join_stream(views, buys),
        "t_ss_join_noflush",
        output_mode="append",
        shuffle_partitions=4,
        flush_no_data_batch=False,
    )
    got_noflush = {
        (r.view_id, r.purchase_id, r.gap_sec)
        for r in spark.table("t_ss_join_noflush").collect()
    }
    assert got_noflush == want


def test_flush_off_guard_refuses_append_aggregation(spark, events_dir):
    """flush_no_data_batch=False on an append-mode drain whose plan has a
    streaming aggregation must raise BEFORE touching any session conf:
    session/tumbling windows emit their rows IN the no-data flush batch,
    so skipping it silently returns an empty sink (r6 A/B: 0 rows)."""
    from hybrid_vector_search_spark.streaming.pipeline import (
        session_window_stream,
    )

    _FLUSH_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    sessions = session_window_stream(
        read_events_stream(spark, events_dir), gap="30 minutes"
    )
    with pytest.raises(ValueError, match="streaming aggregation"):
        run_available_now(
            sessions,
            "t_guard_sessions",
            output_mode="append",
            shuffle_partitions=4,
            flush_no_data_batch=False,
        )
    # the refusal must not leak conf state (ADVICE r6 #1: a post-set
    # ValueError left noDataMicroBatches=false session-wide, emptying
    # every later append drain)
    assert spark.conf.get(_FLUSH_KEY, "true") == "true"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts
    # durable checkpoint + flush-off is refused too: a resumed run needs
    # the watermark advanced before the query stops
    with pytest.raises(ValueError, match="ephemeral"):
        run_available_now(
            sessions,
            "t_guard_durable",
            output_mode="append",
            checkpoint_dir="/tmp/nonexistent-ckpt-guard",
            flush_no_data_batch=False,
        )
    assert spark.conf.get(_FLUSH_KEY, "true") == "true"
    # tumbling windows in complete mode never schedule the flush batch;
    # flush-off + non-append stays allowed (regression for the fast path)
    agg = windowed_agg_stream(
        read_events_stream(spark, events_dir), "1 hour", watermark="2 hours"
    )
    run_available_now(
        agg,
        "t_guard_complete_ok",
        output_mode="complete",
        shuffle_partitions=4,
        flush_no_data_batch=False,
    )
    assert spark.table("t_guard_complete_ok").count() > 0
    assert spark.conf.get(_FLUSH_KEY, "true") == "true"


def test_streaming_ivf_ingest_exactly_once_and_pruned(spark):
    """The streaming ANN-index ingest: a second drain over unchanged
    input re-ingests nothing (file-sink exactly-once), the ingested
    layout carries every corpus row exactly once, and the probe plan
    partition-prunes to the probed lists with no Python eval node."""
    from hybrid_vector_search_spark.plans import registry as R
    from hybrid_vector_search_spark.plans.registry_hybrid_ann import (
        ANN_IVF_K,
        ANN_IVF_NPROBE,
        _ann_ivf_centroids,
    )
    from hybrid_vector_search_spark.plans.registry_streaming_layouts import (
        STREAM_IVF_QSEED,
    )
    from hybrid_vector_search_spark.sources.loaders import load_table

    sf = "/root/testdata/sf0.001"
    r1 = [(r.id, r.score) for r in R.QUERIES["streaming_ivf_ingest"](spark, sf).collect()]
    assert len(r1) == ANN_IVF_K
    root = _stored(spark, ("stream_ivf", sf))
    ingested = spark.read.parquet(root + "/index")
    n = load_table(spark, sf, "embeddings").count()
    assert ingested.count() == n
    assert ingested.select("id").distinct().count() == n
    # re-drain: exactly-once no-op, identical probe result
    r2 = [(r.id, r.score) for r in R.QUERIES["streaming_ivf_ingest"](spark, sf).collect()]
    assert r2 == r1
    assert spark.read.parquet(root + "/index").count() == n
    # probe plan: partition-pruned, pure JVM
    plan, _ = __import__(
        "hybrid_vector_search_spark.operators.ivf", fromlist=["IVFIndex"]
    ).IVFIndex(
        ingested, _ann_ivf_centroids(), partitioned_path=root + "/index"
    ).search_plan(
        __import__(
            "hybrid_vector_search_spark.queryvecs", fromlist=["query_vector"]
        ).query_vector(STREAM_IVF_QSEED),
        k=10,
        nprobe=ANN_IVF_NPROBE,
    )
    txt = plan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in txt and "list_id" in txt
    assert "ArrowEvalPython" not in txt and "BatchEvalPython" not in txt


def test_flush_off_degrades_when_plan_uninspectable(spark, events_dir, monkeypatch):
    """When the streaming plan cannot be inspected (Spark Connect: no
    _jdf), flush_no_data_batch=False must DEGRADE — keep the flush
    enabled with a warning — not raise on a safe plan (ADVICE r7 #1)."""
    import warnings

    from pyspark.sql import functions as F

    from hybrid_vector_search_spark.streaming import pipeline as P
    from hybrid_vector_search_spark.streaming.pipeline import (
        view_purchase_join_stream,
    )

    monkeypatch.setattr(P, "_has_streaming_aggregation", lambda df: None)
    views = read_events_stream(spark, events_dir).filter(
        F.col("event_type") == "view"
    )
    buys = read_events_stream(spark, events_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = view_purchase_join_stream(views, buys)
    _FLUSH_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        run_available_now(
            joined,
            "t_degrade_uninspectable",
            output_mode="append",
            shuffle_partitions=4,
            flush_no_data_batch=False,
        )
    assert any("cannot be inspected" in str(w.message) for w in caught)
    # the sink exists and the flush conf did not leak
    assert spark.table("t_degrade_uninspectable").count() >= 0
    assert spark.conf.get(_FLUSH_KEY, "true") == "true"


def test_streaming_topk_view_incremental_across_batches(spark, tmp_path):
    """The continuous top-K view merges correctly across MULTIPLE
    micro-batches (maxFilesPerTrigger=1): after the drain the ≤K-row
    view equals the batch top-K over everything landed, including rows
    whose batch arrived early and was later displaced."""
    import os
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from hybrid_vector_search_spark.functions.vector import dot_score_column
    from hybrid_vector_search_spark.operators.topk import topk
    from hybrid_vector_search_spark.queryvecs import query_vector

    qvec = query_vector(61)
    land = str(tmp_path / "land")
    # 3 landing files: basis-aligned rows land in DIFFERENT batches so
    # the final view must mix batches
    import numpy as np

    rows_by_batch = [
        [(i, [float(x) for x in np.asarray(qvec) * (0.1 * (i + 1))])
         for i in range(3)],
        [(10 + i, [float(x) for x in np.asarray(qvec) * (0.05 + 0.3 * i)])
         for i in range(3)],
        [(20 + i, [float(x) for x in np.asarray(qvec) * (0.02 + 0.5 * i)])
         for i in range(3)],
    ]
    for rows in rows_by_batch:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).withColumn("label", F.lit(0)).coalesce(1).write.mode(
            "append"
        ).parquet(land)

    state = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    K = 4

    def merge_batch(batch_df, _bid):
        cand = topk(
            batch_df.select(
                F.col("vec_id").alias("id"),
                dot_score_column(qvec).alias("score"),
            ),
            K,
        )
        if os.path.isdir(state):
            # dedup by id before the cut: foreachBatch is at-least-once,
            # so a replayed batch must not occupy two view slots
            # (registry streaming_topk_view does the same)
            cand = topk(
                batch_df.sparkSession.read.parquet(state)
                .unionByName(cand)
                .groupBy("id")
                .agg(F.max("score").alias("score")),
                K,
            )
        stage = f"{state}.stage-{uuid.uuid4().hex[:8]}"
        cand.coalesce(1).write.mode("overwrite").parquet(stage)
        old = f"{state}.old-{uuid.uuid4().hex[:8]}"
        if os.path.isdir(state):
            os.rename(state, old)
        os.rename(stage, state)
        shutil.rmtree(old, ignore_errors=True)

    q = (
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = [
        (r["id"], round(r["score"], 6))
        for r in spark.read.parquet(state)
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .collect()
    ]
    all_rows = spark.read.parquet(land)
    want = [
        (r["id"], round(r["score"], 6))
        for r in topk(
            all_rows.select(
                F.col("vec_id").alias("id"),
                dot_score_column(qvec).alias("score"),
            ),
            K,
        ).collect()
    ]
    assert got == want and len(got) == K
    # incremental property: the view is ≤K rows on disk, not a log
    assert spark.read.parquet(state).count() == K

    # at-least-once replay: re-merging an already-applied batch must
    # leave the view IDENTICAL (no duplicate ids stealing slots)
    last_batch = spark.read.parquet(land)
    merge_batch(last_batch, 99)
    replayed = [
        (r["id"], round(r["score"], 6))
        for r in spark.read.parquet(state)
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .collect()
    ]
    assert replayed == want
    ids_only = [i for i, _ in replayed]
    assert len(ids_only) == len(set(ids_only)) == K


def test_streaming_dedup_ingest_replay_exactly_once(spark):
    """The near-dup ingest's per-root batch-id guards: a full REPLAY
    (checkpoint wiped, every micro-batch re-delivered from batch 0)
    appends nothing — survivor rows and index versions are unchanged,
    so at-least-once delivery never double-counts postings (which would
    corrupt the verify join's intersection counts)."""
    import os
    import shutil

    from hybrid_vector_search_spark.plans import registry as R
    from hybrid_vector_search_spark.sources import manifest as M

    sf = "/root/testdata/sf0.001"
    rows1 = R.QUERIES["streaming_dedup_ingest"](spark, sf).collect()
    root = _stored(spark, ("stream_dedup", sf))
    v_idx = M.current_version(os.path.join(root, "index"))
    v_sur = M.current_version(os.path.join(root, "survivors"))
    assert v_idx == 3 and v_sur == 3  # one commit per micro-batch

    shutil.rmtree(os.path.join(root, "ckpt"))  # force full re-delivery
    rows2 = R.QUERIES["streaming_dedup_ingest"](spark, sf).collect()
    assert rows2 == rows1
    assert M.current_version(os.path.join(root, "index")) == 3
    assert M.current_version(os.path.join(root, "survivors")) == 3


def test_streaming_media_ingest_replay_exactly_once(spark):
    """The media-ingest twin of the near-dup replay guard: wiping the
    checkpoint re-delivers every micro-batch; the batch-id guard must
    skip all of them — survivor rows and the manifest version unchanged
    (a double commit would flip later keep-first decisions)."""
    import os
    import shutil

    from hybrid_vector_search_spark.plans import registry as R
    from hybrid_vector_search_spark.sources import manifest as M

    sf = "/root/testdata/sf0.001"
    rows1 = R.QUERIES["streaming_media_ingest"](spark, sf).collect()
    root = _stored(spark, ("stream_media", sf))
    assert M.current_version(os.path.join(root, "survivors")) == 3
    # keep-first actually rejected something: strictly fewer survivors
    # than hashed input media — and the survivors table is a valid
    # seen-hash index: one row per hash
    from pyspark.sql import functions as F

    from hybrid_vector_search_spark.operators import multimodal as MM
    from hybrid_vector_search_spark.plans.registry_streaming_layouts import (
        _SM_LIMIT,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_in = MM.phash_stub(
        MM.media_from_documents(docs, limit=_SM_LIMIT)
    ).count()
    assert 0 < len(rows1) < n_in
    assert len({r.phash for r in rows1}) == len(rows1)

    shutil.rmtree(os.path.join(root, "ckpt"))
    rows2 = R.QUERIES["streaming_media_ingest"](spark, sf).collect()
    assert rows2 == rows1
    assert M.current_version(os.path.join(root, "survivors")) == 3
