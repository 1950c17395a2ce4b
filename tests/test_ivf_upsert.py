"""Partition-local IVF upsert: only touched list partitions are
rewritten, the result equals a full rebuild over the modified corpus,
and an emptied list's directory is removed (dynamic partition overwrite
would otherwise leave its stale rows behind)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from hybrid_vector_search_spark.operators.ivf import (
    IVFIndex,
    upsert_partitioned,
)

NLISTS = 6
DIM = 6


def _basis(i: int) -> list[float]:
    v = [0.0] * DIM
    v[i] = 1.0
    return v


@pytest.fixture()
def layout(spark, tmp_path):
    """20 rows, embedding = e_{id mod 6} → list_id = id mod 6 exactly
    (identity centroids make assignment trivial and auditable)."""
    cents = np.eye(NLISTS)
    rows = [(i, _basis(i % NLISTS)) for i in range(20)]
    emb = spark.createDataFrame(rows, "id long, embedding array<float>")
    path = str(tmp_path / "ivf_layout")
    IVFIndex.build_fixed(emb, cents, persist_path=path)
    return path, cents


def _dir_state(path: str, li: int) -> list[tuple[str, int, float]]:
    d = os.path.join(path, f"list_id={li}")
    return sorted(
        (f, os.path.getsize(os.path.join(d, f)),
         os.path.getmtime(os.path.join(d, f)))
        for f in os.listdir(d)
        if not f.startswith(".")
    )


def test_upsert_rewrites_only_touched_partitions(spark, layout):
    path, cents = layout
    untouched_before = {li: _dir_state(path, li) for li in (3, 4)}

    # delete EVERY row of list 5 (ids ≡ 5 mod 6) → list 5 empties;
    # move id 0 from list 0 to list 1; insert id 100 into list 2
    deletes = spark.createDataFrame(
        [(i,) for i in range(20) if i % NLISTS == 5], "id long"
    )
    upserts = spark.createDataFrame(
        [(0, _basis(1)), (100, _basis(2))],
        "id long, embedding array<float>",
    )
    out = upsert_partitioned(spark, path, cents, upserts, deletes)

    got = {
        (r["id"], r["list_id"]) for r in out.select("id", "list_id").collect()
    }
    want = {
        (i, i % NLISTS)
        for i in range(20)
        if i % NLISTS != 5 and i != 0
    } | {(0, 1), (100, 2)}
    assert got == want

    # untouched lists: byte-identical directory state (names/sizes/mtimes)
    for li in (3, 4):
        assert _dir_state(path, li) == untouched_before[li], li
    # emptied list's directory is gone, not stale
    assert not os.path.exists(os.path.join(path, "list_id=5"))

    # equals a full rebuild over the modified corpus
    rebuilt_rows = [
        (i, _basis(i % NLISTS)) for i in range(20)
        if i % NLISTS != 5 and i != 0
    ] + [(0, _basis(1)), (100, _basis(2))]
    rebuilt = IVFIndex.build_fixed(
        spark.createDataFrame(rebuilt_rows, "id long, embedding array<float>"),
        cents,
    )
    want_rebuilt = {
        (r["id"], r["list_id"])
        for r in rebuilt.assigned.select("id", "list_id").collect()
    }
    assert got == want_rebuilt


def test_upsert_empty_batch_is_noop(spark, layout):
    path, cents = layout
    before = {li: _dir_state(path, li) for li in range(NLISTS) if li != 5}
    empty_ids = spark.createDataFrame([], "id long")
    empty_up = spark.createDataFrame([], "id long, embedding array<float>")
    out = upsert_partitioned(spark, path, cents, empty_up, empty_ids)
    assert out.count() == 20
    for li, st in before.items():
        assert _dir_state(path, li) == st, li


def test_compact_partitions_only_rewrites_oversized(spark, layout):
    """Compaction coalesces only lists above the file threshold, leaves
    healthy partitions byte-identical, preserves every row, and refuses
    a streaming-sink layout (whose commit log defines its view)."""
    from hybrid_vector_search_spark.errors import ValidationError
    from hybrid_vector_search_spark.operators.ivf import compact_partitions

    path, cents = layout
    # fragment lists 0 and 1: append per-row files via a second write
    extra = spark.createDataFrame(
        [(200 + i, _basis(i % 2)) for i in range(4)],
        "id long, embedding array<float>",
    ).withColumn("list_id", (F.col("id") % 2).cast("int"))
    extra.repartition(4).write.mode("append").partitionBy(
        "list_id"
    ).parquet(path)
    before_rows = {
        (r["id"], r["list_id"])
        for r in spark.read.parquet(path).collect()
    }
    healthy_before = {li: _dir_state(path, li) for li in (2, 3, 4, 5)}
    assert len(_dir_state(path, 0)) > 1  # fragmented

    stats = compact_partitions(spark, path)
    assert stats["compacted_lists"] == 2
    assert stats["files_after"] < stats["files_before"]
    assert len(_dir_state(path, 0)) == 1
    assert len(_dir_state(path, 1)) == 1
    for li, st in healthy_before.items():
        assert _dir_state(path, li) == st, li
    after_rows = {
        (r["id"], r["list_id"])
        for r in spark.read.parquet(path).collect()
    }
    assert after_rows == before_rows

    # second pass: nothing oversized, full no-op
    stats2 = compact_partitions(spark, path)
    assert stats2["compacted_lists"] == 0
    assert stats2["files_before"] == stats2["files_after"]

    # streaming-sink layouts are refused
    import os

    os.makedirs(os.path.join(path, "_spark_metadata"), exist_ok=True)
    with pytest.raises(ValidationError, match="commit log"):
        compact_partitions(spark, path)


def test_upsert_deletes_its_stage_once_committed(
    spark, layout, tmp_path, monkeypatch
):
    """A committed upsert leaves neither its stage nor its marker
    behind: the staged commit deletes the stage after the marker, not
    at process exit."""
    from hybrid_vector_search_spark.scratch import pending_marker

    path, cents = layout
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(scratch))
    upserts = spark.createDataFrame(
        [(0, _basis(1)), (100, _basis(2))], "id long, embedding array<float>"
    )
    deletes = spark.createDataFrame([(5,)], "id long")
    upsert_partitioned(spark, path, cents, upserts, deletes)
    assert not [p for p in os.listdir(scratch) if "ivf_upsert_stage" in p]
    assert not os.path.exists(pending_marker(path))


def test_upsert_crash_window_recovered(spark, layout, monkeypatch):
    """Simulate a crash INSIDE the apply window (overwrite committed,
    emptied-dir rmtree not run): a naive read sees the stale deleted
    rows; open_partitioned repairs the layout and never returns them
    (VERDICT r7 "what's wrong" #3)."""
    import shutil as _shutil

    from hybrid_vector_search_spark.operators.ivf import open_partitioned
    from hybrid_vector_search_spark.scratch import (
        pending_marker,
        recover_staged,
    )

    path, cents = layout
    deletes = spark.createDataFrame(
        [(i,) for i in range(20) if i % NLISTS == 5], "id long"
    )
    empty_up = spark.createDataFrame([], "id long, embedding array<float>")

    class Crash(RuntimeError):
        pass

    def crashing_rmtree(p, **kw):
        raise Crash(p)

    with monkeypatch.context() as mp:
        mp.setattr(_shutil, "rmtree", crashing_rmtree)
        with pytest.raises(Crash):
            upsert_partitioned(spark, path, cents, empty_up, deletes)

    # interrupted state: marker present, emptied list dir still on disk
    assert os.path.exists(pending_marker(path))
    assert os.path.isdir(os.path.join(path, "list_id=5"))
    # the hazard being closed: a naive read returns the deleted ids
    naive = {r["id"] for r in spark.read.parquet(path).collect()}
    assert any(i % NLISTS == 5 for i in naive)

    # the probe path: recovery completes the apply
    repaired = open_partitioned(spark, path)
    got = {r["id"] for r in repaired.collect()}
    assert not any(i % NLISTS == 5 for i in got)
    assert got == {i for i in range(20) if i % NLISTS != 5}
    assert not os.path.exists(pending_marker(path))
    assert not os.path.exists(os.path.join(path, "list_id=5"))
    def no_replay(info):
        raise AssertionError("nothing is pending")

    # recovery is once: second open is a plain read
    assert not recover_staged(path, no_replay)


def test_upsert_crash_before_overwrite_replays(spark, layout):
    """Marker written, overwrite never ran (crash at the window's start):
    recovery replays the staged batch, so the batch lands exactly once
    rather than half-applying."""
    import json

    from hybrid_vector_search_spark.operators.ivf import open_partitioned
    from hybrid_vector_search_spark.scratch import pending_marker

    path, cents = layout
    # stage a replacement batch by hand: id 0 moves list 0 → list 1.
    # A real stage holds ALL surviving rows of every touched partition
    # (dynamic overwrite replaces whole partitions), so lists 0 and 1
    # are staged in full.
    stage = path + "_stage_sim"
    staged_rows = [
        (0, _basis(1), 1)
    ] + [
        (i, _basis(i % NLISTS), i % NLISTS)
        for i in range(1, 20)
        if i % NLISTS in (0, 1)
    ]
    spark.createDataFrame(
        staged_rows, "id long, embedding array<float>, list_id int"
    ).repartition(2, "list_id").write.mode("overwrite").parquet(stage)
    with open(pending_marker(path), "w") as f:
        json.dump({"stage": stage, "n_touched": 2, "emptied": []}, f)

    repaired = open_partitioned(spark, path)
    got = {(r["id"], r["list_id"]) for r in repaired.select("id", "list_id").collect()}
    assert (0, 1) in got and (0, 0) not in got
    # every other row intact
    assert {(i, i % NLISTS) for i in range(1, 20)} <= got


def test_streaming_layout_drain_and_swap(spark, tmp_path):
    """The streaming-ingest maintenance path: micro-batches fragment the
    sink (one file per touched list per batch); compact_streaming_layout
    drains it through the commit log into a ONE-file-per-list probe root
    with identical rows, repeatably (swap over an existing root)."""
    from hybrid_vector_search_spark.errors import ValidationError
    from hybrid_vector_search_spark.operators.ivf import (
        compact_streaming_layout,
    )
    from hybrid_vector_search_spark.streaming.pipeline import sink_to_parquet

    cents = np.eye(NLISTS)
    land = str(tmp_path / "land")
    # 3 separate landing files → 3 micro-batches at maxFilesPerTrigger=1
    for b in range(3):
        rows = [(100 * b + i, _basis(i % NLISTS)) for i in range(NLISTS)]
        spark.createDataFrame(
            rows, "id long, embedding array<float>"
        ).coalesce(1).write.mode("append").parquet(land)

    from hybrid_vector_search_spark.operators.ivf import assign_list_udf

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
        .withColumn("list_id", assign_list_udf(cents)(F.col("embedding")))
    )
    sink_to_parquet(stream, sink, ckpt, partition_by="list_id")

    def files_per_list(root):
        return {
            e.name: sum(
                1 for f in os.listdir(e.path) if f.endswith(".parquet")
            )
            for e in os.scandir(root)
            if e.name.startswith("list_id=")
        }

    frag = files_per_list(sink)
    assert max(frag.values()) >= 3  # one file per micro-batch per list

    probe_root = str(tmp_path / "probe")
    stats = compact_streaming_layout(spark, sink, probe_root)
    assert stats["lists"] == NLISTS
    assert stats["source_batches"] >= 3
    compacted = files_per_list(probe_root)
    assert set(compacted.values()) == {1}  # bounded: ONE file per list
    # identical exactly-once row set
    want = {(r["id"], r["list_id"]) for r in spark.read.parquet(sink).collect()}
    got = {(r["id"], r["list_id"]) for r in spark.read.parquet(probe_root).collect()}
    assert got == want and len(got) == 3 * NLISTS

    # a fourth micro-batch lands; a second drain swaps over the live root
    spark.createDataFrame(
        [(999, _basis(0))], "id long, embedding array<float>"
    ).coalesce(1).write.mode("append").parquet(land)
    stream2 = (
        spark.readStream.schema("id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
        .withColumn("list_id", assign_list_udf(cents)(F.col("embedding")))
    )
    sink_to_parquet(stream2, sink, ckpt, partition_by="list_id")
    stats2 = compact_streaming_layout(spark, sink, probe_root)
    got2 = {r["id"] for r in spark.read.parquet(probe_root).collect()}
    assert 999 in got2 and len(got2) == 3 * NLISTS + 1
    assert set(files_per_list(probe_root).values()) == {1}

    # guard: a plain batch layout is refused (wrong tool)
    plain = str(tmp_path / "plain")
    spark.createDataFrame(
        [(1, _basis(0), 0)], "id long, embedding array<float>, list_id int"
    ).write.partitionBy("list_id").parquet(plain)
    with pytest.raises(ValidationError, match="_spark_metadata"):
        compact_streaming_layout(spark, plain, probe_root)


def test_upsert_recovery_refuses_when_stage_lost(spark, layout):
    """Marker present but staged batch GONE (scratch cleanup after the
    crash): recovery must RAISE and keep the marker — completing it
    would silently drop the batch's deletes wherever the overwrite
    didn't land (review r8 finding #1)."""
    import json

    from hybrid_vector_search_spark.errors import ValidationError
    from hybrid_vector_search_spark.operators.ivf import open_partitioned
    from hybrid_vector_search_spark.scratch import pending_marker

    path, cents = layout
    with open(pending_marker(path), "w") as f:
        json.dump(
            {"stage": path + "_gone_stage", "n_touched": 2, "emptied": [5]},
            f,
        )
    with pytest.raises(ValidationError, match="missing"):
        open_partitioned(spark, path)
    # marker retained, emptied dir untouched: nothing silently committed
    assert os.path.exists(pending_marker(path))
    assert os.path.isdir(os.path.join(path, "list_id=5"))
    os.remove(pending_marker(path))


def _mk_stream_sink(spark, tmp_path, n_batches: int = 2):
    """Landing dir → streaming sink with one micro-batch per landing
    file (the drain-and-swap tests' shared scaffolding)."""
    from hybrid_vector_search_spark.operators.ivf import assign_list_udf
    from hybrid_vector_search_spark.streaming.pipeline import sink_to_parquet

    cents = np.eye(NLISTS)
    land = str(tmp_path / "land")
    for b in range(n_batches):
        rows = [(100 * b + i, _basis(i % NLISTS)) for i in range(NLISTS)]
        spark.createDataFrame(
            rows, "id long, embedding array<float>"
        ).coalesce(1).write.mode("append").parquet(land)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema("id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
            .withColumn("list_id", assign_list_udf(cents)(F.col("embedding")))
        )
        sink_to_parquet(stream, sink, ckpt, partition_by="list_id")

    drain()
    return land, sink, drain


def test_compaction_swap_crash_window_recovered(spark, tmp_path):
    """Simulate the between-renames crash (marker written, live root
    renamed to .old, stage NOT yet promoted — the exact state that used
    to leave NO probe root behind, VERDICT r8 what's-wrong #1): the next
    probe-open AND the next compaction must both self-heal from the
    marker, and the healed root must serve the staged rows."""
    import json
    import shutil

    from hybrid_vector_search_spark.operators.ivf import (
        compact_streaming_layout,
        open_streaming_probe_root,
    )
    from hybrid_vector_search_spark.scratch import (
        pending_marker,
        recover_swap,
    )

    _, sink, _ = _mk_stream_sink(spark, tmp_path)
    probe_root = str(tmp_path / "probe")
    compact_streaming_layout(spark, sink, probe_root)
    want = {r["id"] for r in spark.read.parquet(probe_root).collect()}

    # forge the mid-swap state: stage = a copy of the good layout,
    # root renamed away to .old, marker pointing at both
    stage = probe_root + ".stage-crashsim"
    old = probe_root + ".old-crashsim"
    shutil.copytree(probe_root, stage)
    os.rename(probe_root, old)
    marker = pending_marker(probe_root)
    forged = {"stage": stage, "old": old, "into": probe_root}
    with open(marker, "w") as f:
        json.dump(forged, f)
    assert not os.path.isdir(probe_root)  # the hazard: NO probe root

    got = {
        r["id"]
        for r in open_streaming_probe_root(spark, probe_root).collect()
    }
    assert got == want
    assert not os.path.exists(marker)
    assert not os.path.isdir(stage) and not os.path.isdir(old)

    # crash BEFORE the first rename (marker + stage, root still live):
    # the next compaction call replays, then drains normally
    shutil.copytree(probe_root, stage)
    with open(marker, "w") as f:
        json.dump(forged, f)
    stats = compact_streaming_layout(spark, sink, probe_root)
    assert stats["lists"] == NLISTS
    assert not os.path.exists(marker)

    # crash AFTER the swap but before cleanup (marker, no stage, live
    # root): recovery just drops the marker — idempotent commit tail
    os.makedirs(old, exist_ok=True)
    with open(marker, "w") as f:
        json.dump(forged, f)
    assert recover_swap(probe_root) is True
    assert not os.path.isdir(old)

    # stage AND root both lost: refuse loudly, keep the marker
    from hybrid_vector_search_spark.errors import ValidationError

    lost_root = str(tmp_path / "lost_probe")
    with open(pending_marker(lost_root), "w") as f:
        json.dump(
            {"stage": lost_root + ".gone", "old": old, "into": lost_root}, f
        )
    with pytest.raises(ValidationError, match="cannot be replayed"):
        recover_swap(lost_root)
    assert os.path.exists(pending_marker(lost_root))


def test_compaction_freshness_contract(spark, tmp_path):
    """drained_batch_id vs sink_latest_batch_id measures the probe
    root's staleness (VERDICT r8 next #8): a new micro-batch opens a
    gap, a re-drain closes it, and probes after the re-drain include
    the new rows."""
    from hybrid_vector_search_spark.operators.ivf import (
        compact_streaming_layout,
        sink_latest_batch_id,
    )

    land, sink, drain = _mk_stream_sink(spark, tmp_path)
    probe_root = str(tmp_path / "probe")
    stats = compact_streaming_layout(spark, sink, probe_root)
    assert stats["drained_batch_id"] == sink_latest_batch_id(sink)

    # a new micro-batch lands: the probe root is now measurably stale
    spark.createDataFrame(
        [(999, _basis(0))], "id long, embedding array<float>"
    ).coalesce(1).write.mode("append").parquet(land)
    drain()
    assert sink_latest_batch_id(sink) > stats["drained_batch_id"]
    assert 999 not in {
        r["id"] for r in spark.read.parquet(probe_root).collect()
    }  # as-of-last-drain contract, now measurable

    # re-drain closes the gap and the probe sees the new row
    stats2 = compact_streaming_layout(spark, sink, probe_root)
    assert stats2["drained_batch_id"] == sink_latest_batch_id(sink)
    assert stats2["drained_batch_id"] > stats["drained_batch_id"]
    assert 999 in {
        r["id"] for r in spark.read.parquet(probe_root).collect()
    }
