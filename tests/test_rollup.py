"""Partition-local incremental rollup maintenance: merge ≡ from-scratch
rebuild, only touched day partitions are rewritten, and the staged
commit's crash window replays idempotently (operators/rollup.py — the
relational sibling of the IVF upsert and BM25 append protocols)."""

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F

from hybrid_vector_search_spark.errors import ValidationError
from hybrid_vector_search_spark.operators import rollup as R
from hybrid_vector_search_spark.scratch import pending_marker, recover_staged


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )


def _ts(day, h=12):
    return datetime.datetime(2024, 1, day, h, 0, 0)


@pytest.fixture()
def base_and_batch(spark):
    base = _events(
        spark,
        [
            (i, _ts(1 + i % 3), i, ["view", "click"][i % 2], 1.25 * (i + 1))
            for i in range(12)
        ],
    )
    # the late batch touches EXISTING days (backfill shape) and adds a
    # brand-new day — both merge paths in one batch
    batch = _events(
        spark,
        [
            (100, _ts(1), 7, "view", 2.50),
            (101, _ts(2), 8, "click", 0.75),
            (102, _ts(9), 9, "view", 4.00),
        ],
    )
    return base, batch


def _snapshot(path):
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[os.path.relpath(p, path)] = (
                    os.path.getsize(p),
                    os.path.getmtime(p),
                )
    return out


def test_merge_equals_rebuild_touched_days_only(
    spark, tmp_path, base_and_batch
):
    base, batch = base_and_batch
    path = str(tmp_path / "rollup")
    R.build_rollup(base, path)
    before = _snapshot(path)
    stats = R.merge_rollup_batch(spark, path, batch)
    assert stats == {"touched_days": 3, "batch_rows": 3}
    after = _snapshot(path)
    # day=2024-01-03 is untouched by the batch: byte-identical files
    untouched = [k for k in before if "day=2024-01-03" in k]
    assert untouched and all(before[k] == after[k] for k in untouched)
    # touched days were rewritten
    assert any(
        before.get(k) != after.get(k) or k not in before
        for k in after
        if "day=2024-01-01" in k
    )

    full = str(tmp_path / "full")
    R.build_rollup(base.unionByName(batch), full)
    got = {
        (str(r["day"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in R.open_rollup(spark, path).collect()
    }
    want = {
        (str(r["day"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in R.open_rollup(spark, full).collect()
    }
    assert got == want
    assert ("2024-01-09", "view") in got  # brand-new day landed


def test_merge_crash_window_recovered(spark, tmp_path, base_and_batch):
    base, batch = base_and_batch
    path = str(tmp_path / "rollup")
    R.build_rollup(base, path)

    real_commit = R._commit_merge
    try:
        def crashing(sp, p, info):
            raise RuntimeError("crash inside commit window")

        R._commit_merge = crashing
        with pytest.raises(RuntimeError):
            R.merge_rollup_batch(spark, path, batch)
    finally:
        R._commit_merge = real_commit
    assert os.path.exists(pending_marker(path))

    # next open self-heals and serves the fully-merged table
    got = {
        (str(r["day"]), r["event_type"]): r["n_events"]
        for r in R.open_rollup(spark, path).collect()
    }
    assert not os.path.exists(pending_marker(path))
    full = str(tmp_path / "full")
    R.build_rollup(base.unionByName(batch), full)
    want = {
        (str(r["day"]), r["event_type"]): r["n_events"]
        for r in R.open_rollup(spark, full).collect()
    }
    assert got == want

    # a second merge of the SAME batch would double-count — the rollup
    # has no id registry (aggregates carry no ids); the guard here is
    # the marker protocol making each batch exactly-once under crash,
    # so assert replay did NOT double-apply
    assert got[("2024-01-01", "view")] == want[("2024-01-01", "view")]


def test_merge_refuses_when_stage_lost(spark, tmp_path, base_and_batch):
    base, _ = base_and_batch
    path = str(tmp_path / "rollup")
    R.build_rollup(base, path)
    with open(pending_marker(path), "w") as f:
        json.dump({"stage": path + "_gone", "n_touched": 2}, f)
    with pytest.raises(ValidationError, match="missing"):
        R.open_rollup(spark, path)
    assert os.path.exists(pending_marker(path))
    os.remove(pending_marker(path))


def test_commit_meta_lands_inside_the_marker_window(
    spark, tmp_path, base_and_batch
):
    """The streaming maintainer's exactly-once hinge: commit_meta (the
    high-watermark batch id) is written by the SAME marker-bracketed
    commit that moves the partitions — after a mid-commit crash, replay
    applies both or the guard re-merges both, never a split-brain where
    the table has the batch but the meta says it doesn't (or vice
    versa)."""
    base, batch = base_and_batch
    path = str(tmp_path / "rollup")
    R.build_rollup(base, path)
    assert R.read_rollup_meta(path) == {}

    R.merge_rollup_batch(spark, path, batch, commit_meta={"last_batch_id": 3})
    assert R.read_rollup_meta(path) == {"last_batch_id": 3}

    # crash BEFORE the commit ran: neither table nor meta moved; the
    # replay (recover) applies both together
    batch2 = _events(spark, [(200, _ts(2), 11, "view", 9.00)])
    real_commit = R._commit_merge
    try:
        def crashing(sp, p, info):
            raise RuntimeError("crash")

        R._commit_merge = crashing
        with pytest.raises(RuntimeError):
            R.merge_rollup_batch(
                spark, path, batch2, commit_meta={"last_batch_id": 4}
            )
    finally:
        R._commit_merge = real_commit
    assert R.read_rollup_meta(path) == {"last_batch_id": 3}  # not yet
    assert recover_staged(
        path, lambda info: R._commit_merge(spark, path, info)
    )
    assert R.read_rollup_meta(path) == {"last_batch_id": 4}  # both landed
    got = {
        (str(r["day"]), r["event_type"]): r["n_events"]
        for r in R.open_rollup(spark, path).collect()
    }
    full = str(tmp_path / "full")
    R.build_rollup(
        base.unionByName(batch).unionByName(batch2), full
    )
    want = {
        (str(r["day"]), r["event_type"]): r["n_events"]
        for r in R.open_rollup(spark, full).collect()
    }
    assert got == want


def test_streaming_bootstrap_gated_on_meta_not_dir(spark, tmp_path):
    """Advisor r9 (medium): a crash between the bootstrap's
    build_rollup and the rollup_meta.json write leaves the table dir
    PRESENT but meta-less. The replayed bootstrap batch must re-run
    the deterministic overwrite — the old dir-existence gate would
    have routed it to the merge path (last_batch_id=-1 → merge) and
    double-counted the batch."""
    batch0 = _events(
        spark,
        [(i, _ts(1), i, "view", 2.50) for i in range(4)],
    )
    table = str(tmp_path / "t")
    # simulate the crashed bootstrap: table built, meta never written
    R.build_rollup(batch0, table)
    assert os.path.isdir(table)
    assert R.read_rollup_meta(table) == {}

    # the at-least-once replay of micro-batch 0
    R.streaming_merge_batch(table, batch0, 0)
    assert R.read_rollup_meta(table) == {"last_batch_id": 0}
    rows = R.open_rollup(spark, table).collect()
    assert len(rows) == 1
    assert rows[0]["n_events"] == 4  # not 8: replay did NOT merge-double

    # watermark skip: replaying an applied batch is a no-op
    R.streaming_merge_batch(table, batch0, 0)
    assert R.open_rollup(spark, table).collect()[0]["n_events"] == 4

    # a genuinely new batch takes the merge path
    batch1 = _events(spark, [(100, _ts(1), 9, "view", 1.00)])
    R.streaming_merge_batch(table, batch1, 1)
    assert R.read_rollup_meta(table) == {"last_batch_id": 1}
    assert R.open_rollup(spark, table).collect()[0]["n_events"] == 5
