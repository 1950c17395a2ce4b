"""Versioned-manifest layout (sources/manifest.py): snapshot isolation,
time travel, crash-invisible commits, rewrite-without-breaking-history,
and reference-counted vacuum."""

import json
import os

import pytest

from hybrid_vector_search_spark.errors import ValidationError
from hybrid_vector_search_spark.sources import manifest as M


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, i % 3) for i in range(lo, hi)], "id long, label int"
    )


def _ids(df):
    return {r["id"] for r in df.collect()}


def test_append_versions_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "tbl")
    v1 = M.commit_append(root, _df(spark, 0, 10))
    v2 = M.commit_append(root, _df(spark, 10, 15))
    assert (v1, v2) == (1, 2)
    assert M.current_version(root) == 2
    assert _ids(M.read_snapshot(spark, root)) == set(range(15))
    # time travel: v1 still serves the pre-append table
    assert _ids(M.read_snapshot(spark, root, 1)) == set(range(10))
    with pytest.raises(ValidationError, match="does not exist"):
        M.read_snapshot(spark, root, 7)


def test_pinned_reader_unaffected_by_later_commits(spark, tmp_path):
    """The reproducible-read property: a reader plan pins its file list
    at build time, so commits that land afterwards change NOTHING about
    what it scans — the snapshot a training run pins."""
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))
    pinned = M.read_snapshot(spark, root)  # latest = v1 at pin time
    M.commit_append(root, _df(spark, 10, 99))
    assert _ids(pinned) == set(range(10))
    assert _ids(M.read_snapshot(spark, root)) == set(range(99))


def test_crashed_commit_is_invisible_and_retryable(spark, tmp_path):
    """A crash between data-file write and manifest rename leaves
    orphaned data files and (at worst) a .tmp manifest — readers still
    see the old version, and the retried commit lands cleanly."""
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))

    # forge the crash state: data files written, manifest only as .tmp
    rels = M._write_data_files(_df(spark, 10, 20), root, 1)
    tmp = os.path.join(root, M._manifest_name(2) + ".tmp-deadbeef")
    with open(tmp, "w") as f:
        json.dump({"version": 2, "files": rels}, f)

    assert M.current_version(root) == 1  # invisible
    assert _ids(M.read_snapshot(spark, root)) == set(range(10))
    # retry commits v2 with its own data files; orphans stay invisible
    assert M.commit_append(root, _df(spark, 10, 20)) == 2
    assert _ids(M.read_snapshot(spark, root)) == set(range(20))
    # the crashed attempt's files are indistinguishable from an
    # IN-FLIGHT writer's: default vacuum leaves them inside the grace
    # window (deleting a concurrent writer's pre-publish files would
    # let it commit a manifest over missing data)
    stats = M.vacuum(root, keep_last=2)
    assert stats["deleted_files"] == 0
    # aged out (or exclusive access): swept
    stats = M.vacuum(root, keep_last=2, orphan_grace_sec=0)
    assert stats["deleted_files"] >= 1
    assert _ids(M.read_snapshot(spark, root, 1)) == set(range(10))
    assert _ids(M.read_snapshot(spark, root, 2)) == set(range(20))


def test_rewrite_compacts_without_breaking_history(spark, tmp_path):
    root = str(tmp_path / "tbl")
    for lo in range(0, 20, 5):  # 4 appends -> 4 data files
        M.commit_append(root, _df(spark, lo, lo + 5))
    v = M.current_version(root)
    before = _ids(M.read_snapshot(spark, root))
    v5 = M.commit_rewrite(root, M.read_snapshot(spark, root, v), n_files=1)
    _, files = M.snapshot_files(root, v5)
    assert len(files) == 1  # compacted
    assert _ids(M.read_snapshot(spark, root, v5)) == before  # same rows
    # history intact: the pre-rewrite version still reads its own files
    assert _ids(M.read_snapshot(spark, root, v)) == before
    assert _ids(M.read_snapshot(spark, root, 1)) == set(range(5))


def test_vacuum_reference_counts(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))
    M.commit_append(root, _df(spark, 10, 20))
    M.commit_rewrite(root, M.read_snapshot(spark, root), n_files=1)
    stats = M.vacuum(root, keep_last=1)
    assert stats["dropped_versions"] == 2
    # the two append data files are referenced by no retained version
    assert stats["deleted_files"] == 2
    assert M.list_versions(root) == [3]
    assert _ids(M.read_snapshot(spark, root)) == set(range(20))
    with pytest.raises(ValidationError, match="does not exist"):
        M.read_snapshot(spark, root, 1)

    # CAS arbiter: a commit attempt on an existing version LOSES
    # (returns False) instead of overwriting — no lost update
    assert M._try_commit_manifest(root, 3, {"files": []}) is False
    assert _ids(M.read_snapshot(spark, root)) == set(range(20))


# ---------------------------------------------------------------------------
# r10: multi-writer CAS commits


def test_concurrent_appends_no_lost_update_threaded(spark, tmp_path):
    """Two-to-many concurrent appenders: every batch lands in SOME
    serial order, no lost update — the CAS arbiter (hard-link
    create-if-absent) plus retry-with-rebase."""
    import threading

    root = str(tmp_path / "tbl")
    n_writers = 6
    barrier = threading.Barrier(n_writers)
    errs = []

    def writer(i):
        df = _df(spark, 100 * i, 100 * i + 10)
        try:
            barrier.wait(timeout=60)
            M.commit_append(root, df)
        except Exception as e:  # pragma: no cover - failure detail
            errs.append((i, e))

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(120)
    assert errs == []
    assert M.list_versions(root) == list(range(1, n_writers + 1))
    want = {100 * i + j for i in range(n_writers) for j in range(10)}
    assert _ids(M.read_snapshot(spark, root)) == want


def test_append_rebases_after_losing_cas_race(spark, tmp_path, monkeypatch):
    """Deterministic race: a competitor commits the contended version
    just before writer A's CAS attempt. A must lose the link, re-read,
    and retry at v+1 carrying BOTH file sets — the no-lost-update
    proof without thread timing."""
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))  # v1

    b_files = M._write_data_files(_df(spark, 50, 60), root, 1)
    base = M._resolve_manifest(root, 1)
    real = M._try_commit_manifest
    hits = {"n": 0}

    def racing(r, version, payload):
        if hits["n"] == 0:
            hits["n"] = 1
            # competitor B wins this version first
            assert real(
                r,
                version,
                {
                    "files": base["files"] + b_files,
                    "stats": base.get("stats", {}),
                    "column_mapping": {},
                    "schema": base.get("schema"),
                    "op": "append",
                    "added": len(b_files),
                },
            )
        return real(r, version, payload)

    monkeypatch.setattr(M, "_try_commit_manifest", racing)
    v = M.commit_append(root, _df(spark, 90, 95))  # writer A
    assert v == 3  # lost v2 to B, rebased to v3
    assert hits["n"] == 1
    assert _ids(M.read_snapshot(spark, root)) == (
        set(range(10)) | set(range(50, 60)) | set(range(90, 95))
    )
    # B's intermediate version is a complete snapshot too
    assert _ids(M.read_snapshot(spark, root, 2)) == (
        set(range(10)) | set(range(50, 60))
    )


def test_rewrite_rebase_folds_concurrent_append(spark, tmp_path, monkeypatch):
    """A compaction racing an APPEND rebases: the appended files are
    carried into the rewritten manifest (rewrite ∘ append commutes
    when the rewrite only replaces its base files)."""
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))
    M.commit_append(root, _df(spark, 10, 20))

    base = M._resolve_manifest(root, 2)
    b_files = M._write_data_files(_df(spark, 70, 75), root, 1)
    real = M._try_commit_manifest
    hits = {"n": 0}

    def racing(r, version, payload):
        if hits["n"] == 0:
            hits["n"] = 1
            assert real(
                r,
                version,
                {
                    "files": base["files"] + b_files,
                    "stats": base.get("stats", {}),
                    "column_mapping": {},
                    "schema": base.get("schema"),
                    "op": "append",
                    "added": len(b_files),
                },
            )
        return real(r, version, payload)

    monkeypatch.setattr(M, "_try_commit_manifest", racing)
    v = M.commit_rewrite(root, M.read_snapshot(spark, root, 2), n_files=1)
    assert v == 4 and hits["n"] == 1
    # rewrite base (0..19, compacted) + concurrently appended 70..74
    assert _ids(M.read_snapshot(spark, root)) == (
        set(range(20)) | set(range(70, 75))
    )


def test_rewrite_vs_rewrite_conflicts(spark, tmp_path, monkeypatch):
    """Two rewrites of the same base do NOT commute — the loser must
    raise CommitConflictError, never silently drop the winner's
    output."""
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))

    winner_files = M._write_data_files(_df(spark, 0, 10), root, 1)
    real = M._try_commit_manifest
    hits = {"n": 0}

    def racing(r, version, payload):
        if hits["n"] == 0:
            hits["n"] = 1
            assert real(
                r,
                version,
                {
                    "files": winner_files,  # replaces v1's files
                    "stats": {},
                    "column_mapping": {},
                    "schema": None,
                    "op": "rewrite",
                    "added": len(winner_files),
                },
            )
        return real(r, version, payload)

    monkeypatch.setattr(M, "_try_commit_manifest", racing)
    with pytest.raises(M.CommitConflictError, match="concurrent"):
        M.commit_rewrite(root, M.read_snapshot(spark, root, 1), n_files=1)


# ---------------------------------------------------------------------------
# r10: per-file column stats + file skipping


def test_stats_pruned_scan_skips_disjoint_files(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))    # file A: id 0..9
    M.commit_append(root, _df(spark, 10, 20))   # file B: id 10..19
    M.commit_append(root, _df(spark, 20, 30))   # file C: id 20..29

    v, kept, total = M.snapshot_files_pruned(root, "id", 12, 18)
    assert (v, total, len(kept)) == (3, 3, 1)  # only file B survives
    got = M.read_snapshot_pruned(spark, root, "id", 12, 18)
    assert _ids(got) == set(range(12, 19))
    # pruning is pure metadata: identical to the unpruned filtered read
    from pyspark.sql import functions as F

    want = M.read_snapshot(spark, root).filter(F.col("id").between(12, 18))
    assert _ids(got) == _ids(want)

    # composes with time travel: v2 has two files, one survives
    v2, kept2, total2 = M.snapshot_files_pruned(root, "id", 12, 18, version=2)
    assert (total2, len(kept2)) == (2, 1)

    # prune-everything is a legal empty read, schema intact
    empty = M.read_snapshot_pruned(spark, root, "id", 500, 600)
    assert empty.count() == 0
    assert empty.columns == ["id", "label"]


def test_stats_survive_rewrite_and_missing_stats_kept(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))
    M.commit_rewrite(root, M.read_snapshot(spark, root), n_files=2)
    # rewritten files carry fresh footer stats
    _v, kept, total = M.snapshot_files_pruned(root, "id", 0, 100)
    assert len(kept) == total == 2
    # a column with no recorded stats never prunes (conservative)
    _v, kept, total = M.snapshot_files_pruned(root, "no_such_col", 0, 1)
    assert len(kept) == total


# ---------------------------------------------------------------------------
# r10: schema evolution (metadata-only commits)


def test_schema_add_rename_time_travel(spark, tmp_path):
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 5))          # v1: (id, label)
    M.commit_add_column(root, "score", "double")     # v2: + score (meta-only)
    new = spark.createDataFrame(
        [(i, i % 3, float(i) / 2) for i in range(5, 8)],
        "id long, label int, score double",
    )
    M.commit_append(root, new)                       # v3: mixed files
    M.commit_rename_column(root, "label", "cls")     # v4: rename (meta-only)

    cur = M.read_snapshot(spark, root)
    assert cur.columns == ["id", "cls", "score"]
    rows = {r["id"]: (r["cls"], r["score"]) for r in cur.collect()}
    assert rows[2] == (2, None)      # old file: renamed col + NULL fill
    assert rows[6] == (0, 3.0)       # new file: physical columns
    assert len(rows) == 8

    # time travel pins the OLD schema
    v1 = M.read_snapshot(spark, root, 1)
    assert v1.columns == ["id", "label"] and v1.count() == 5
    v3 = M.read_snapshot(spark, root, 3)
    assert v3.columns == ["id", "label", "score"]

    # metadata-only commits moved zero data bytes
    m2, m4 = M._resolve_manifest(root, 2), M._resolve_manifest(root, 4)
    assert m2["files"] == M._resolve_manifest(root, 1)["files"]
    assert m4["files"] == M._resolve_manifest(root, 3)["files"]

    # stats were re-keyed: pruning by the RENAMED column still works
    _v, kept, total = M.snapshot_files_pruned(root, "id", 6, 7)
    assert len(kept) == 1 and total == 2

    # appends after the rename write the new physical name
    M.commit_append(
        root,
        spark.createDataFrame(
            [(100, 1, 9.9)], "id long, cls int, score double"
        ),
    )
    assert _ids(M.read_snapshot(spark, root)) == set(range(8)) | {100}

    # guardrails
    with pytest.raises(ValidationError, match="already exists"):
        M.commit_add_column(root, "score", "double")
    with pytest.raises(ValidationError, match="does not exist"):
        M.commit_rename_column(root, "label", "x")  # already renamed
    with pytest.raises(ValidationError, match="already exists"):
        M.commit_rename_column(root, "cls", "score")


def test_vacuum_keeps_metadata_only_versions_consistent(spark, tmp_path):
    """Vacuum after schema evolution: metadata-only manifests share
    files with their base — reference counting must keep shared files
    alive while retained."""
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 5))
    M.commit_add_column(root, "score", "double")
    stats = M.vacuum(root, keep_last=1)  # drops v1, keeps v2
    assert stats["dropped_versions"] == 1
    assert stats["deleted_files"] == 0  # v2 still references v1's file
    out = M.read_snapshot(spark, root)
    assert out.columns == ["id", "label", "score"] and out.count() == 5


# ---------------------------------------------------------------------------
# r10: clustered commits + value-set file skipping + replace (index shape)


def _clustered(spark, lists, rows_per=4, tag=0):
    return spark.createDataFrame(
        [
            (1000 * tag + 10 * li + j, li)
            for li in lists
            for j in range(rows_per)
        ],
        "id long, list_id int",
    )


def test_clustered_commit_prunes_by_value_set(spark, tmp_path):
    root = str(tmp_path / "idx")
    M.commit_append_clustered(
        root, _clustered(spark, [0, 1, 2, 3]), "list_id"
    )
    m = M._resolve_manifest(root, 1)
    assert len(m["files"]) == 4  # one file per list
    # every file's stats pin a single list value
    for rel in m["files"]:
        mn, mx = m["stats"][rel]["list_id"]
        assert mn == mx
    v, kept, total = M.snapshot_files_pruned_in(root, "list_id", [1, 3])
    assert (total, len(kept)) == (4, 2)
    got = M.read_snapshot_pruned_in(spark, root, "list_id", [1, 3])
    assert {r["list_id"] for r in got.collect()} == {1, 3}
    assert got.count() == 8
    # the physical column survived the partitioned write (leaf files
    # carry list_id; the _cluster dup never surfaces)
    assert got.columns == ["id", "list_id"]


def test_replace_values_is_an_upsert_with_time_travel(spark, tmp_path):
    root = str(tmp_path / "idx")
    M.commit_append_clustered(
        root, _clustered(spark, [0, 1, 2, 3]), "list_id"
    )
    before = M._resolve_manifest(root, 1)
    # new content for lists 1 and 2: drop one row, add two, keep rest
    new_content = _clustered(spark, [1, 2], rows_per=5, tag=7)
    v2 = M.commit_replace_values(root, new_content, "list_id", [1, 2])
    assert v2 == 2
    after = M._resolve_manifest(root, 2)
    # untouched lists are untouched BYTES: files for 0 and 3 carried
    carried = set(before["files"]) & set(after["files"])
    assert len(carried) == 2
    got = {r["id"] for r in M.read_snapshot(spark, root).collect()}
    want = (
        {10 * li + j for li in (0, 3) for j in range(4)}
        | {7000 + 10 * li + j for li in (1, 2) for j in range(5)}
    )
    assert got == want
    # time travel: pre-upsert version still serves the old index
    old = {r["id"] for r in M.read_snapshot(spark, root, 1).collect()}
    assert old == {10 * li + j for li in range(4) for j in range(4)}


def test_replace_values_refuses_straddling_files(spark, tmp_path):
    root = str(tmp_path / "plain")
    # ONE file spanning lists 0..3 — replacing lists {1,2} would drop
    # rows of 0 and 3 if the file were dropped, or duplicate 1,2 if
    # carried; the only safe answer is a hard error
    M.commit_append(root, _clustered(spark, [0, 1, 2, 3]), n_files=1)
    with pytest.raises(ValidationError, match="straddles"):
        M.commit_replace_values(
            root, _clustered(spark, [1, 2], tag=9), "list_id", [1, 2]
        )


def test_replace_values_vs_concurrent_append(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "idx")
    M.commit_append_clustered(
        root, _clustered(spark, [0, 1, 2]), "list_id"
    )
    # competitor appends a DISJOINT cluster (list 5) mid-replace: folded
    b_files = M._write_data_files_clustered(
        _clustered(spark, [5], tag=3), root, "list_id"
    )
    base = M._resolve_manifest(root, 1)
    real = M._try_commit_manifest
    hits = {"n": 0}

    def racing(r, version, payload):
        if hits["n"] == 0:
            hits["n"] = 1
            assert real(
                r,
                version,
                {
                    "files": base["files"] + b_files,
                    "stats": {
                        **base.get("stats", {}),
                        **M._footer_stats(root, b_files),
                    },
                    "column_mapping": {},
                    "schema": base.get("schema"),
                    "op": "append",
                    "added": len(b_files),
                },
            )
        return real(r, version, payload)

    monkeypatch.setattr(M, "_try_commit_manifest", racing)
    v = M.commit_replace_values(
        root, _clustered(spark, [1], rows_per=2, tag=8), "list_id", [1]
    )
    assert v == 3 and hits["n"] == 1
    lists = {
        r["list_id"] for r in M.read_snapshot(spark, root).collect()
    }
    assert lists == {0, 1, 2, 5}  # concurrent append survived

    # competitor appending INTO a replaced cluster conflicts
    c_files = M._write_data_files_clustered(
        _clustered(spark, [2], tag=4), root, "list_id"
    )
    base2 = M._resolve_manifest(root, 3)
    hits["n"] = 0

    def racing2(r, version, payload):
        if hits["n"] == 0:
            hits["n"] = 1
            assert real(
                r,
                version,
                {
                    "files": base2["files"] + c_files,
                    "stats": {
                        **base2.get("stats", {}),
                        **M._footer_stats(root, c_files),
                    },
                    "column_mapping": {},
                    "schema": base2.get("schema"),
                    "op": "append",
                    "added": len(c_files),
                },
            )
        return real(r, version, payload)

    monkeypatch.setattr(M, "_try_commit_manifest", racing2)
    with pytest.raises(M.CommitConflictError, match="replaced cluster"):
        M.commit_replace_values(
            root, _clustered(spark, [2], tag=6), "list_id", [2]
        )


def test_vacuum_recurses_into_clustered_dirs(spark, tmp_path):
    root = str(tmp_path / "idx")
    M.commit_append_clustered(root, _clustered(spark, [0, 1]), "list_id")
    M.commit_replace_values(
        root, _clustered(spark, [1], tag=2), "list_id", [1]
    )
    stats = M.vacuum(root, keep_last=1)
    assert stats["deleted_files"] == 1  # v1's list-1 file unreferenced
    got = {r["id"] for r in M.read_snapshot(spark, root).collect()}
    assert got == {0, 1, 2, 3} | {2010, 2011, 2012, 2013}


# ---------------------------------------------------------------------------
# merge-on-read equality deletes (r10)


def test_delete_where_is_merge_on_read(spark, tmp_path):
    """commit_delete_where moves ZERO data files: the new manifest lists
    the same data files plus one delete file, the latest read subtracts
    the keys, and time travel still serves the pre-delete rows."""
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 12))
    keys = spark.createDataFrame([(i,) for i in (0, 3, 6, 9)], "id long")
    v2 = M.commit_delete_where(root, keys, "id")
    assert v2 == 2
    m1, m2 = M._resolve_manifest(root, 1), M._resolve_manifest(root, 2)
    assert m1["files"] == m2["files"]  # no data rewrite
    assert len(m2["delete_files"]) == 1
    assert _ids(M.read_snapshot(spark, root)) == set(range(12)) - {0, 3, 6, 9}
    assert _ids(M.read_snapshot(spark, root, 1)) == set(range(12))


def test_delete_sequencing_reinserted_keys_survive(spark, tmp_path):
    """Iceberg's sequence-number rule: an equality delete applies only
    to files added BEFORE it, so re-inserting a deleted key later is a
    real insert, not a resurrect-then-delete."""
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))
    M.commit_delete_where(
        root, spark.createDataFrame([(2,), (4,)], "id long"), "id"
    )
    M.commit_append(root, _df(spark, 4, 6))  # re-inserts key 4 (and 5)
    got = _ids(M.read_snapshot(spark, root))
    assert got == (set(range(10)) - {2, 4}) | {4, 5}
    # and the delete STILL applies to the old files' copy of 4 — count
    # proves the old row stayed subtracted (no double 4)
    rows = M.read_snapshot(spark, root).filter("id = 4").count()
    assert rows == 1


def test_rewrite_compacts_deletes_away(spark, tmp_path):
    """commit_rewrite(read_snapshot(...)) is the APPLY-DELETES
    compaction: rewritten files postdate every delete, so the entries
    prune out of the new manifest and the read is unchanged."""
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))
    M.commit_delete_where(
        root, spark.createDataFrame([(1,), (7,)], "id long"), "id"
    )
    before = _ids(M.read_snapshot(spark, root))
    v3 = M.commit_rewrite(root, M.read_snapshot(spark, root), n_files=1)
    assert M.snapshot_delete_files(root, v3) == []
    assert _ids(M.read_snapshot(spark, root, v3)) == before
    # pre-compaction versions still time-travel correctly
    assert _ids(M.read_snapshot(spark, root, 1)) == set(range(10))
    assert _ids(M.read_snapshot(spark, root, 2)) == before


def test_vacuum_reference_counts_delete_files(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))
    M.commit_delete_where(
        root, spark.createDataFrame([(1,)], "id long"), "id"
    )
    # keep v2 (which references the delete file): it must survive
    M.vacuum(root, keep_last=1)
    assert _ids(M.read_snapshot(spark, root)) == set(range(10)) - {1}
    # compact, then vacuum to the compacted version only: the delete
    # file is referenced by NO retained manifest and is removed
    M.commit_rewrite(root, M.read_snapshot(spark, root), n_files=1)
    M.vacuum(root, keep_last=1)
    del_root = os.path.join(root, "deletes")
    left = [
        f
        for _dp, _dn, fs in os.walk(del_root)
        for f in fs
        if f.endswith(".parquet")
    ] if os.path.isdir(del_root) else []
    assert left == []
    assert _ids(M.read_snapshot(spark, root)) == set(range(10)) - {1}


def test_delete_unknown_column_raises(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 5))
    with pytest.raises(ValidationError, match="not in the table schema"):
        M.commit_delete_where(
            root, spark.createDataFrame([(1,)], "nope long"), "nope"
        )


def test_delete_then_rename_composes(spark, tmp_path):
    """A rename AFTER a delete re-keys the delete entry: the reader
    anti-joins on the renamed logical column while the delete file
    keeps its old physical name."""
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 8))
    M.commit_delete_where(
        root, spark.createDataFrame([(3,)], "id long"), "id"
    )
    M.commit_rename_column(root, "id", "key")
    got = M.read_snapshot(spark, root)
    assert got.columns == ["key", "label"]
    assert {r["key"] for r in got.collect()} == set(range(8)) - {3}


# ---------------------------------------------------------------------------
# changelog / CDC feed (r10)


def _feed(spark, root, a, b):
    rows = M.snapshot_changelog(spark, root, a, b).collect()
    return {(r["version"], r["change"], r["id"]) for r in rows}


def test_changelog_appends_and_deletes(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 6))
    M.commit_append(root, _df(spark, 6, 9))
    M.commit_delete_where(
        root, spark.createDataFrame([(1,), (7,)], "id long"), "id"
    )
    assert _feed(spark, root, 1, 3) == {
        (2, "insert", 6),
        (2, "insert", 7),
        (2, "insert", 8),
        (3, "delete", 1),
        (3, "delete", 7),
    }
    # a sub-range tails independently and reproducibly
    assert _feed(spark, root, 2, 3) == {
        (3, "delete", 1),
        (3, "delete", 7),
    }


def test_changelog_rewrite_emits_nothing(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 8))
    M.commit_delete_where(
        root, spark.createDataFrame([(0,)], "id long"), "id"
    )
    M.commit_rewrite(root, M.read_snapshot(spark, root), n_files=1)
    assert _feed(spark, root, 2, 3) == set()


def test_changelog_replace_is_row_level_diff(spark, tmp_path):
    """A replace commit's delta is not manifest-derivable: the feed
    falls back to the symmetric diff and reports exactly the changed
    rows."""
    root = str(tmp_path / "tbl")
    M.commit_append_clustered(root, _df(spark, 0, 9), "label")
    new = spark.createDataFrame(
        [(100, 1), (101, 1)], "id long, label int"
    )
    M.commit_replace_values(root, new, "label", [1])
    feed = _feed(spark, root, 1, 2)
    old_label1 = {i for i in range(9) if i % 3 == 1}
    assert feed == {(2, "insert", 100), (2, "insert", 101)} | {
        (2, "delete", i) for i in old_label1
    }


def test_changelog_guards(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 4))
    M.commit_add_column(root, "w", "double")
    with pytest.raises(ValidationError, match="schema changed"):
        M.snapshot_changelog(spark, root, 1, 2)
    with pytest.raises(ValidationError, match="v_from < v_to"):
        M.snapshot_changelog(spark, root, 2, 2)
    with pytest.raises(ValidationError, match="not retained"):
        M.snapshot_changelog(spark, root, 1, 9)


# ---------------------------------------------------------------------------
# tags / named refs (r10)


def test_tag_pins_version_through_vacuum(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 5))
    M.create_tag(root, "train-v1")  # tags current (v1)
    M.commit_append(root, _df(spark, 5, 8))
    M.commit_append(root, _df(spark, 8, 9))
    got = M.vacuum(root, keep_last=1)
    # v2 dropped, v1 kept by the tag despite keep_last=1
    assert got["dropped_versions"] == 1
    assert M.list_versions(root) == [1, 3]
    assert _ids(
        M.read_snapshot(spark, root, M.resolve_tag(root, "train-v1"))
    ) == set(range(5))
    # untag, vacuum again: now v1 goes
    M.delete_tag(root, "train-v1")
    M.vacuum(root, keep_last=1)
    assert M.list_versions(root) == [3]


def test_tag_is_immutable_and_validated(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 3))
    assert M.create_tag(root, "t") == 1
    with pytest.raises(ValidationError, match="already exists"):
        M.create_tag(root, "t")
    with pytest.raises(ValidationError, match="not a retained"):
        M.create_tag(root, "u", version=9)
    with pytest.raises(ValidationError, match="invalid tag name"):
        M.create_tag(root, "a/b")
    with pytest.raises(ValidationError, match="no tag"):
        M.resolve_tag(root, "ghost")
    with pytest.raises(ValidationError, match="no tag"):
        M.delete_tag(root, "ghost")


# ---------------------------------------------------------------------------
# z-order multi-column skipping (r10)


def test_zorder_bucket_boxes_and_multi_prune(spark, tmp_path):
    """One file per fixed-boundary Morton bucket gives every file a
    compact box in (a, b) space: conjunctive pruning keeps the files
    whose box intersects the predicate box — multiplicatively fewer
    than either single-column prune."""
    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, i % 10) for i in range(400)], "a long, b int"
    )
    M.commit_append_clustered(
        root,
        df.withColumn(
            "zb", M.zorder_bucket([("a", 0, 399), ("b", 0, 9)], 4)
        ),
        "zb",
    )
    v, kept_a, total = M.snapshot_files_pruned(root, "a", 100, 199)
    _v, kept_b, _t = M.snapshot_files_pruned(root, "b", 7, 7)
    _v, kept_ab, _t = M.snapshot_files_pruned_multi(
        root, [("a", 100, 199), ("b", 7, 7)]
    )
    assert total == 16
    assert len(kept_a) < total and len(kept_b) < total
    assert len(kept_ab) <= min(len(kept_a), len(kept_b))
    got = M.read_snapshot_pruned_multi(
        root=root, spark=spark, preds=[("a", 100, 199), ("b", 7, 7)]
    ).collect()
    assert {r["a"] for r in got} == {
        i for i in range(100, 200) if i % 10 == 7
    }


# ---------------------------------------------------------------------------
# MERGE INTO / row-level upsert (r10)


def test_upsert_rows_updates_and_inserts_atomically(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))  # labels i % 3
    batch = spark.createDataFrame(
        [(0, 99), (3, 99), (100, 7)], "id long, label int"
    )
    v2 = M.commit_upsert_rows(root, batch, "id")
    got = {(r["id"], r["label"]) for r in
           M.read_snapshot(spark, root, v2).collect()}
    expect = {(i, i % 3) for i in range(10) if i not in (0, 3)}
    expect |= {(0, 99), (3, 99), (100, 7)}
    assert got == expect
    # exactly one row per updated key (old copy dead, new alive)
    assert M.read_snapshot(spark, root).filter("id = 0").count() == 1
    # time travel: v1 untouched
    assert _ids(M.read_snapshot(spark, root, 1)) == set(range(10))
    # structural: no data rewrite — old files carried
    m1, m2 = M._resolve_manifest(root, 1), M._resolve_manifest(root, v2)
    assert set(m1["files"]) <= set(m2["files"])
    assert len(M.snapshot_delete_files(root, v2)) == 1


def test_upsert_then_compact_retires_delete(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 6))
    M.commit_upsert_rows(
        root,
        spark.createDataFrame([(1, 50)], "id long, label int"),
        "id",
    )
    before = {(r["id"], r["label"]) for r in
              M.read_snapshot(spark, root).collect()}
    v3 = M.commit_rewrite(root, M.read_snapshot(spark, root), n_files=1)
    assert M.snapshot_delete_files(root, v3) == []
    after = {(r["id"], r["label"]) for r in
             M.read_snapshot(spark, root, v3).collect()}
    assert after == before


def test_upsert_unknown_key_column_raises(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 3))
    with pytest.raises(ValidationError, match="not in the table schema"):
        M.commit_upsert_rows(
            root,
            spark.createDataFrame([(1, 2)], "zz long, label int"),
            "zz",
        )


def test_rewrite_clustered_optimizes_pruning_keeps_history(spark, tmp_path):
    """OPTIMIZE: append-order files have full-range stats (prune keeps
    everything); the clustered rewrite tightens them, and the
    pre-optimize version still time-travels."""
    root = str(tmp_path / "tbl")
    for r in range(2):
        M.commit_append(
            root,
            spark.createDataFrame(
                [(i, i % 4) for i in range(r, 100, 2)],
                "a long, b int",
            ),
        )
    from pyspark.sql import functions as F

    def pairs(df):
        return {(r["a"], r["b"]) for r in df.collect()}

    _v, kept_pre, total_pre = M.snapshot_files_pruned(root, "b", 2, 2)
    assert (len(kept_pre), total_pre) == (2, 2)  # nothing prunable
    M.commit_rewrite_clustered(
        root,
        M.read_snapshot(spark, root).withColumn("_c", F.col("b")),
        "_c",
    )
    _v, kept_post, total_post = M.snapshot_files_pruned(root, "b", 2, 2)
    assert total_post == 4 and len(kept_post) == 1
    assert pairs(M.read_snapshot(spark, root)) == pairs(
        M.read_snapshot(spark, root, 2)
    )


# ---------------------------------------------------------------------------
# r11: serializable rewrites vs row-deletes, vacuum writer-safety,
# append schema validation, zorder guards


def test_rewrite_conflicts_with_concurrent_delete(spark, tmp_path, monkeypatch):
    """A compaction racing a row-DELETE must conflict, not rebase: the
    rewritten files would postdate the delete (pruning its entry) while
    still containing the deleted rows read at base — silent
    resurrection. Iceberg's rewrites validate no new delete files since
    base; so do ours."""
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))

    real = M._try_commit_manifest
    hits = {"n": 0}

    def racing(r, version, payload):
        if hits["n"] == 0:
            hits["n"] = 1
            monkeypatch.setattr(M, "_try_commit_manifest", real)
            assert (
                M.commit_delete_where(
                    root,
                    spark.createDataFrame([(3,)], "id long"),
                    "id",
                )
                == 2
            )
            monkeypatch.setattr(M, "_try_commit_manifest", racing)
        return real(r, version, payload)

    monkeypatch.setattr(M, "_try_commit_manifest", racing)
    with pytest.raises(M.CommitConflictError, match="resurrect"):
        M.commit_rewrite(root, M.read_snapshot(spark, root, 1), n_files=1)
    # the delete survived; a re-read rewrite (delete now applied by the
    # scan) succeeds and compacts the delete away
    assert _ids(M.read_snapshot(spark, root)) == set(range(10)) - {3}
    v = M.commit_rewrite(root, M.read_snapshot(spark, root), n_files=1)
    assert _ids(M.read_snapshot(spark, root, v)) == set(range(10)) - {3}
    assert M.snapshot_delete_files(root, v) == []


def test_replace_values_conflicts_with_concurrent_upsert(
    spark, tmp_path, monkeypatch
):
    """commit_replace_values racing an UPSERT (which carries a delete
    entry) must conflict for the same reason: folding the upsert's data
    files in while its delete entry is pruned would resurrect the old
    row copies — duplicate keys."""

    def _kdf(lo, hi):
        return spark.createDataFrame(
            [(i, i % 2, float(i)) for i in range(lo, hi)],
            "id long, bucket int, w double",
        )

    root = str(tmp_path / "tbl")
    M.commit_append_clustered(root, _kdf(0, 8), "bucket")

    real = M._try_commit_manifest
    hits = {"n": 0}

    def racing(r, version, payload):
        if hits["n"] == 0:
            hits["n"] = 1
            monkeypatch.setattr(M, "_try_commit_manifest", real)
            M.commit_upsert_rows(root, _kdf(100, 101), "id")
            monkeypatch.setattr(M, "_try_commit_manifest", racing)
        return real(r, version, payload)

    monkeypatch.setattr(M, "_try_commit_manifest", racing)
    with pytest.raises(M.CommitConflictError):
        M.commit_replace_values(
            root,
            _kdf(0, 8).filter("bucket = 0"),
            "bucket",
            [0],
        )


def test_vacuum_protects_inflight_writer_files(spark, tmp_path):
    """Files an in-flight writer has written but not yet CAS-published
    survive a concurrent default vacuum (grace window) — the writer
    then publishes a manifest whose files all exist."""
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))
    M.commit_append(root, _df(spark, 10, 20))
    M.commit_rewrite(root, M.read_snapshot(spark, root), n_files=1)

    # writer W: data files and sidecar staged, manifest not yet published
    batch, entry = M._stage_batch(root, _df(spark, 50, 55), "commit_append")
    w_files = M._group_files(root, entry)[0]
    stats = M.vacuum(root, keep_last=1)
    # dropped-version files reclaimed immediately; W's fresh files kept
    assert stats["deleted_files"] == 2
    for rel in w_files + [entry["path"]]:
        assert os.path.exists(os.path.join(root, rel))
    # W now publishes; its snapshot reads back complete
    assert M._append_commit(root, "commit_append", batch, entry, None) == 4
    assert _ids(M.read_snapshot(spark, root)) == (
        set(range(20)) | set(range(50, 55))
    )


def test_append_validates_schema_columns(spark, tmp_path):
    """An append whose batch lacks a logical-schema column (stale
    pre-rename names, missing added column) raises instead of
    committing files that read back as typed NULLs."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 5))
    M.commit_rename_column(root, "label", "cls")
    stale = _df(spark, 5, 8)  # still (id, label)
    with pytest.raises(ValidationError, match="cls"):
        M.commit_append(root, stale)
    M.commit_append(root, stale.withColumnRenamed("label", "cls"))
    got = M.read_snapshot(spark, root)
    assert got.columns == ["id", "cls"]
    assert {r["cls"] for r in got.filter(F.col("id") >= 5).collect()} == {
        i % 3 for i in range(5, 8)
    }

    M.commit_add_column(root, "w", "double")
    with pytest.raises(ValidationError, match="'w'"):
        M.commit_append(root, _df(spark, 8, 9).withColumnRenamed("label", "cls"))


def test_append_validates_schema_types(spark, tmp_path):
    """A name-matching batch with a divergent column type is refused at
    commit (not at a later scan), and no version is written."""
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 5))  # id bigint
    bad = spark.createDataFrame(
        [(str(i), i % 3) for i in range(5, 8)], "id string, label int"
    )
    with pytest.raises(ValidationError, match="id string"):
        M.commit_append(root, bad)
    assert M.list_versions(root) == [1]
    assert _ids(M.read_snapshot(spark, root)) == set(range(5))


def test_covered_by_is_set_sized_not_range_sized(spark):
    """_covered_by on a wide integer range is O(|values|): a billion-
    wide file classifies instantly, and near-covered count equality
    cannot be spoofed by non-integer in-range values."""
    import time

    t0 = time.perf_counter()
    assert M._covered_by([0, 10**12], {1, 2}) == "partial"
    assert time.perf_counter() - t0 < 0.1
    assert M._covered_by([0, 2], {0, 1, 2, 9}) == "covered"
    assert M._covered_by([0, 1], {0, 0.5}) == "partial"  # count==2 but 1 kept
    assert M._covered_by([5, 9], {0, 1}) == "disjoint"


def test_zorder_clamps_out_of_bounds_and_guards_width(spark):
    """Out-of-bounds values clamp to the grid edge (no negative /
    out-of-grid buckets from sign extension); interleaves wider than a
    signed bigint raise."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(-50, 5), (0, 0), (9, 9), (200, -1)], "x long, y long"
    )
    z = M.zorder_column([("x", 0, 9), ("y", 0, 9)], bits=8)
    vals = [r["z"] for r in df.select(z.alias("z")).collect()]
    assert all(0 <= v < (1 << 16) for v in vals)
    b = M.zorder_bucket([("x", 0, 9), ("y", 0, 9)], bucket_bits=4, bits=8)
    bvals = [r["b"] for r in df.select(b.alias("b")).collect()]
    assert all(0 <= v < 16 for v in bvals)

    with pytest.raises(ValidationError, match="62"):
        M.zorder_column([("x", 0, 9)] * 4, bits=16)


def test_apply_changelog_folds_version_by_version(spark, tmp_path):
    """The general CDC fold handles the history the collapsed
    one-anti-join consumer gets wrong: a key INSERTED then DELETED
    inside the range must end absent (collapse resurrects it via the
    trailing union), a key deleted then re-inserted must end present,
    and an upsert step applies its delete to the pre-step state."""
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 6))            # v1: 0..5
    M.commit_append(root, _df(spark, 50, 52))          # v2: +50,51
    M.commit_delete_where(                              # v3: -50, -3
        root, spark.createDataFrame([(50,), (3,)], "id long"), "id"
    )
    M.commit_append(root, _df(spark, 3, 4))            # v4: re-insert 3
    M.commit_upsert_rows(                               # v5: update 1
        root,
        spark.createDataFrame([(1, 99)], "id long, label int"),
        "id",
    )

    feed = M.snapshot_changelog(spark, root, 1, 5)
    replica = M.apply_changelog(
        M.read_snapshot(spark, root, 1), feed, "id"
    )
    final = M.read_snapshot(spark, root, 5)
    assert replica.exceptAll(final).count() == 0
    assert final.exceptAll(replica).count() == 0
    got = {r["id"]: r["label"] for r in replica.collect()}
    assert 50 not in got          # insert-then-delete: absent
    assert got[3] == 0            # delete-then-reinsert: present
    assert got[1] == 99           # upsert step applied in order

    # and the collapsed form IS wrong on this history — the regression
    # the fold exists to close
    collapsed = (
        M.read_snapshot(spark, root, 1)
        .join(
            feed.filter(feed.change == "delete").select("id"),
            "id",
            "left_anti",
        )
        .unionByName(
            feed.filter(feed.change == "insert").select("id", "label")
        )
    )
    assert collapsed.filter(collapsed.id == 50).count() > 0


def test_rewrite_with_derived_file_count(spark, tmp_path):
    """n_files=None derives the rewrite's file count from batch volume
    (pow2, never below cluster parallelism) — a compaction whose output
    file count scales with the table instead of pinning a parallelism
    cap."""
    root = str(tmp_path / "tbl")
    for lo in range(0, 40, 10):
        M.commit_append(root, _df(spark, lo, lo + 10))
    v = M.commit_rewrite(root, M.read_snapshot(spark, root), n_files=None)
    _, files = M.snapshot_files(root, v)
    p = spark.sparkContext.defaultParallelism
    floor = 1 << (p - 1).bit_length()
    assert len(files) == floor  # tiny table: the parallelism floor
    assert _ids(M.read_snapshot(spark, root, v)) == set(range(40))


def test_bloom_file_skipping_point_lookup(spark, tmp_path):
    """Per-file blooms prune point lookups where min/max can't: an
    interleaved layout (cluster = id % 4) gives every file a near-full
    [min, max] range, so range stats keep everything — the bloom keeps
    only files that might contain the probed id, with NO false negative
    (the file truly holding the id always survives)."""
    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, i % 4) for i in range(200)], "id long, bucket int"
    )
    M.commit_append_clustered(root, df, "bucket", bloom_columns=["id"])

    # interior probes: every cluster's [min, max] admits them (edge
    # values like 198 ARE range-pruned — that path belongs to min/max)
    for probe in (17, 52, 103, 150):
        v, kept, total, kept_minmax = M.snapshot_files_pruned_eq(
            root, "id", probe
        )
        assert total == 4 and kept_minmax == 4  # ranges prune NOTHING
        assert len(kept) < total  # blooms do
        got = {r["id"] for r in spark.read.parquet(*kept).collect()}
        assert probe in got  # no false negative
    # absent value: every file may be bloom-eliminated (or fp-kept)
    v, kept, total, _ = M.snapshot_files_pruned_eq(root, "id", 10**9)
    assert len(kept) <= 1  # at 4096 bits / 50 values, fp ≈ 0

    # files without a bloom are conservatively admitted when their
    # range admits the probe (range [10, 180] spans 17, no bloom)
    M.commit_append(
        root,
        spark.createDataFrame([(10, 9), (180, 9)], "id long, bucket int"),
    )
    v, kept, total, _ = M.snapshot_files_pruned_eq(root, "id", 17)
    assert total == 5
    assert len(kept) == 2  # bloom-kept cluster + bloom-less append file


def test_bloom_positions_portable(spark):
    """The bloom hash family matches across Python and the SQL form the
    oracles replay (portable md5, first 8 hex chars)."""
    import duckdb

    con = duckdb.connect()
    for v in (17, "abc", 0):
        py = M.bloom_positions(v)
        sql = [
            con.execute(
                f"SELECT ('0x' || substr(md5('bloom{i}:' || ?::VARCHAR), 1, 8))::BIGINT % {M.BLOOM_BITS}",
                [str(v)],
            ).fetchone()[0]
            for i in range(M.BLOOM_HASHES)
        ]
        assert py == sql, (v, py, sql)


def test_manifest_column_stats_analyze_free(spark, tmp_path):
    """Planner statistics folded from manifest metadata alone: row and
    null counts from footers, ndv from the bloom-bitset union — and the
    dict shape feeds estimate_allowed unchanged."""
    from pyspark.sql import functions as F

    from hybrid_vector_search_spark.functions.colstats import (
        estimate_allowed,
    )

    root = str(tmp_path / "tbl")
    rows = [(i, i % 7 if i % 10 else None) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, label int").withColumn(
        "b", (F.col("id") % 3).cast("int")
    )
    M.commit_append_clustered(root, df, "b", bloom_columns=["label"])
    # a second append merges: counts sum, blooms union
    df2 = spark.createDataFrame(
        [(1000 + i, 7 + i % 3) for i in range(60)], "id long, label int"
    ).withColumn("b", (F.col("id") % 3).cast("int"))
    M.commit_append_clustered(root, df2, "b", bloom_columns=["label"])

    stats = M.manifest_column_stats(root, ["label"])
    assert stats["__table__"]["count"] == 360
    st = stats["label"]
    assert st["count"] == 360
    assert st["nulls"] == 30  # every 10th of the first 300
    assert st["min"] == 0 and st["max"] == 9
    true_ndv = 10  # labels 0..6 from batch 1, 7..9 added by batch 2
    assert abs(st["ndv"] - true_ndv) <= 1  # linear counting, tiny n
    est = estimate_allowed(stats, {"label": {"eq": 3}})
    assert 1 <= est <= 360

    # absence is loud: a column committed without blooms raises
    with pytest.raises(ValidationError, match="no bloom"):
        M.manifest_column_stats(root, ["id"])


def test_threaded_optimize_races_appenders(spark, tmp_path):
    """A live two-writer race (no monkeypatch determinism): one thread
    runs OPTIMIZE (compaction rewrites, retrying on conflict) while
    appenders keep landing batches. Every append must survive into the
    final snapshot exactly once, in SOME serial order — the rewrite
    either folds concurrent appends in (rebase) or loses and retries."""
    import threading

    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))
    n_appends = 8
    errs: list = []
    done = threading.Event()

    def appender():
        try:
            for i in range(1, n_appends + 1):
                M.commit_append(root, _df(spark, 100 * i, 100 * i + 5))
        except Exception as e:  # pragma: no cover
            errs.append(("append", e))
        finally:
            done.set()

    def optimizer():
        # M.optimize pins (version, snapshot read) atomically — the raw
        # commit_rewrite(read_snapshot(root)) pair has a window where an
        # append lands between the read and the commit's base resolution
        # and gets replaced away (the lost update this test caught live
        # in r11; commit_rewrite now takes base_version to close it)
        try:
            while not done.is_set():
                M.optimize(spark, root, n_files=1)
        except Exception as e:  # pragma: no cover
            errs.append(("rewrite", e))

    ta = threading.Thread(target=appender)
    tb = threading.Thread(target=optimizer)
    ta.start(); tb.start()
    ta.join(300); tb.join(300)
    assert errs == []
    want = set(range(10)) | {
        100 * i + j for i in range(1, n_appends + 1) for j in range(5)
    }
    got = M.read_snapshot(spark, root)
    assert _ids(got) == want
    assert got.count() == len(want)  # exactly once: no duplicates either


def test_rewrite_rerecords_blooms_for_stats(spark, tmp_path):
    """OPTIMIZE with bloom_columns keeps the ANALYZE-free stats path
    alive across a compaction; without it the loud-absence contract
    fires rather than estimating from partial metadata."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, i % 5) for i in range(100)], "id long, label int"
    ).withColumn("b", (F.col("id") % 2).cast("int"))
    M.commit_append_clustered(root, df, "b", bloom_columns=["label"])
    before = M.manifest_column_stats(root, ["label"])
    M.commit_rewrite(
        root, M.read_snapshot(spark, root), n_files=1,
        bloom_columns=["label"],
    )
    after = M.manifest_column_stats(root, ["label"])
    assert after["__table__"]["count"] == 100
    assert after["label"]["ndv"] == before["label"]["ndv"]
    # and a bloom-less rewrite goes loud, never silently partial
    M.commit_rewrite(root, M.read_snapshot(spark, root), n_files=1)
    with pytest.raises(ValidationError, match="no bloom"):
        M.manifest_column_stats(root, ["label"])


def test_ndv_from_blooms_accuracy_across_cardinalities(spark, tmp_path):
    """Linear counting over the bloom union: estimate within ~10% of
    the true distinct count across two orders of magnitude, and exact
    guards — mixed parameters and saturation raise."""
    import base64

    from pyspark.sql import functions as F

    for true_n in (10, 100, 1000):
        root = str(tmp_path / f"t{true_n}")
        df = spark.createDataFrame(
            [(i, i % true_n) for i in range(2 * true_n)],
            "id long, v long",
        ).withColumn("b", (F.col("id") % 2).cast("int"))
        M.commit_append_clustered(root, df, "b", bloom_columns=["v"])
        est = M.manifest_column_stats(root, ["v"])["v"]["ndv"]
        assert abs(est - true_n) <= max(2, 0.1 * true_n), (true_n, est)

    with pytest.raises(ValidationError, match="mixed"):
        M.ndv_from_blooms(
            [
                {"m": 4096, "k": 3, "b64": base64.b64encode(b"\0" * 512).decode()},
                {"m": 2048, "k": 3, "b64": base64.b64encode(b"\0" * 256).decode()},
            ]
        )
    with pytest.raises(ValidationError, match="saturated"):
        M.ndv_from_blooms(
            [{"m": 64, "k": 1, "b64": base64.b64encode(b"\xff" * 8).decode()}]
        )


def test_rewrite_vs_rewrite_conflicts_then_serializes(spark, tmp_path):
    """Two rewrites sharing a base do NOT commute: the loser's base
    files were replaced, so its commit raises CommitConflictError; a
    re-read + redo (what optimize() automates) then lands cleanly on
    the winner's snapshot."""
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))
    M.commit_append(root, _df(spark, 10, 20))
    base_v = M.current_version(root)
    base_read = M.read_snapshot(spark, root, base_v)

    # writer B wins a full compaction from the same base
    vb = M.commit_rewrite(root, base_read, n_files=1, base_version=base_v)
    assert vb == base_v + 1

    # writer A, still pinned to the old base, must conflict — its
    # rewrite would replace files B already replaced (lost update)
    with pytest.raises(M.CommitConflictError, match="replaced by a concurrent"):
        M.commit_rewrite(root, base_read, n_files=1, base_version=base_v)

    # the redo (re-read current, rewrite THAT) serializes after B
    va = M.commit_rewrite(
        root, M.read_snapshot(spark, root), n_files=1, base_version=vb
    )
    assert va == vb + 1
    assert _ids(M.read_snapshot(spark, root)) == set(range(20))


def test_threaded_rewrite_races_rewrite(spark, tmp_path):
    """LIVE rewrite∥rewrite: two optimizer threads compact the same
    table concurrently. Every attempt either wins its CAS or conflicts
    and retries (optimize's loop); the final snapshot preserves every
    row exactly once and the history is a serial chain of rewrites."""
    import threading

    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 50))
    errs: list = []

    def optimizer(rounds: int):
        try:
            for _ in range(rounds):
                M.optimize(spark, root, n_files=1)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=optimizer, args=(4,)) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(300)
    assert errs == []
    got = M.read_snapshot(spark, root)
    assert _ids(got) == set(range(50))
    assert got.count() == 50  # exactly once — no duplicated rows
    # 8 rewrites + 1 append landed as SOME serial chain
    assert M.current_version(root) == 9


def test_delete_vs_delete_overlapping_keys(spark, tmp_path):
    """delete∥delete on OVERLAPPING key sets commutes: both equality-
    delete files survive the CAS rebase, and the final snapshot
    subtracts the union — in either serial order."""
    import threading

    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 30))
    a_keys = spark.createDataFrame([(i,) for i in range(5, 15)], "id long")
    b_keys = spark.createDataFrame([(i,) for i in range(10, 20)], "id long")
    errs: list = []
    barrier = threading.Barrier(2)

    def deleter(keys):
        try:
            barrier.wait(30)
            M.commit_delete_where(root, keys, "id")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [
        threading.Thread(target=deleter, args=(k,))
        for k in (a_keys, b_keys)
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join(120)
    assert errs == []
    assert M.current_version(root) == 3  # both landed, serial order
    assert _ids(M.read_snapshot(spark, root)) == (
        set(range(30)) - set(range(5, 20))
    )
    # each intermediate version shows exactly one delete applied
    v2 = _ids(M.read_snapshot(spark, root, 2))
    assert v2 in (
        set(range(30)) - set(range(5, 15)),
        set(range(30)) - set(range(10, 20)),
    )


def test_vacuum_vs_inflight_reader_of_dropped_version(spark, tmp_path):
    """vacuum racing a reader pinned to a to-be-dropped version: the
    TAG-pinned reader is unaffected (tagged versions are retention-
    exempt); an UNTAGGED pinned plan whose version is vacuumed fails
    LOUDLY at execution (the files are gone and ignoreMissingFiles is
    off) — never a silently partial result."""
    from py4j.protocol import Py4JJavaError

    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))          # v1
    M.create_tag(root, "pinned", 1)
    M.commit_rewrite(root, M.read_snapshot(spark, root), n_files=1)  # v2
    # v3 rewrites AGAIN (v2's files now referenced by v2 alone, so the
    # vacuum genuinely reclaims them) and folds in new rows
    M.commit_rewrite(
        root,
        M.read_snapshot(spark, root).unionByName(_df(spark, 10, 20)),
        n_files=1,
    )                                                  # v3

    tagged = M.read_snapshot(spark, root, M.resolve_tag(root, "pinned"))
    untagged = M.read_snapshot(spark, root, 2)  # pins v2's file list

    stats = M.vacuum(root, keep_last=1, orphan_grace_sec=0)
    assert stats["dropped_versions"] == 1  # v2 (v1 is tag-pinned)

    # tag-pinned read still serves its snapshot byte-for-byte
    assert _ids(tagged) == set(range(10))
    assert _ids(M.read_snapshot(spark, root, M.resolve_tag(root, "pinned"))) == set(
        range(10)
    )
    # current read unaffected
    assert _ids(M.read_snapshot(spark, root)) == set(range(20))
    # the untagged in-flight plan of the dropped version fails loudly
    with pytest.raises(Py4JJavaError):
        untagged.collect()
    # and re-resolving the dropped version is a clean validation error
    with pytest.raises(ValidationError, match="does not exist"):
        M.read_snapshot(spark, root, 2)


def test_compact_manifest_sidecars_metadata_only(spark, tmp_path):
    """Sidecar compaction (rewrite_manifests): a 12-commit history's
    descriptor collapses to ≤4 group refs in ONE metadata-only commit —
    zero data files move, reads are byte-identical, time travel keeps
    serving pre-compaction versions, pruning still skips, and
    delete-file SEQUENCING survives the merge (a key re-inserted after
    its delete stays present; per-file add versions ride inside the
    merged sidecars)."""
    root = str(tmp_path / "tbl")
    for i in range(12):
        M.commit_append(root, _df(spark, 10 * i, 10 * i + 10))
    # a delete then a re-insert of the same key, pre-compaction: the
    # merged metadata must keep the sequencing exact
    keys = spark.createDataFrame([(3,)], "id long")
    M.commit_delete_where(root, keys, "id")          # kills id=3 (v13)
    M.commit_append(root, _df(spark, 3, 4))          # re-inserts (v14)
    want = set(range(120)) | {3}
    pre = _ids(M.read_snapshot(spark, root))
    assert pre == want
    n_files_before = len(M.snapshot_files(root)[1])
    groups_before = len(M._read_manifest(root, M.current_version(root))["groups"])
    assert groups_before >= 13

    v = M.compact_manifest_sidecars(root, target_groups=4)
    after = M._read_manifest(root, v)
    assert after["op"] == "rewrite_manifests"
    assert len(after["groups"]) <= 4 + 1  # proportional rounding slack
    # zero data movement: identical file set, identical rows
    assert len(M.snapshot_files(root, v)[1]) == n_files_before
    assert set(M.snapshot_files(root, v)[1]) == set(
        M.snapshot_files(root, v - 1)[1]
    )
    assert _ids(M.read_snapshot(spark, root)) == want
    # exactly once: 120 appended - 1 delete-masked + 1 re-inserted
    assert M.read_snapshot(spark, root).count() == len(want)
    # time travel: the pre-compaction version still reads
    assert _ids(M.read_snapshot(spark, root, v - 1)) == want
    # pruning still skips: ids 0..9 live in commit 1's files only
    _v, kept, total = M.snapshot_files_pruned(root, "id", 0, 9)
    assert total == n_files_before and len(kept) < total
    # compacting an already-compact table is a no-op (no new version)
    assert M.compact_manifest_sidecars(root, target_groups=8) == v

    # vacuum reclaims the superseded per-commit sidecars
    import os as _os
    n_sidecars_before = len(
        _os.listdir(_os.path.join(root, "groups"))
    )
    stats = M.vacuum(root, keep_last=1, orphan_grace_sec=0)
    n_sidecars_after = len(_os.listdir(_os.path.join(root, "groups")))
    assert stats["deleted_sidecars"] > 0
    assert n_sidecars_after < n_sidecars_before
    assert _ids(M.read_snapshot(spark, root)) == want


def test_legacy_inline_manifest_migrates_with_rename_mapping(spark, tmp_path):
    """Format-1 → format-2 migration preserves RENAMED-column metadata:
    a hand-built legacy inline manifest representing a post-rename
    table (per-file mapping new→old, stats re-keyed logically, the old
    code's shape) is migrated by the next commit into sidecars — which
    store stats PHYSICALLY and translate through the group mapping at
    resolve time. Reads under the new name, pruning by the new name on
    both old and new files, and the carried mapping must all survive
    the round trip."""
    root = str(tmp_path / "tbl")
    os.makedirs(root, exist_ok=True)
    # physical files written under the OLD column name 'a'
    old_df = spark.createDataFrame(
        [(i, i % 3) for i in range(100)], "a long, label int"
    )
    rels = M._write_data_files(old_df, root, 2)
    stats = M._footer_stats(root, rels)
    # the legacy rename a→b re-keyed stats under the LOGICAL name and
    # recorded per-file mapping {b: a}; replicate that exact shape
    legacy_stats = {}
    for rel, st in stats.items():
        st = dict(st)
        if "a" in st:
            st["b"] = st.pop("a")
        if "__nulls__:a" in st:  # legacy code left nulls keyed physically
            pass
        legacy_stats[rel] = st
    schema = spark.createDataFrame(
        [], "b long, label int"
    ).schema.jsonValue()
    assert M._try_commit_manifest(
        root,
        1,
        {
            "files": rels,
            "stats": legacy_stats,
            "column_mapping": {rel: {"b": "a"} for rel in rels},
            "schema": schema,
            "op": "append",
            "added": len(rels),
            "added_versions": {rel: 1 for rel in rels},
            "delete_files": [],
        },
    )
    # legacy passthrough read serves b from physical a
    got = M.read_snapshot(spark, root)
    assert set(got.columns) == {"b", "label"}
    assert {r["b"] for r in got.collect()} == set(range(100))

    # migration: the next commit (new files written physically as b)
    new_df = spark.createDataFrame(
        [(i, i % 3) for i in range(100, 120)], "b long, label int"
    )
    v2 = M.commit_append(root, new_df, n_files=1)
    assert "groups" in M._read_manifest(root, v2)
    got2 = M.read_snapshot(spark, root)
    assert {r["b"] for r in got2.collect()} == set(range(120))
    # pruning by the RENAMED name reaches old files (stats stored
    # physically in the sidecar, translated through the mapping) and
    # new files (physical == logical)
    _v, kept, total = M.snapshot_files_pruned(root, "b", 100, 119)
    assert total == 3 and len(kept) == 1  # only the new file survives
    _v, kept_old, _t = M.snapshot_files_pruned(root, "b", 0, 10)
    assert len(kept_old) < 3  # at least one old file pruned away
    # pruned READ returns exactly the window rows under the new name
    pr = M.read_snapshot_pruned(spark, root, "b", 100, 119)
    assert {r["b"] for r in pr.collect()} == set(range(100, 120))
    # time travel to the legacy version still works post-migration
    assert {r["b"] for r in M.read_snapshot(spark, root, 1).collect()} == set(
        range(100)
    )


def test_compact_sidecars_carries_commit_meta(spark, tmp_path):
    """Sidecar compaction preserves the latest descriptor's META keys:
    a streaming writer's exactly-once guard (last_committed_meta
    'batch_id') and layout constants must survive — a compaction that
    reset them would let an at-least-once replay double-apply."""
    root = str(tmp_path / "tbl")
    for b in range(10):
        M.commit_append(
            root, _df(spark, b * 5, b * 5 + 5),
            meta={"batch_id": b, "bm25_n": 100 + b},
        )
    assert M.last_committed_meta(root, "batch_id") == 9
    v = M.compact_manifest_sidecars(root, target_groups=2)
    assert M._read_manifest(root, v)["op"] == "rewrite_manifests"
    # the replay guard still sees the last applied batch
    assert M.last_committed_meta(root, "batch_id") == 9
    assert M.committed_meta(root, "bm25_n") == 109
    # and a replayed batch is still skipped by the guard pattern
    assert not (3 > M.last_committed_meta(root, "batch_id", -1))


def test_branch_refs_and_write_audit_publish(spark, tmp_path):
    """Mutable branch refs + the WRITE-AUDIT-PUBLISH pattern: consumers
    resolve through the `published` branch, writers land versions on
    the table, and the pointer moves only after the audit passes — a
    failed audit costs nothing and unaudited data is never served.
    Pointer moves are CAS-serialized (a stale mover conflicts), tags
    and branches coexist in refs/, and vacuum pins the branch target."""
    import threading

    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))                       # v1
    M.create_branch(root, "published")                             # -> v1
    assert M.resolve_branch(root, "published") == 1
    assert _ids(M.read_branch(spark, root, "published")) == set(range(10))

    # a writer lands a BAD batch (audit: no ids >= 900 allowed)
    M.commit_append(root, _df(spark, 900, 905))                    # v2
    audit_ok = (
        M.read_snapshot(spark, root, 2)
        .filter("id >= 900")
        .count()
        == 0
    )
    assert not audit_ok  # audit fails -> pointer does NOT move
    assert M.resolve_branch(root, "published") == 1
    assert _ids(M.read_branch(spark, root, "published")) == set(range(10))

    # remediation: rewrite dropping the bad rows, audit, publish
    fixed = M.read_snapshot(spark, root).filter("id < 900")
    v3 = M.commit_rewrite(root, fixed, n_files=1)
    assert (
        M.read_snapshot(spark, root, v3).filter("id >= 900").count() == 0
    )
    M.update_branch(root, "published", v3)
    assert _ids(M.read_branch(spark, root, "published")) == set(range(10))

    # another good batch, published
    v4 = M.commit_append(root, _df(spark, 10, 20))
    M.update_branch(root, "published", v4)
    assert _ids(M.read_branch(spark, root, "published")) == set(range(20))

    # concurrent AUDITED movers: both read the same head before the
    # race and both target a DIFFERENT value than that head, so the
    # value compare-and-set makes exactly one publish win — the loser
    # either loses the seq link or re-reads a head that no longer
    # matches its audit. (Targets must differ from the head: a mover
    # whose target EQUALS the audited head is a value-level no-op, and
    # a second mover that lists after it still sees the audited value —
    # value CAS legitimately admits both, which an earlier version of
    # this test mis-asserted as a violation.)
    audited_head = M.resolve_branch(root, "published")
    assert audited_head == v4
    errs, wins = [], []
    barrier = threading.Barrier(2)

    def mover(tgt):
        try:
            barrier.wait(30)
            M.update_branch(
                root, "published", tgt, expected_version=audited_head
            )
            wins.append(tgt)
        except M.CommitConflictError:
            errs.append(tgt)

    ts = [threading.Thread(target=mover, args=(v,)) for v in (v3, v3)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(60)
    assert len(wins) == 1 and len(errs) == 1
    assert M.resolve_branch(root, "published") == wins[0] == v3
    # a stale expected_version conflicts deterministically
    with pytest.raises(M.CommitConflictError, match="moved since"):
        M.update_branch(
            root, "published", v4, expected_version=audited_head + 99
        )
    M.update_branch(root, "published", v4)

    # tags and branches coexist; branches never masquerade as tags
    M.create_tag(root, "training-run", v3)
    assert set(M.list_tags(root)) == {"training-run"}
    assert M.list_branches(root) == {"published": v4}

    # vacuum keeps the branch-pinned version (and the tag's)
    M.update_branch(root, "published", v3)
    stats = M.vacuum(root, keep_last=1, orphan_grace_sec=0)
    assert stats["dropped_versions"] >= 1
    assert _ids(M.read_branch(spark, root, "published")) == set(range(10))
    assert M.resolve_branch(root, "published") == v3

    # deleting the branch removes the ref, not the data
    M.delete_branch(root, "published")
    with pytest.raises(ValidationError, match="no branch"):
        M.resolve_branch(root, "published")


@pytest.mark.parametrize("seed", [20260816, 987654321])
def test_manifest_model_randomized_ops(spark, tmp_path, seed):
    """Model-based randomized soak over the full commit surface
    (append / clustered append / delete / upsert / rewrite / sidecar
    compaction / vacuum / rename), seeded for determinism: after EVERY
    operation the snapshot read must equal a plain dict model, and a
    periodic pruned read must equal the model's filtered slice —
    format-2 resolution, subset sidecars, merged per-file add versions,
    delete sequencing, and mapping translation all exercised in random
    interleavings rather than one-shape unit tests. Two seeds = two
    independent interleavings; SPARK_GRAFT_SOAK_STEPS extends the walk
    for ad-hoc long soaks."""
    import os
    import random

    steps = int(os.environ.get("SPARK_GRAFT_SOAK_STEPS", "24"))
    rng = random.Random(seed)
    root = str(tmp_path / "tbl")
    model: dict[int, int] = {}
    next_id = 0
    id_col = "id"  # current logical name (rename flips it)
    # per-version model snapshots so a RESTORE can assert the rolled-
    # back state (and the logical column name that version used)
    hist: dict[int, tuple[dict[int, int], str]] = {}

    def batch(n):
        nonlocal next_id
        rows = [(i, i % 7) for i in range(next_id, next_id + n)]
        next_id += n
        return rows

    def df_of(rows):
        return spark.createDataFrame(rows, f"{id_col} long, label int")

    def snap():
        hist[M.current_version(root)] = (dict(model), id_col)

    rows = batch(20)
    M.commit_append(root, df_of(rows))
    model.update(dict(rows))
    snap()

    for step in range(steps):
        op = rng.choice(
            ["append", "clustered", "delete", "upsert", "rewrite",
             "compact", "vacuum", "rename", "restore", "autocompact",
             "purge"]
        )
        if op == "append":
            rows = batch(rng.randint(1, 12))
            M.commit_append(root, df_of(rows))
            model.update(dict(rows))
        elif op == "clustered":
            rows = batch(rng.randint(2, 10))
            M.commit_append_clustered(root, df_of(rows), id_col)
            model.update(dict(rows))
        elif op == "delete" and model:
            keys = rng.sample(sorted(model), min(len(model), rng.randint(1, 6)))
            M.commit_delete_where(
                root,
                spark.createDataFrame([(k,) for k in keys], f"{id_col} long"),
                id_col,
            )
            for k in keys:
                model.pop(k, None)
        elif op == "upsert" and model:
            old = rng.sample(sorted(model), min(len(model), 3))
            fresh = batch(2)
            rows = [(k, 99) for k in old] + fresh
            M.commit_upsert_rows(root, df_of(rows), id_col)
            model.update(dict(rows))
        elif op == "rewrite":
            M.commit_rewrite(
                root, M.read_snapshot(spark, root),
                n_files=rng.randint(1, 3),
            )
        elif op == "compact":
            M.compact_manifest_sidecars(root, target_groups=rng.randint(1, 4))
        elif op == "autocompact":
            # the streaming-ingest actor: advisory, threshold-gated,
            # must be a silent no-op or a byte-identical rewrite at any
            # point in any interleaving (r13 auto-compaction)
            M.maybe_compact_sidecars(
                root, max_groups=rng.randint(1, 6),
                target_groups=rng.randint(1, 3),
            )
        elif op == "vacuum":
            M.vacuum(root, keep_last=2, orphan_grace_sec=0)
        elif op == "rename":
            new_name = "ident" if id_col == "id" else "id"
            M.commit_rename_column(root, id_col, new_name)
            id_col = new_name
        elif op == "purge" and model:
            # GDPR purge interleaved with everything else (r13 verdict
            # task 6): erase a random subject set, history truncates to
            # the new head — a later RESTORE must never resurrect the
            # purged rows (its candidates filter on retained versions)
            from hybrid_vector_search_spark.sources import purge as PU

            keys = rng.sample(
                sorted(model), min(len(model), rng.randint(1, 5))
            )
            audit = PU.purge_subject(
                spark,
                PU.PurgeTarget(
                    "tbl", root,
                    subject_col=id_col, subject_values=tuple(keys),
                ),
            )
            assert audit["rows_before"] == len(model), (step, audit)
            assert audit["purged_rows"] == len(keys), (step, audit)
            assert audit["residual_rows_any_file"] == 0, (step, audit)
            assert audit["retained_versions"] == 1, (step, audit)
            for k in keys:
                model.pop(k, None)
        elif op == "restore":
            # roll back to any RETAINED version the model remembers
            # (vacuum may have dropped some); the restored state — and
            # the logical column name that version used — must replay
            cands = [
                v for v in M.list_versions(root)
                if v in hist and v != M.current_version(root)
            ]
            if cands:
                v = rng.choice(cands)
                M.restore_snapshot(root, v)
                model, id_col = dict(hist[v][0]), hist[v][1]
        snap()
        got = {
            r[id_col]: r["label"]
            for r in M.read_snapshot(spark, root).collect()
        }
        assert got == model, (step, op, len(got), len(model))
        if step % 5 == 0 and model:
            lo = rng.randint(0, max(next_id - 1, 0))
            hi = lo + rng.randint(0, 15)
            pr = {
                r[id_col]
                for r in M.read_snapshot_pruned(
                    spark, root, id_col, lo, hi
                ).collect()
            }
            assert pr == {k for k in model if lo <= k <= hi}, (step, op)


def test_resolve_asof_wall_and_logical_clocks(spark, tmp_path):
    import time

    root = str(tmp_path / "tbl")
    t_before = time.time()
    v1 = M.commit_append(root, _df(spark, 0, 5), meta={"event_ts": 100})
    v2 = M.commit_append(root, _df(spark, 5, 8), meta={"event_ts": 200})
    v3 = M.commit_append(root, _df(spark, 8, 9))  # no logical clock
    # wall clock: every commit is stamped; 'now' resolves the latest,
    # a time before the first commit resolves nothing
    assert M.resolve_asof(root, time.time() + 60) == v3
    with pytest.raises(ValidationError, match="committed_at"):
        M.resolve_asof(root, t_before - 1)
    # logical clock: greatest version at-or-before the mark; versions
    # without the key (v3) are never candidates
    assert M.resolve_asof(root, 100, meta_key="event_ts") == v1
    assert M.resolve_asof(root, 150, meta_key="event_ts") == v1
    assert M.resolve_asof(root, 10_000, meta_key="event_ts") == v2
    with pytest.raises(ValidationError, match="event_ts"):
        M.resolve_asof(root, 50, meta_key="event_ts")
    # the resolved version reads that snapshot's content exactly
    assert _ids(
        M.read_snapshot(spark, root, M.resolve_asof(root, 250, meta_key="event_ts"))
    ) == set(range(8))


def test_resolve_asof_skips_vacuumed_versions(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 5), meta={"event_ts": 100})
    M.commit_append(root, _df(spark, 5, 8), meta={"event_ts": 200})
    M.vacuum(root, keep_last=1)
    # v1 is gone: the logical mark that used to land it now has no
    # candidate (retention wins over time travel, same as pinned reads)
    with pytest.raises(ValidationError, match="event_ts"):
        M.resolve_asof(root, 150, meta_key="event_ts")
    assert M.resolve_asof(root, 250, meta_key="event_ts") == 2


def test_resolve_asof_skips_non_numeric_clock_values(spark, tmp_path):
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 3), meta={"event_ts": 100})
    # one odd commit with an ISO-string clock must not poison resolution
    M.commit_append(
        root, _df(spark, 3, 5), meta={"event_ts": "2026-08-16T10:00:00"}
    )
    M.commit_append(root, _df(spark, 5, 6), meta={"event_ts": 300})
    assert M.resolve_asof(root, 150, meta_key="event_ts") == 1
    assert M.resolve_asof(root, 1000, meta_key="event_ts") == 3


def test_restore_snapshot_metadata_only_rollback(spark, tmp_path):
    import glob

    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))                    # v1
    M.commit_append(root, _df(spark, 10, 15))                   # v2 (bad)
    n_data_files = len(glob.glob(f"{root}/data/**/*.parquet", recursive=True))
    v3 = M.restore_snapshot(root, 1)
    assert v3 == 3 and M.current_version(root) == 3
    # head serves exactly v1's content; v2 stays readable (history kept)
    assert _ids(M.read_snapshot(spark, root)) == set(range(10))
    assert _ids(M.read_snapshot(spark, root, 2)) == set(range(15))
    # metadata-only: no data file was written or removed by the restore
    assert (
        len(glob.glob(f"{root}/data/**/*.parquet", recursive=True))
        == n_data_files
    )
    h = M.snapshot_history(root)[-1]
    assert h["op"] == "restore" and h["added"] == 0
    assert M._read_manifest(root, 3)["restored_from"] == 1
    # writes continue on top of the restored state
    M.commit_append(root, _df(spark, 20, 22))
    assert _ids(M.read_snapshot(spark, root)) == set(range(10)) | {20, 21}
    # restoring an unretained version refuses
    with pytest.raises(ValidationError, match="not retained"):
        M.restore_snapshot(root, 99)
    # vacuum after restore keeps the head readable (refcount correct:
    # v1's files are referenced by the restored head too)
    M.vacuum(root, keep_last=1, orphan_grace_sec=0)
    assert _ids(M.read_snapshot(spark, root)) == set(range(10)) | {20, 21}


def test_vacuum_age_based_retention(spark, tmp_path):
    import time

    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 3))     # v1
    M.commit_append(root, _df(spark, 3, 6))     # v2
    cut = time.time()                           # v1, v2 are "old"
    M.commit_append(root, _df(spark, 6, 9))     # v3 (recent)
    M.commit_append(root, _df(spark, 9, 12))    # v4 (recent)
    st = M.vacuum(root, keep_last=1, orphan_grace_sec=0, keep_since_ts=cut)
    # the age floor keeps v3 in addition to keep_last's v4; v1/v2 drop
    assert st["dropped_versions"] == 2
    assert M.list_versions(root) == [3, 4]
    assert _ids(M.read_snapshot(spark, root, 3)) == set(range(9))
    # a future mark degenerates to plain keep_last (latest always kept)
    st2 = M.vacuum(
        root, keep_last=1, orphan_grace_sec=0,
        keep_since_ts=time.time() + 3600,
    )
    assert M.list_versions(root) == [4]
    assert st2["dropped_versions"] == 1


def test_changelog_and_apply_across_restore(spark, tmp_path):
    """A restore is a rewrite to CDC consumers: the feed for a range
    crossing it must emit the undone rows as deletes, and the fold
    must land a pinned replica exactly on the restored state."""
    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 10))                    # v1
    M.commit_append(root, _df(spark, 10, 15))                   # v2
    M.restore_snapshot(root, 1)                                 # v3
    feed = M.snapshot_changelog(spark, root, 1, 3)
    rows = [(r["version"], r["change"], r["id"]) for r in feed.collect()]
    ins = {i for v, c, i in rows if c == "insert"}
    dels = {i for v, c, i in rows if c == "delete"}
    assert ins == set(range(10, 15))  # v2's batch enters...
    assert dels == set(range(10, 15))  # ...and the restore removes it
    replica = M.apply_changelog(
        M.read_snapshot(spark, root, 1), feed, "id"
    )
    assert _ids(replica) == set(range(10))
    assert replica.exceptAll(M.read_snapshot(spark, root, 3)).count() == 0


# r13 advice fixes: retention of unknown-age snapshots; the wall stamp
# is never caller-overridable.


def test_vacuum_age_floor_keeps_unstamped_versions(spark, tmp_path):
    """A manifest with NO committed_at (committed before stamping
    existed) is unknown-age: an age-based retention request must keep
    it, same as an unparseable stamp — never destroy on missing
    evidence."""
    import time

    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 3))   # v1 — will be unstamped
    M.commit_append(root, _df(spark, 3, 6))   # v2
    M.commit_append(root, _df(spark, 6, 9))   # v3
    p = os.path.join(root, M._manifest_name(1))
    with open(p) as f:
        d = json.load(f)
    d.pop("committed_at", None)
    with open(p, "w") as f:
        json.dump(d, f)
    # age floor at "now": every stamped version is old EXCEPT the floor
    # keeps nothing by age — yet unstamped v1 must survive
    st = M.vacuum(
        root, keep_last=1, orphan_grace_sec=0,
        keep_since_ts=time.time() + 3600,
    )
    assert 1 in M.list_versions(root)
    assert 2 not in M.list_versions(root)  # stamped + old: dropped
    assert st["dropped_versions"] == 1
    assert _ids(M.read_snapshot(spark, root, 1)) == set(range(3))


def test_commit_meta_cannot_override_committed_at(spark, tmp_path):
    """meta rides flat in the descriptor, so a caller key named
    'committed_at' must not displace the wall stamp (it would corrupt
    resolve_asof's default clock and age-based retention)."""
    import time

    root = str(tmp_path / "tbl")
    before = time.time()
    M.commit_append(root, _df(spark, 0, 3), meta={"committed_at": 1.0})
    after = time.time()
    t = M._read_manifest(root, 1).get("committed_at")
    assert before <= float(t) <= after


# r13: advisory auto-compaction for continuously-appending (streaming)
# tables — the trigger policy, exactly-once meta carry, and race safety.


def test_maybe_compact_triggers_and_carries_meta(spark, tmp_path):
    """Below threshold: pure read, no new version. Above: one
    metadata-only commit back to target_groups, rows byte-identical,
    and the exactly-once guard key (batch_id) survives verbatim."""
    root = str(tmp_path / "tbl")
    for b in range(6):
        M.commit_append(root, _df(spark, b * 2, b * 2 + 2), meta={"batch_id": b})
        assert M.maybe_compact_sidecars(root, max_groups=10) is None
    v = M.current_version(root)
    assert v == 6  # no surprise versions below threshold
    got = M.maybe_compact_sidecars(root, max_groups=4, target_groups=2)
    assert got == 7
    assert len(M._read_manifest(root, 7).get("groups", [])) <= 2
    # replay guard unaffected: last batch id rides through compaction
    assert M.last_committed_meta(root, "batch_id", -1) == 5
    assert _ids(M.read_snapshot(spark, root)) == set(range(12))
    # uninitialized table: no-op, no crash
    assert M.maybe_compact_sidecars(str(tmp_path / "nope")) is None


def test_maybe_compact_races_concurrent_appends(spark, tmp_path):
    """A compacting actor hammering maybe_compact while appenders
    commit: every batch must survive exactly once, the final descriptor
    must be bounded, and the advisory call must never raise (lost CAS
    races return None)."""
    import threading

    root = str(tmp_path / "tbl")
    M.commit_append(root, _df(spark, 0, 2), meta={"batch_id": -1})
    errs = []

    def appender(lo):
        try:
            for b in range(8):
                M.commit_append(
                    root, _df(spark, lo + b * 2, lo + b * 2 + 2)
                )
        except Exception as e:  # pragma: no cover - fail loudly
            errs.append(e)

    def compactor():
        try:
            for _ in range(30):
                M.maybe_compact_sidecars(root, max_groups=3, target_groups=2)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [
        threading.Thread(target=appender, args=(100,)),
        threading.Thread(target=appender, args=(1000,)),
        threading.Thread(target=compactor),
        threading.Thread(target=compactor),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    want = set(range(0, 2))
    want |= {100 + i for i in range(16)}
    want |= {1000 + i for i in range(16)}
    assert _ids(M.read_snapshot(spark, root)) == want
    # one final advisory pass bounds the descriptor
    M.maybe_compact_sidecars(root, max_groups=3, target_groups=2)
    cur = M._read_manifest(root, M.current_version(root))
    assert len(cur.get("groups", [])) <= 3


@pytest.mark.parametrize("seed", [20260816])
def test_quarantine_purge_model_soak(spark, tmp_path, seed):
    """Quarantine fan-out (routed two-root ingest) interleaved with the
    GDPR purge cascade, sidecar compaction, and vacuum — the seeded
    model soak over the two r13 commit surfaces the randomized walk
    didn't cover (r13 verdict task 6). After EVERY op each root must
    equal its model slice; a purge's audit rows must pin the model's
    counts, residual=0, and retained_versions=1 on BOTH roots."""
    import random

    from hybrid_vector_search_spark.sources import purge as PU

    rng = random.Random(seed)
    main, quar = str(tmp_path / "main"), str(tmp_path / "quar")
    m_model: dict[int, tuple] = {}
    q_model: dict[int, tuple] = {}
    next_id = 0

    def df_of(rows):
        return spark.createDataFrame(
            rows, "id long, user long, value long, reason string"
        )

    def ingest():
        nonlocal next_id
        rows = [
            (i, rng.randint(0, 7), rng.randint(0, 99))
            for i in range(next_id, next_id + rng.randint(2, 10))
        ]
        next_id += len(rows)
        good = [(i, u, v, None) for i, u, v in rows if v <= 89]
        bad = [
            (i, u, v, "value_out_of_range") for i, u, v in rows if v > 89
        ]
        if good:
            M.commit_append(main, df_of(good))
            m_model.update({r[0]: r for r in good})
        if bad:
            M.commit_append(quar, df_of(bad))
            q_model.update({r[0]: r for r in bad})

    ingest()
    for step in range(20):
        op = rng.choice(["ingest", "ingest", "purge", "compact", "vacuum"])
        if op == "ingest":
            ingest()
        elif op == "purge":
            subject = rng.randint(0, 7)
            targets = [
                PU.PurgeTarget(
                    name, root, subject_col="user",
                    subject_values=(subject,),
                )
                for name, root in (("main", main), ("quarantine", quar))
                if M.current_version(root) >= 0
            ]
            audit = {
                r["artifact"]: r.asDict()
                for r in PU.purge_subject_cascade(spark, targets).collect()
            }
            for name, model in (("main", m_model), ("quarantine", q_model)):
                if name not in audit:
                    continue
                a = audit[name]
                gone = [k for k, r in model.items() if r[1] == subject]
                assert a["rows_before"] == len(model), (step, name, a)
                assert a["purged_rows"] == len(gone), (step, name, a)
                assert a["residual_rows_any_file"] == 0, (step, name, a)
                assert a["retained_versions"] == 1, (step, name, a)
                for k in gone:
                    model.pop(k)
        elif op == "compact":
            for root in (main, quar):
                if M.current_version(root) >= 0:
                    M.maybe_compact_sidecars(
                        root, max_groups=rng.randint(1, 4), target_groups=1
                    )
        elif op == "vacuum":
            for root in (main, quar):
                if M.current_version(root) >= 0:
                    M.vacuum(root, keep_last=2, orphan_grace_sec=0)
        for root, model in ((main, m_model), (quar, q_model)):
            if M.current_version(root) >= 0:
                got = {
                    r["id"]: (r["id"], r["user"], r["value"], r["reason"])
                    for r in M.read_snapshot(spark, root).collect()
                }
                assert got == model, (step, op, root)
            else:
                assert model == {}, (step, op, root)


def test_probe_pruned_read_bloom_and_cluster(spark, tmp_path):
    """Probe-set pruning (r13, the dedup-ingest read shape): files are
    kept only when their cluster value is probed AND their bloom on the
    probe column admits one of the probe values; the scan is
    result-identical to the unpruned filtered read."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "idx")
    # 4 commits, each clustered into 2 bucket files with blooms on k
    for c in range(4):
        df = spark.createDataFrame(
            [(f"b{i % 2}", f"key-{c}-{i}", i) for i in range(8)],
            "ck string, k string, payload int",
        )
        M.commit_append_clustered(root, df, "ck", bloom_columns=["k"])
    probes = ["key-2-3", "key-2-5", "nope"]
    v, files, total = M.snapshot_files_probe_pruned(
        root, "ck", ["b1"], "k", probes
    )
    assert total == 8  # 4 commits x 2 cluster files
    # bucket pruning alone keeps 4 (the b1 file of each commit); the
    # bloom layer drops the three commits holding none of the probes
    assert len(files) == 1
    got = M.read_snapshot_probe_pruned(
        spark, root, "ck", ["b1"], "k", probes
    )
    want = (
        M.read_snapshot(spark, root)
        .filter(F.col("k").isin(probes))
        .filter(F.col("ck") == "b1")
    )
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in want.collect()
    ) == ["key-2-3", "key-2-5"]
    # files without blooms are conservatively kept: a commit without
    # bloom_columns must still be admitted
    M.commit_append_clustered(
        root,
        spark.createDataFrame(
            [("b1", "other", 1)], "ck string, k string, payload int"
        ),
        "ck",
    )
    _v2, files2, _t2 = M.snapshot_files_probe_pruned(
        root, "ck", ["b1"], "k", probes
    )
    assert len(files2) == 2  # the bloomed match + the bloomless file
    # no cluster column: bloom-only pruning over every file
    _v3, files3, _t3 = M.snapshot_files_probe_pruned(
        root, None, None, "k", probes
    )
    assert set(files) <= set(files3)


def test_current_version_hint_probe_and_fallbacks(spark, tmp_path):
    """O(1) version discovery (r13): the commit path drops an atomic
    latest.hint; discovery probes forward from it, so a stale, missing,
    or corrupt hint degrades to correct answers, never wrong ones."""
    root = str(tmp_path / "tbl")
    for b in range(3):
        M.commit_append(root, _df(spark, b, b + 1))
    hint = os.path.join(root, M._LATEST_HINT)
    assert os.path.exists(hint)
    assert M.current_version(root) == 3
    # stale hint (crash before replace, lost race): forward probe
    with open(hint, "w") as f:
        f.write("1")
    assert M.current_version(root) == 3
    # corrupt hint: listdir fallback
    with open(hint, "w") as f:
        f.write("not-a-number")
    assert M.current_version(root) == 3
    # ahead-of-commit hint: fallback, not a phantom version
    with open(hint, "w") as f:
        f.write("99")
    assert M.current_version(root) == 3
    # missing hint (legacy table): fallback
    os.remove(hint)
    assert M.current_version(root) == 3
    # next commit restores the hint
    M.commit_append(root, _df(spark, 10, 11))
    with open(hint) as f:
        assert int(f.read()) == 4
    # vacuum keeps the latest; hint target survives retention
    M.vacuum(root, keep_last=1, orphan_grace_sec=0)
    assert M.current_version(root) == 4


def test_branch_pointer_race_never_leaks_raw_errors(spark, tmp_path):
    """r13 flake regression: update_branch retires superseded pointer
    files AFTER linking the new seq, so concurrent movers/readers could
    list a head file and find it deleted at open — which surfaced as a
    raw FileNotFoundError instead of the documented CommitConflictError
    (or a clean re-read). Hammer the pointer from several movers while
    a reader spins: the ONLY exception any participant may see is
    CommitConflictError, every resolve returns a real version, and the
    final head equals some winner's target."""
    import threading

    root = str(tmp_path / "tbl")
    versions = []
    for i in range(4):
        M.commit_append(root, _df(spark, 10 * i, 10 * i + 5))
        versions.append(i + 1)
    M.create_branch(root, "published", versions[0])

    stop = threading.Event()
    bad: list = []
    resolved: list = []

    def reader():
        while not stop.is_set():
            try:
                v = M.resolve_branch(root, "published")
                resolved.append(v)
            except M.CommitConflictError:
                continue
            except Exception as e:  # noqa: BLE001 — the assertion
                bad.append(repr(e))
                return

    def mover(seed: int):
        for j in range(40):
            tgt = versions[(seed + j) % len(versions)]
            try:
                head = M.resolve_branch(root, "published")
                M.update_branch(
                    root, "published", tgt,
                    expected_version=head if j % 2 else None,
                )
            except M.CommitConflictError:
                continue
            except Exception as e:  # noqa: BLE001
                bad.append(repr(e))
                return

    rt = threading.Thread(target=reader)
    ms = [threading.Thread(target=mover, args=(s,)) for s in range(4)]
    rt.start()
    for t in ms:
        t.start()
    for t in ms:
        t.join(120)
    stop.set()
    rt.join(30)
    assert bad == [], bad
    assert resolved and set(resolved) <= set(versions)
    assert M.resolve_branch(root, "published") in versions


def test_clustered_append_and_upsert_validate_schema_types(spark, tmp_path):
    """commit_append_clustered and commit_upsert_rows refuse a batch
    whose column type diverges from the table's, as commit_append does:
    no version is written and the table still reads back."""
    good = spark.createDataFrame([(i, i) for i in range(4)], "id long, v int")
    bad = spark.createDataFrame([(9, "x")], "id long, v string")
    for name, commit in (
        ("clustered", lambda root, df: M.commit_append_clustered(root, df, "id")),
        ("upsert", lambda root, df: M.commit_upsert_rows(root, df, "id")),
    ):
        root = str(tmp_path / name)
        M.commit_append(root, good)
        with pytest.raises(ValidationError, match="v string"):
            commit(root, bad)
        assert M.list_versions(root) == [1], name
        assert _ids(M.read_snapshot(spark, root)) == set(range(4)), name
        assert commit(root, good.filter("id < 2")) == 2, name
