"""Versioned-manifest table layout — snapshot isolation, time travel,
MULTI-WRITER commits, per-file column stats with file skipping, and
schema evolution on plain parquet: the core of what table formats
(Iceberg/Delta/Hudi) provide, built from two invariants.

Every maintenance path in this engine (IVF upsert, BM25 append, rollup
merge, drain-and-swap) already closes its CRASH window with a
begin/commit marker — but plain directory layouts still leave reader-
side gaps a 100-TB deployment cares about: no read isolation (a reader
listing a directory mid-commit can see a half-applied state) and no
time travel (yesterday's table is gone the moment today's commit
lands). The manifest layout closes both:

1. **data files are immutable** — writers only ADD files under
   ``data/<uuid>/``, never modify or delete live ones (vacuum removes
   only files referenced by NO retained version);
2. **a version is a manifest** — ``manifest-<v>.json`` describes the
   data files of snapshot ``v`` in full, plus the snapshot's logical
   schema. Publishing a manifest is an atomic filesystem primitive, so
   a reader ALWAYS sees a complete committed snapshot: a crash
   mid-commit leaves data files without a manifest (invisible,
   re-written by the retried commit), and a reader racing a commit
   sees either v or v+1, never a mix.

**Sharded metadata (r12 — the Iceberg manifest-list shape)**: the
per-file entries (paths, min/max stats, Bloom bitsets, add versions)
live in IMMUTABLE parquet sidecars under ``groups/``, one per commit
batch; the version manifest is a THIN DESCRIPTOR holding schema, op,
delete files, and per-group references with summary rollups (count,
added version, column mapping, folded min/max, summed null/row
counts, unioned blooms). Consequences at 100 TB (~800 k files):
appends serialize O(batch) metadata instead of rewriting an O(table)
document; snapshot resolution parses O(groups) descriptor bytes plus
only the sidecars a predicate's group-level [min,max] cannot rule
out; ANALYZE-free planner statistics fold descriptor summaries alone
(zero sidecar reads); renames edit O(groups) mapping entries while
sidecars stay untouched. Sidecars are reference-counted by vacuum
exactly like data files. Format-1 (inline) manifests remain readable;
the first commit over one migrates its entries into sidecars.

**Multi-writer (r10)**: the commit arbiter is ``os.link(tmp, final)``
— creating a hard link fails with ``FileExistsError`` when ``final``
exists, which is an atomic compare-and-swap on POSIX (``os.rename``
would silently OVERWRITE a concurrent winner's manifest — a lost
update). The linked inode is the fully-written temp file, so a reader
can never observe a partial manifest either. A loser of the race
REBASES: its data files are already safely on disk (immutable, under a
fresh uuid dir — no writer ever collides on data paths), so it just
re-reads the new current manifest, recomputes the file list, and
retries at v+1. Appends always rebase cleanly (append ∘ append
commutes). A rewrite/compaction rebases only when every file it
rewrote is still present in the new current version — i.e. concurrent
APPENDS are folded in (their files are carried over), while a
concurrent rewrite of the same files is a genuine conflict and
raises. On an object store the same protocol rides on conditional PUT
(If-None-Match); the filesystem hard link is the local stand-in.

**File skipping (r10)**: commits record per-file min/max for the
table's scalar columns, harvested from the parquet FOOTERS of the
just-written files (metadata pages only — no data scan, the same
source Iceberg's stats come from). ``read_snapshot_pruned`` drops
files whose [min,max] cannot overlap the predicate BEFORE Spark sees
them — partition-pruning semantics without hive directories, and it
composes with time travel (each version prunes against its own stats).
Files without stats for the column are conservatively kept.

**Schema evolution (r10)**: the manifest carries the snapshot's
logical schema and a per-file logical→physical column mapping.
``commit_add_column`` / ``commit_rename_column`` are METADATA-ONLY
commits — zero data bytes move; old files serve renamed columns via
the mapping and absent columns as typed NULLs. Time travel pins the
schema too: reading v1 after a rename still yields v1's column names.

**Merge-on-read row-level deletes (r10)**: ``commit_delete_where``
publishes a DELETE as a tiny EQUALITY-DELETE file (the distinct
deleted key values) attached to the manifest — zero data files move,
the Iceberg merge-on-read shape. Readers subtract matching rows at
scan time with a broadcast anti-join. Sequencing is what makes this
correct under later appends: every data file records the version it
was ADDED in, and a delete applies only to files added BEFORE the
delete's commit — so a row re-inserted with a previously-deleted key
survives, exactly Iceberg's sequence-number rule. Delete files that no
longer apply to any live data file (every file postdates them, e.g.
after a compaction rewrite) are pruned from subsequent manifests, so
``commit_rewrite(read_snapshot(...))`` doubles as the APPLY-DELETES
compaction and the read-side anti-join cost stays bounded by the
un-compacted delete backlog, not table history.

Crash-safety note: data files are written with ``errorifexists`` into
per-commit uuid dirs, so a retried commit after a crash re-writes
fresh files and the orphans stay invisible until ``vacuum``.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from collections import OrderedDict
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from hybrid_vector_search_spark.errors import ValidationError

_MANIFEST_PREFIX = "manifest-"

#: bounded CAS retry budget — each retry re-reads the current manifest,
#: so only sustained contention from many concurrent writers exhausts it
_MAX_COMMIT_RETRIES = 24


class CommitConflictError(ValidationError):
    """A manifest commit lost its compare-and-swap race and could not
    be rebased (rewrite racing a rewrite, or retry budget exhausted)."""


def _manifest_name(version: int) -> str:
    return f"{_MANIFEST_PREFIX}{version:010d}.json"


def list_versions(root: str) -> list[int]:
    """Retained snapshot versions, ascending (empty for a fresh root)."""
    if not os.path.isdir(root):
        return []
    out = []
    for f in os.listdir(root):
        if f.startswith(_MANIFEST_PREFIX) and f.endswith(".json"):
            try:
                out.append(int(f[len(_MANIFEST_PREFIX):-5]))
            except ValueError:
                continue
    return sorted(out)


_LATEST_HINT = "latest.hint"


def _write_latest_hint(root: str, version: int) -> None:
    """Best-effort atomic hint after a successful commit — never
    authoritative (current_version probes FORWARD from it), so a crash
    before the replace, a lost write race, or a deleted hint file can
    only make discovery marginally slower, never wrong."""
    tmp = os.path.join(root, f".{_LATEST_HINT}.{uuid.uuid4().hex[:8]}")
    try:
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(str(int(version)))
        os.replace(tmp, os.path.join(root, _LATEST_HINT))
    except OSError:
        try:
            os.remove(tmp)
        except OSError:
            pass


def current_version(root: str) -> int:
    """Latest committed version, -1 when the table has none.

    O(1)+O(gap), not O(retained versions): every commit/read resolves
    the current version, and a streaming table accumulates thousands
    of manifests — a listdir per resolution was the last O(commits)
    driver-side term (the descriptor itself is bounded by
    auto-compaction). The commit path drops an atomic ``latest.hint``;
    discovery reads it and probes FORWARD (versions are dense at the
    top: commits allocate v+1 contiguously and vacuum never drops the
    latest), so a stale or lost hint costs extra existence checks,
    never a wrong answer. Tables without a hint (legacy, or hint
    deleted) fall back to the listdir."""
    try:
        with open(
            os.path.join(root, _LATEST_HINT), encoding="utf-8"
        ) as f:
            v = int(f.read().strip())
    except (OSError, ValueError):
        vs = list_versions(root)
        return vs[-1] if vs else -1
    if v < 1 or not os.path.exists(
        os.path.join(root, _manifest_name(v))
    ):
        # corrupt or ahead-of-commit hint: authoritative fallback
        vs = list_versions(root)
        return vs[-1] if vs else -1
    while os.path.exists(os.path.join(root, _manifest_name(v + 1))):
        v += 1
    return v


def _read_manifest(root: str, version: int) -> dict:
    p = os.path.join(root, _manifest_name(version))
    if not os.path.exists(p):
        raise ValidationError(
            f"snapshot version {version} does not exist at '{root}' "
            f"(retained: {list_versions(root)})"
        )
    with open(p, encoding="utf-8") as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# sharded manifests (format 2, r12) — the Iceberg manifest-list shape.
#
# A format-1 manifest inlined every per-file entry (path, min/max stats,
# 512 B/column base64 blooms) in ONE json: O(table files) parsed on the
# driver per snapshot resolution and REWRITTEN per commit — at 100 TB
# (~800 k × 128 MB files) that is a ~GB document per read and O(table)
# write amplification per append. Format 2 splits it:
#
# - **group sidecars** (``groups/group-<uuid>.parquet``, written driver-
#   side with pyarrow — metadata, no Spark job): one IMMUTABLE file per
#   commit batch holding that batch's per-file entries (rel path + the
#   stats/bloom dict). A commit writes O(batch) sidecar bytes, never
#   rewrites prior entries.
# - **thin version descriptor** (``manifest-<v>.json``): schema, op,
#   meta, delete files, and a ``groups`` list of sidecar REFERENCES,
#   each carrying the group's file count, added version, column mapping
#   (one schema generation per commit batch) and a SUMMARY rollup —
#   fold of per-file [min,max], summed null/row counts, and the UNION
#   of the per-file bloom bitsets (blooms are mergeable by
#   construction). The descriptor is O(commits), not O(files).
#
# Readers prune at TWO levels: a predicate disjoint from a group's
# summary [min,max] skips the whole sidecar unopened (file skipping
# over the metadata itself), and only surviving groups are parsed —
# through a process-wide LRU keyed by path, safe because sidecars are
# immutable. ANALYZE-free planner statistics (manifest_column_stats)
# fold the descriptor summaries alone: zero sidecar reads. Format-1
# manifests (and tests' hand-built inline payloads) stay readable via
# passthrough; the first commit over one migrates its files into
# sidecars bucketed by (added_version, column mapping).

_GROUP_DIR = "groups"

#: parsed-sidecar LRU: path -> (rels, {rel: stats}); sidecars are
#: immutable, so entries never go stale (vacuum only deletes files no
#: retained descriptor references — nothing re-requests those paths)
_GROUP_CACHE: OrderedDict = OrderedDict()
_GROUP_CACHE_MAX = 1024
_GROUP_CACHE_LOCK = threading.Lock()


def _write_group_file(
    root: str, rels: list[str], stats_by_rel: dict,
    av_by_rel: dict | None = None,
) -> str:
    """Persist one immutable group sidecar (driver-side pyarrow write —
    footer-scale bytes, no Spark job) and return its root-relative
    path. Row order is the file order the snapshot presents.
    ``av_by_rel`` adds a per-file added_version column — written only
    by sidecar COMPACTION, where the merged files span commits and a
    single descriptor-level version can no longer stand in."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(root, _GROUP_DIR), exist_ok=True)
    sub = os.path.join(_GROUP_DIR, f"group-{uuid.uuid4().hex[:12]}.parquet")
    cols = {
        "rel": pa.array(rels, type=pa.string()),
        "stats": pa.array(
            [json.dumps(stats_by_rel.get(r, {})) for r in rels],
            type=pa.string(),
        ),
    }
    if av_by_rel is not None:
        cols["added_version"] = pa.array(
            [int(av_by_rel.get(r, 0)) for r in rels], type=pa.int64()
        )
    pq.write_table(pa.table(cols), os.path.join(root, sub))
    return sub


def _load_group(root: str, sub: str) -> tuple[list[str], dict, dict | None]:
    """(rels, {rel: stats}, {rel: added_version} | None) of a group
    sidecar, through the LRU. The third element is non-None only for
    compaction-written sidecars carrying per-file add versions."""
    import pyarrow.parquet as pq

    key = os.path.abspath(os.path.join(root, sub))
    with _GROUP_CACHE_LOCK:
        hit = _GROUP_CACHE.get(key)
        if hit is not None:
            _GROUP_CACHE.move_to_end(key)
            return hit
    tbl = pq.read_table(key)
    rels = tbl.column("rel").to_pylist()
    stats = dict(
        zip(rels, (json.loads(s) for s in tbl.column("stats").to_pylist()))
    )
    avs = (
        dict(zip(rels, tbl.column("added_version").to_pylist()))
        if "added_version" in tbl.schema.names
        else None
    )
    out = (rels, stats, avs)
    with _GROUP_CACHE_LOCK:
        _GROUP_CACHE[key] = out
        while len(_GROUP_CACHE) > _GROUP_CACHE_MAX:
            _GROUP_CACHE.popitem(last=False)
    return out


def _group_summary(rels: list[str], stats_by_rel: dict) -> dict:
    """The descriptor-level rollup of a group's per-file stats:
    ``rows`` (sum, None when any file predates footer counts),
    ``minmax`` (fold — a column appears only when EVERY file records
    it, so group-level pruning stays conservative), ``nulls`` (sum,
    same all-files rule) and ``bloom`` (bitwise UNION of the per-file
    bitsets — equal to the bloom of the group's distinct value set, so
    ndv estimation needs descriptors only)."""
    import base64

    rows: int | None = 0
    minmax: dict = {}
    nulls: dict = {}
    blooms: dict = {}
    first = True
    for rel in rels:
        st = stats_by_rel.get(rel, {})
        if rows is not None:
            rows = rows + int(st["__rows__"]) if "__rows__" in st else None
        cols = {
            k
            for k in st
            if not k.startswith("__") and isinstance(st[k], list)
        }
        ncols = {
            k[len("__nulls__:"):] for k in st if k.startswith("__nulls__:")
        }
        bcols = {
            k[len("__bloom__:"):] for k in st if k.startswith("__bloom__:")
        }
        if first:
            minmax = {c: list(st[c]) for c in cols}
            nulls = {c: int(st[f"__nulls__:{c}"]) for c in ncols}
            blooms = {c: dict(st[f"__bloom__:{c}"]) for c in bcols}
            first = False
            continue
        for c in list(minmax):
            if c not in cols:
                minmax.pop(c)
            else:
                minmax[c] = [
                    min(minmax[c][0], st[c][0]),
                    max(minmax[c][1], st[c][1]),
                ]
        for c in list(nulls):
            if c not in ncols:
                nulls.pop(c)
            else:
                nulls[c] += int(st[f"__nulls__:{c}"])
        for c in list(blooms):
            b = st.get(f"__bloom__:{c}")
            if (
                b is None
                or int(b["m"]) != int(blooms[c]["m"])
                or int(b["k"]) != int(blooms[c]["k"])
            ):
                blooms.pop(c)
            else:
                u = bytearray(base64.b64decode(blooms[c]["b64"]))
                for i, byte in enumerate(base64.b64decode(b["b64"])):
                    u[i] |= byte
                blooms[c] = {
                    "m": blooms[c]["m"],
                    "k": blooms[c]["k"],
                    "b64": base64.b64encode(bytes(u)).decode("ascii"),
                }
    return {"rows": rows, "minmax": minmax, "nulls": nulls, "bloom": blooms}


def _new_group_entry(
    root: str, rels: list[str], stats_by_rel: dict,
    mapping: dict | None = None, av_by_rel: dict | None = None,
) -> dict:
    """Write a fresh sidecar for a commit batch and return its
    descriptor entry (``added_version`` is stamped by the CAS loop —
    the sidecar itself is version-free, so a rebase retry reuses it).
    ``av_by_rel`` is the compaction path: files spanning commits carry
    their add versions inside the sidecar instead."""
    return {
        "path": _write_group_file(root, rels, stats_by_rel, av_by_rel),
        "count": len(rels),
        "mapping": dict(mapping or {}),
        "summary": _group_summary(rels, stats_by_rel),
    }


def _physical_stats(st: dict, mapping: dict) -> dict:
    """Re-key a legacy LOGICALLY-keyed per-file stats dict back to the
    file's physical column names (sidecar entries are stored physical;
    resolution translates through the group mapping — the inverse)."""
    if not mapping:
        return st
    out = dict(st)
    for logical, phys in mapping.items():
        if logical == phys:
            continue
        for fmt in ("{}", "__nulls__:{}", "__bloom__:{}"):
            lk, pk = fmt.format(logical), fmt.format(phys)
            if lk in out:
                out[pk] = out.pop(lk)
    return out


def _legacy_group_entries(root: str, cur: dict) -> list[dict]:
    """Migrate a format-1 manifest's inline file list into sidecar
    groups, bucketed by (added_version, column mapping) so every group
    keeps the uniform per-group metadata format 2 relies on. One-time
    per table (the descriptor this feeds is format 2; orphaned
    sidecars from a lost CAS race are vacuumed like data orphans)."""
    added = cur.get("added_versions", {})
    stats = cur.get("stats", {})
    mappings = cur.get("column_mapping", {})
    buckets: dict = OrderedDict()
    for rel in cur["files"]:
        mp = mappings.get(rel, {})
        key = (int(added.get(rel, 0)), json.dumps(mp, sort_keys=True))
        buckets.setdefault(key, []).append(rel)
    entries = []
    for (av, mp_json), rels in buckets.items():
        mp = json.loads(mp_json)
        by_rel = {r: _physical_stats(stats.get(r, {}), mp) for r in rels}
        entry = _new_group_entry(root, rels, by_rel, mapping=mp)
        entry["added_version"] = av
        entries.append(entry)
    return entries


def _groups_of(root: str, cur: dict) -> list[dict]:
    """The current snapshot's group entries — native for format 2,
    migrated on the fly for a legacy inline manifest."""
    if "groups" in cur:
        return list(cur["groups"])
    return _legacy_group_entries(root, cur)


def _logical_stats(st: dict, mapping: dict) -> dict:
    """Translate a sidecar's PHYSICALLY-keyed per-file stats to the
    snapshot's logical column names through the group mapping — what
    makes renames metadata-only: the immutable sidecar keeps physical
    keys forever, each descriptor's mapping re-labels them."""
    if not mapping:
        return st
    out = {k: v for k, v in st.items()}
    for logical, phys in mapping.items():
        if logical == phys:
            continue
        for fmt in ("{}", "__nulls__:{}", "__bloom__:{}"):
            lk, pk = fmt.format(logical), fmt.format(phys)
            if pk in out:
                out[lk] = out.pop(pk)
    return out


def _resolve_manifest(root: str, version: int) -> dict:
    """A snapshot in the format-1 LOGICAL shape (``files`` / ``stats``
    / ``column_mapping`` / ``added_versions`` materialized) whichever
    physical format stores it — every reader and rebase path consumes
    this. For format 2 the per-group sidecars come through the LRU, so
    repeated resolutions re-parse nothing."""
    m = _read_manifest(root, version)
    if "groups" not in m:
        return m
    files: list[str] = []
    stats: dict = {}
    mapping: dict = {}
    added: dict = {}
    for entry in m["groups"]:
        rels, by_rel, avs = _load_group(root, entry["path"])
        files.extend(rels)
        mp = entry.get("mapping", {})
        av = int(entry.get("added_version", 0))
        for rel in rels:
            st = by_rel.get(rel, {})
            stats[rel] = _logical_stats(st, mp) if mp else st
            added[rel] = int(avs[rel]) if avs is not None else av
            if mp:
                mapping[rel] = mp
    out = {k: v for k, v in m.items() if k != "groups"}
    out["files"] = files
    out["stats"] = stats
    out["column_mapping"] = mapping
    out["added_versions"] = added
    return out


def _subset_group_entry(
    root: str, entry: dict, keep: set
) -> dict | None:
    """Shrink a group to the files in ``keep``: unchanged entry when
    all survive, None when none do, else a REWRITTEN sidecar holding
    the surviving subset (the original stays immutable for older
    versions; vacuum reclaims it when no retained descriptor points
    at it)."""
    rels, by_rel, avs = _load_group(root, entry["path"])
    kept = [r for r in rels if r in keep]
    if len(kept) == len(rels):
        return entry
    if not kept:
        return None
    sub = _new_group_entry(
        root, kept, {r: by_rel.get(r, {}) for r in kept},
        mapping=entry.get("mapping", {}),
        av_by_rel={r: int(avs[r]) for r in kept} if avs is not None else None,
    )
    sub["added_version"] = (
        min(int(avs[r]) for r in kept)
        if avs is not None
        else int(entry.get("added_version", 0))
    )
    return sub


def _live_delete_files_grouped(
    groups: list[dict], delete_files: list[dict]
) -> list[dict]:
    """Group-level form of :func:`_live_delete_files`: a delete at
    version d stays live while ANY group added before d still has
    files — decided from descriptor counts alone."""
    return [
        d
        for d in delete_files
        if any(
            int(g.get("added_version", 0)) < int(d["version"])
            and int(g.get("count", 0)) > 0
            for g in groups
        )
    ]


def _descriptor_payload(
    groups: list[dict], schema, op: str, added: int,
    delete_files: list[dict], meta: dict | None = None,
) -> dict:
    return {
        "format": 2,
        "groups": groups,
        "schema": schema,
        "op": op,
        "added": added,
        "delete_files": delete_files,
        **(meta or {}),
    }


def snapshot_files(root: str, version: int | None = None) -> tuple[int, list[str]]:
    """(version, absolute data-file paths) of a snapshot — latest when
    ``version`` is None."""
    v = current_version(root) if version is None else int(version)
    if v < 0:
        raise ValidationError(f"no committed snapshot at '{root}'")
    m = _resolve_manifest(root, v)
    return v, [os.path.join(root, rel) for rel in m["files"]]


def snapshot_delete_files(root: str, version: int | None = None) -> list[dict]:
    """The snapshot's LIVE equality-delete entries (each
    ``{"path", "column", "version"}``) — empty once compaction has
    rewritten every file the deletes applied to."""
    v = current_version(root) if version is None else int(version)
    if v < 0:
        raise ValidationError(f"no committed snapshot at '{root}'")
    return list(_read_manifest(root, v).get("delete_files", []))


_DELETE_SCHEMA_MEMO: dict[str, object] = {}


def _read_delete_keys(spark, root: str, rel: str, col_name: str):
    """Read one committed delete-key file, presenting its single column
    as ``col_name``. Delete files are immutable once committed (written
    under a fresh ``deletes/<uuid>/`` dir with ``errorifexists``), so
    the FILE SCHEMA is memoized per absolute path: without this, every
    plan build over a snapshot with live deletes ran a distributed
    parquet footer-inference job per delete file before any row was
    computed (guide §1.2 — measured 2 build-time jobs of every
    corpus_snapshot_cdc_apply pass). First read per process still
    infers; the memo only skips re-inference of an immutable footer,
    never any data."""
    path = os.path.join(root, rel)
    st = _DELETE_SCHEMA_MEMO.get(path)
    if st is None:
        st = spark.read.parquet(path).schema
        _DELETE_SCHEMA_MEMO[path] = st
    return spark.read.schema(st).parquet(path).toDF(col_name)


def _live_delete_files(
    files: list[str], added_versions: dict, delete_files: list[dict]
) -> list[dict]:
    """Drop delete entries that apply to NO file in the new manifest —
    a delete at version d reaches only files added at versions < d
    (files without a recorded add version are legacy: treated as added
    at 0, so every delete reaches them). Pruning here is what makes a
    plain rewrite double as apply-deletes compaction."""
    return [
        d
        for d in delete_files
        if any(
            int(added_versions.get(rel, 0)) < int(d["version"])
            for rel in files
        )
    ]


def _check_no_deletes_since_base(cur: dict, base_v: int, op: str, root: str) -> None:
    """Serializable-rewrite validation (Iceberg's second rule): a
    replace-style commit may rebase over concurrent APPENDS, but NOT
    over a row-delete/upsert that landed after its base — the rewritten
    files would be stamped past the delete's version, ``_carry_
    versioning`` would prune the now-unreachable delete entry, and the
    deleted rows (still present in the data the rewrite read at base)
    would silently resurrect. Raises so the caller re-reads (with the
    delete now applied by the scan) and redoes the rewrite."""
    fresh = [
        d
        for d in cur.get("delete_files", [])
        if int(d.get("version", 0)) > base_v
    ]
    if fresh:
        raise CommitConflictError(
            f"{op} at '{root}': {len(fresh)} row-delete entr"
            f"{'y' if len(fresh) == 1 else 'ies'} landed after rewrite "
            f"base {base_v} — publishing would resurrect the deleted "
            f"rows; re-read the current snapshot and redo the rewrite"
        )


# ---------------------------------------------------------------------------
# reading — schema-aware, optionally stats-pruned


def _apply_logical_schema(
    spark: SparkSession,
    root: str,
    manifest: dict,
    files: list[str] | None = None,
) -> DataFrame:
    """Scan a manifest's files (or the given pruned subset) and present
    them under the manifest's LOGICAL schema. Files are grouped by
    their logical→physical column mapping (one group per schema
    generation — a handful at most); each group reads its physical
    columns, aliases them to logical names, and fills columns added
    after the file was written with typed NULLs. Pre-evolution
    manifests (no schema recorded) read as plain parquet."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    rels = manifest["files"] if files is None else [
        os.path.relpath(f, root) for f in files
    ]
    schema_json = manifest.get("schema")
    if not rels:
        if schema_json is None:
            raise ValidationError("empty snapshot file list")
        # every file pruned away — a legal, empty result
        return spark.createDataFrame(
            [], T.StructType.fromJson(schema_json)
        )
    deletes = manifest.get("delete_files", [])
    added = manifest.get("added_versions", {})
    if schema_json is None and not deletes:
        return spark.read.parquet(*(os.path.join(root, r) for r in rels))
    schema = (
        T.StructType.fromJson(schema_json)
        if schema_json is not None
        else spark.read.parquet(os.path.join(root, rels[0])).schema
    )
    mappings = manifest.get("column_mapping", {})
    # group files by (column mapping, APPLICABLE delete set): a delete
    # committed at version d reaches only files added before d, so two
    # files straddling a delete commit need different anti-joins — the
    # sequencing rule that lets a re-inserted key survive an older
    # delete. Group count stays tiny: one per (schema generation ×
    # delete epoch), not per file.
    groups: dict[str, list[str]] = {}
    for rel in rels:
        applicable = sorted(
            d["path"]
            for d in deletes
            if int(added.get(rel, 0)) < int(d["version"])
        )
        key = json.dumps(
            [mappings.get(rel, {}), applicable], sort_keys=True
        )
        groups.setdefault(key, []).append(rel)
    out = None
    for key, grp in sorted(groups.items()):
        mapping, applicable = json.loads(key)
        # Explicit READ schema derived from the manifest (r15, guide
        # §1.2/§6): the logical schema plus this group's logical→physical
        # mapping IS the group's physical schema — commits record the
        # writing DataFrame's schema, renames only change names, and
        # add-column commits are metadata-only, so a file missing a
        # declared column is exactly the "added after this file was
        # written" case, which the parquet reader fills with typed NULLs
        # under an explicit schema. Declaring it replaces the previous
        # ``mergeSchema=true`` inference, which launched a DISTRIBUTED
        # footer-merge Spark job per file group at plan-BUILD time —
        # measured 8 jobs / ~3 s of every corpus_snapshot_cdc_apply pass
        # before any row was computed.
        read_schema = T.StructType(
            [
                T.StructField(
                    mapping.get(f.name, f.name), f.dataType, True
                )
                for f in schema.fields
            ]
        )
        df = spark.read.schema(read_schema).parquet(
            *(os.path.join(root, r) for r in grp)
        )
        # one selectExpr parse instead of a col/cast/alias py4j chain
        # per field (r15, guide §1.2 — this select is built on every
        # per-pass snapshot read); backtick quoting also keeps physical
        # names with dots from being read as nested access
        part = df.selectExpr(
            *(
                f"CAST(`{mapping.get(f.name, f.name)}` AS "
                f"{f.dataType.simpleString()}) AS `{f.name}`"
                for f in schema.fields
            )
        )
        # subtract this group's applicable equality deletes: the key
        # sets are tiny committed parquet files (distinct deleted
        # values), so each anti-join broadcasts the delete side —
        # merge-on-read cost is one broadcast hash probe per scan row
        by_col: dict[str, list[str]] = {}
        for d in deletes:
            if d["path"] in set(applicable):
                by_col.setdefault(d["column"], []).append(d["path"])
        for col_name, paths in sorted(by_col.items()):
            keys = None
            for p in paths:  # per-file read: physical key-column names
                # can differ across delete epochs (renames compose)
                k = _read_delete_keys(spark, root, p, col_name)
                keys = k if keys is None else keys.unionByName(k)
            part = part.join(
                F.broadcast(keys.distinct()), on=col_name, how="left_anti"
            )
        out = part if out is None else out.unionByName(part)
    return out


# Per-(root, version) analyzed-plan memo (r16, guide §1.2). Building a
# snapshot read is pure driver-side plan construction — ~100 py4j round
# trips (reader, selectExpr parse, delete-key anti-joins) per call,
# measured ~60 ms each, and the CDC/changelog family builds SIX per
# pass. A committed snapshot is immutable: its descriptor is written
# once (atomic create, never rewritten except by sidecar compaction,
# which replaces the file and hence its mtime), its data files are
# never rewritten in place, and vacuum only deletes versions whose
# descriptors it also deletes. The memo therefore keys on (root,
# version) and revalidates against the descriptor file's (mtime_ns,
# size) on every hit — compaction, restore-with-rewrite, or an
# out-of-band regeneration rotates the token and rebuilds. Purge paths
# additionally invalidate by root (sources/purge.py fires
# invalidate_snapshot_plans from _invalidate_residents), and
# registry.invalidate_caches() clears the memo wholesale; both are the
# refresh contract the README documents for in-place mutation. The
# memo holds the LAZY DataFrame: every action re-executes the physical
# plan — nothing about results is cached.
_SNAPSHOT_DF_MEMO: "OrderedDict[tuple, tuple]" = OrderedDict()
_SNAPSHOT_DF_MEMO_MAX = 256


def invalidate_snapshot_plans(root: str | None = None) -> None:
    """Drop memoized snapshot read plans — all of them, or only those
    under ``root`` (a purge/vacuum target or a descendant table)."""
    if root is None:
        _SNAPSHOT_DF_MEMO.clear()
        return
    r = os.path.normpath(root)
    for k in [
        k
        for k in list(_SNAPSHOT_DF_MEMO)
        if k[0] == r
        or k[0].startswith(r + os.sep)
        or r.startswith(k[0] + os.sep)
    ]:
        _SNAPSHOT_DF_MEMO.pop(k, None)


def read_snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Scan exactly one committed snapshot's files under that
    snapshot's logical schema. The file list is pinned at plan time,
    so the resulting DataFrame is a REPRODUCIBLE read: later commits
    (which only add files and manifests) cannot change what this plan
    scans — the property a training run pins a data snapshot with.
    Time travel pins the SCHEMA too: reading v1 after a v2 rename
    still yields v1's column names."""
    v = current_version(root) if version is None else int(version)
    if v < 0:
        raise ValidationError(f"no committed snapshot at '{root}'")
    key = (os.path.normpath(root), v)
    try:
        st = os.stat(os.path.join(root, _manifest_name(v)))
        token = (st.st_mtime_ns, st.st_size)
    except OSError:
        token = None  # descriptor gone/unstatable: never memoize
    got = _SNAPSHOT_DF_MEMO.get(key)
    if (
        got is not None
        and got[0] is spark
        and token is not None
        and got[1] == token
    ):
        _SNAPSHOT_DF_MEMO.move_to_end(key)  # LRU: hot entries survive
        return got[2]
    df = _apply_logical_schema(spark, root, _resolve_manifest(root, v))
    if token is not None:
        _SNAPSHOT_DF_MEMO[key] = (spark, token, df)
        while len(_SNAPSHOT_DF_MEMO) > _SNAPSHOT_DF_MEMO_MAX:
            _SNAPSHOT_DF_MEMO.popitem(last=False)
    return df


def snapshot_files_pruned(
    root: str,
    column: str,
    lo,
    hi,
    version: int | None = None,
    _memo: dict | None = None,
) -> tuple[int, list[str], int]:
    """(version, kept absolute file paths, total files in version):
    drop files whose manifest [min,max] for ``column`` cannot overlap
    [lo, hi] — data skipping decided from manifest metadata alone,
    BEFORE Spark lists or opens anything. Files without recorded stats
    for the column are conservatively KEPT (pruning must never change
    results, only bytes read). Format-2 snapshots prune at the GROUP
    level first: a sidecar whose summary [min,max] is disjoint from
    [lo, hi] is skipped without being opened — the metadata read is
    O(surviving groups), not O(table files)."""
    v = current_version(root) if version is None else int(version)
    if v < 0:
        raise ValidationError(f"no committed snapshot at '{root}'")
    m = _read_manifest(root, v)
    if "groups" not in m:
        stats = m.get("stats", {})
        kept = []
        for rel in m["files"]:
            mm = stats.get(rel, {}).get(column)
            if mm is not None and (mm[0] > hi or mm[1] < lo):
                continue  # provably disjoint from [lo, hi]
            kept.append(rel)
        return v, [os.path.join(root, r) for r in kept], len(m["files"])
    kept, total = [], 0
    for entry in m["groups"]:
        total += int(entry["count"])
        phys = entry.get("mapping", {}).get(column, column)
        gmm = entry.get("summary", {}).get("minmax", {}).get(phys)
        if gmm is not None and (gmm[0] > hi or gmm[1] < lo):
            continue  # whole sidecar provably disjoint — never opened
        rels, by_rel, avs = _load_group(root, entry["path"])
        mp = entry.get("mapping", {})
        av = int(entry.get("added_version", 0))
        for rel in rels:
            mm = by_rel.get(rel, {}).get(phys)
            if mm is not None and (mm[0] > hi or mm[1] < lo):
                continue
            kept.append(rel)
            if _memo is not None:
                _memo[rel] = (
                    mp, int(avs[rel]) if avs is not None else av
                )
    return v, [os.path.join(root, r) for r in kept], total


def _restricted_view(md: dict, memo: dict, files_abs: list[str], root: str) -> dict:
    """A manifest view covering ONLY the pruned-in files, assembled from
    the sidecars the pruning pass already parsed — the pruned READ path
    never resolves the full snapshot, so its metadata cost is O(touched
    sidecars) like the pruning itself."""
    rels = [os.path.relpath(f, root) for f in files_abs]
    return {
        "files": rels,
        "schema": md.get("schema"),
        "delete_files": md.get("delete_files", []),
        "column_mapping": {
            r: memo[r][0] for r in rels if r in memo and memo[r][0]
        },
        "added_versions": {
            r: memo[r][1] for r in rels if r in memo
        },
    }


def read_snapshot_pruned(
    spark: SparkSession,
    root: str,
    column: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Stats-pruned snapshot scan + the actual row-level predicate
    (file skipping is a superset filter; the BETWEEN still applies).
    Result-identical to ``read_snapshot(...).filter(between)`` by
    construction — just fewer files opened."""
    from pyspark.sql import functions as F

    v = current_version(root) if version is None else int(version)
    if v < 0:
        raise ValidationError(f"no committed snapshot at '{root}'")
    md = _read_manifest(root, v)
    if "groups" not in md:
        m = _resolve_manifest(root, v)
        _v, files, _total = snapshot_files_pruned(root, column, lo, hi, v)
        df = _apply_logical_schema(spark, root, m, files=files)
        return df.filter(F.col(column).between(lo, hi))
    memo: dict = {}
    _v, files, _total = snapshot_files_pruned(
        root, column, lo, hi, v, _memo=memo
    )
    df = _apply_logical_schema(
        spark, root, _restricted_view(md, memo, files, root), files=files
    )
    return df.filter(F.col(column).between(lo, hi))


def snapshot_files_probe_pruned(
    root: str,
    cluster_col: str | None,
    cluster_values,
    bloom_col: str,
    probe_values,
    version: int | None = None,
    _memo: dict | None = None,
    probe_hash=None,
    file_bucket=None,
) -> tuple[int, list[str], int]:
    """(version, kept absolute paths, total): PROBE-SET pruning for
    point-lookup joins — a file survives only if

    1. its ``cluster_col`` [min,max] can hold one of ``cluster_values``
       (skip with ``cluster_col=None``) — the coarse slice (a clustered
       layout writes min==max files, so this is exact), and
    2. its per-file bloom on ``bloom_col`` admits AT LEAST ONE of
       ``probe_values`` (files without a bloom are conservatively
       kept; bloom false negatives are impossible, so the kept set is
       always a superset of files holding probe matches).

    This is the read shape of the streaming dedup ingest (r13): the
    batch's band keys are the probe set, so the candidate join scans
    only the files that can actually contain a probed posting — bytes
    per batch track MATCHING postings, not index size. Blooms make
    that selective only when files are narrow (few keys per file);
    pair this with a bucketed cluster column so each file holds a thin
    hash slice of the key space.

    ``probe_hash``/``file_bucket`` (given together) bound the DRIVER
    cost: without them every file's bloom is tested against every
    probe — O(files × P) mask ops, linear in index size. When the
    layout buckets each file by ``hash(value) % n`` with a POWER-OF-
    TWO per-commit modulus (pow2 moduli NEST: h % n₁ & (n₂−1) = h %
    n₂ for n₂ ≤ n₁), each file only needs the probes of ITS bucket:
    per commit sidecar the modulus is inferred as next_pow2(max
    bucket + 1) (≤ the true modulus, so nesting still holds), probes
    are grouped by hash & (n−1), and total mask work drops to
    O(commits × P) — independent of file count. ``probe_hash`` maps a
    probe value to the layout's hash int; ``file_bucket`` maps a
    file's stats entry to its bucket int (None = no bucket: tested
    against all probes)."""
    import base64

    import numpy as _np

    v = current_version(root) if version is None else int(version)
    if v < 0:
        raise ValidationError(f"no committed snapshot at '{root}'")
    m = _read_manifest(root, v)
    cvals = None if cluster_col is None else set(cluster_values)
    pvals = list(probe_values)
    # probe positions are a pure function of (value, m, k): hash each
    # probe ONCE per bloom geometry into a byte MASK, then test whole
    # file batches vectorized — the naive per-(file, value) loop
    # re-hashes every probe for every file (P×files×k md5 calls) and
    # even integer masks in a Python loop measured ~1.5 s of driver
    # time at 2k probes × 500 files; the numpy form is ~50 ms.
    mask_cache: dict[tuple[int, int], "_np.ndarray"] = {}

    def probe_masks(m_bits: int, k_hashes: int) -> "_np.ndarray":
        got = mask_cache.get((m_bits, k_hashes))
        if got is None:
            out = _np.zeros((len(pvals), m_bits // 8), dtype=_np.uint8)
            for i, x in enumerate(pvals):
                for pos in bloom_positions(x, m_bits, k_hashes):
                    out[i, pos // 8] |= 1 << (pos % 8)
            mask_cache[(m_bits, k_hashes)] = got = out
        return got

    def cluster_ok(entry: dict, c_phys: str | None) -> bool:
        if cvals is None:
            return True
        mm = (entry or {}).get(c_phys)
        return mm is None or any(mm[0] <= x <= mm[1] for x in cvals)

    probe_hashes = (
        None
        if probe_hash is None
        else _np.array([int(probe_hash(x)) for x in pvals], dtype=_np.int64)
    )

    def _test(bits_w, masks_w, admitted) -> None:
        """OR into ``admitted``: per file, any mask fully present.
        Chunk the probe axis — the full (F, P, words) broadcast is
        hundreds of MB, per-probe Python looping is thousands of numpy
        dispatches; 64-probe chunks keep temporaries ~MB."""
        for c0 in range(0, len(masks_w), 64):
            if admitted.all():
                break
            chunk = masks_w[c0:c0 + 64]  # (C, words)
            hit = (
                (bits_w[:, None, :] & chunk[None, :, :])
                == chunk[None, :, :]
            ).all(axis=2)  # (F, C)
            admitted |= hit.any(axis=1)

    def bloom_batch_admits(
        entries: list[dict], b_phys: str
    ) -> list[bool]:
        """One vectorized pass: per file, does its bloom admit ANY
        probe value (all of that value's k bits set)? Files without a
        bloom (or with an unexpected geometry) are conservatively
        kept. With ``probe_hash``/``file_bucket``, bucketed files are
        tested only against their own bucket's probes (see the
        function docstring)."""
        out = [True] * len(entries)
        by_geom: dict[tuple[int, int], list[int]] = {}
        blobs: dict[int, bytes] = {}
        fbs: list[int | None] = [None] * len(entries)
        for i, entry in enumerate(entries):
            bloom = (entry or {}).get(bloom_key(b_phys))
            if not bloom:
                continue
            try:
                blob = base64.b64decode(bloom["b64"])
                geom = (int(bloom["m"]), int(bloom["k"]))
            except (KeyError, TypeError, ValueError):
                continue
            if len(blob) * 8 != geom[0]:
                continue
            blobs[i] = blob
            by_geom.setdefault(geom, []).append(i)
            if probe_hashes is not None and file_bucket is not None:
                try:
                    fb = file_bucket(entry)
                    fbs[i] = None if fb is None else int(fb)
                except (TypeError, ValueError, KeyError, IndexError):
                    fbs[i] = None
        for geom, idxs in by_geom.items():
            masks = probe_masks(*geom)  # (P, m/8) uint8
            bits = _np.frombuffer(
                b"".join(blobs[i] for i in idxs), dtype=_np.uint8
            ).reshape(len(idxs), -1)  # (F, m/8)
            if bits.shape[1] % 8 == 0:  # 8× fewer ops as uint64 words
                bits_w = _np.ascontiguousarray(bits).view(_np.uint64)
                masks_w = _np.ascontiguousarray(masks).view(_np.uint64)
            else:  # odd geometry: per-byte works everywhere
                bits_w, masks_w = bits, masks
            admitted = _np.zeros(len(idxs), dtype=bool)
            bucketed = [
                j for j, i in enumerate(idxs) if fbs[i] is not None
            ]
            if not bucketed:
                _test(bits_w, masks_w, admitted)
            else:
                # infer this sidecar's pow2 modulus from its max
                # bucket (≤ true modulus ⇒ nesting holds), group files
                # and probes by bucket (argsort + searchsorted — per-
                # bucket list scans would be O(buckets × files)), test
                # group-against-group
                f_idx = _np.array(bucketed, dtype=_np.int64)
                mx = int(max(fbs[idxs[j]] for j in bucketed))
                n_g = (1 << mx.bit_length()) if mx > 0 else 1
                fb_arr = _np.array(
                    [fbs[idxs[j]] for j in bucketed], dtype=_np.int64
                ) & (n_g - 1)
                p_bucket = probe_hashes & (n_g - 1)
                p_order = _np.argsort(p_bucket, kind="stable")
                p_sorted = p_bucket[p_order]
                f_order = _np.argsort(fb_arr, kind="stable")
                fb_sorted = fb_arr[f_order]
                starts = _np.searchsorted(
                    fb_sorted, _np.arange(0, n_g + 1)
                )
                for fb in _np.unique(fb_sorted):
                    lo, hi = starts[fb], starts[fb + 1]
                    p_lo = _np.searchsorted(p_sorted, fb, side="left")
                    p_hi = _np.searchsorted(p_sorted, fb, side="right")
                    if p_lo == p_hi:
                        continue  # no probe lands in this bucket
                    f_sel = f_idx[f_order[lo:hi]]
                    m_sel = p_order[p_lo:p_hi]
                    sub = _np.zeros(len(f_sel), dtype=bool)
                    _test(bits_w[f_sel], masks_w[m_sel], sub)
                    admitted[f_sel] |= sub
                rest = [
                    j for j, i in enumerate(idxs) if fbs[i] is None
                ]
                if rest:
                    sub = _np.zeros(len(rest), dtype=bool)
                    _test(bits_w[rest], masks_w, sub)
                    admitted[rest] |= sub
            for j, i in enumerate(idxs):
                out[i] = bool(admitted[j])
        return out

    if "groups" not in m:
        stats = m.get("stats", {})
        cands = [
            rel
            for rel in m["files"]
            if cluster_ok(stats.get(rel, {}), cluster_col)
        ]
        admits = bloom_batch_admits(
            [stats.get(r, {}) for r in cands], bloom_col
        )
        kept = [r for r, a in zip(cands, admits) if a]
        return v, [os.path.join(root, r) for r in kept], len(m["files"])
    kept, total = [], 0
    for ge in m["groups"]:
        total += int(ge["count"])
        mp = ge.get("mapping", {})
        c_phys = (
            None if cluster_col is None else mp.get(cluster_col, cluster_col)
        )
        b_phys = mp.get(bloom_col, bloom_col)
        if cvals is not None:
            gmm = ge.get("summary", {}).get("minmax", {}).get(c_phys)
            if gmm is not None and not any(
                gmm[0] <= x <= gmm[1] for x in cvals
            ):
                continue  # whole sidecar outside the probed slice
        rels, by_rel, avs = _load_group(root, ge["path"])
        av = int(ge.get("added_version", 0))
        cands = [
            rel
            for rel in rels
            if cluster_ok(by_rel.get(rel, {}), c_phys)
        ]
        admits = bloom_batch_admits(
            [by_rel.get(r, {}) for r in cands], b_phys
        )
        for rel, admit in zip(cands, admits):
            if not admit:
                continue
            kept.append(rel)
            if _memo is not None:
                _memo[rel] = (
                    mp, int(avs[rel]) if avs is not None else av
                )
    return v, [os.path.join(root, r) for r in kept], total


def read_snapshot_probe_pruned(
    spark: SparkSession,
    root: str,
    cluster_col: str | None,
    cluster_values,
    bloom_col: str,
    probe_values,
    version: int | None = None,
    row_filter: bool = True,
    files_out: list | None = None,
    probe_hash=None,
    file_bucket=None,
) -> DataFrame:
    """:func:`snapshot_files_probe_pruned` as a scan, plus (by
    default) the row-level ``isin`` on the probed column —
    result-identical to the unpruned filtered read (pruning keeps a
    superset of files holding probe matches; the isin discards the
    rest). Callers that feed the scan straight into an equi-join ON
    the probed column pass ``row_filter=False``: the join discards
    non-probed rows anyway, and an IN over thousands of literals is
    pure Catalyst overhead. ``files_out`` (a list) receives the kept
    absolute paths — scan-bytes accounting without re-running the
    pruning."""
    from pyspark.sql import functions as F

    v = current_version(root) if version is None else int(version)
    if v < 0:
        raise ValidationError(f"no committed snapshot at '{root}'")
    md = _read_manifest(root, v)
    if "groups" not in md:
        m = _resolve_manifest(root, v)
        _v, files, _total = snapshot_files_probe_pruned(
            root, cluster_col, cluster_values, bloom_col, probe_values, v,
            probe_hash=probe_hash, file_bucket=file_bucket,
        )
        df = _apply_logical_schema(spark, root, m, files=files)
    else:
        memo: dict = {}
        _v, files, _total = snapshot_files_probe_pruned(
            root, cluster_col, cluster_values, bloom_col, probe_values, v,
            _memo=memo, probe_hash=probe_hash, file_bucket=file_bucket,
        )
        df = _apply_logical_schema(
            spark, root, _restricted_view(md, memo, files, root),
            files=files,
        )
    if files_out is not None:
        files_out.extend(files)
    if row_filter:
        df = df.filter(F.col(bloom_col).isin(list(probe_values)))
    return df


# ---------------------------------------------------------------------------
# writing — immutable data files + CAS manifest publish


def _write_data_files(
    df: DataFrame, root: str, n_files: int | None
) -> list[str]:
    """Write a batch as immutable data files under ``data/<uuid>/`` and
    return their root-relative paths. The fresh uuid dir is why
    concurrent writers never collide on data paths — only the manifest
    name is contended. ``n_files=None`` derives the count from the
    batch's plan-estimated bytes (the bucketing module's 128 MB/file
    target, floored at the cluster parallelism) — the OPTIMIZE-scale
    default, since a pinned file count becomes a parallelism cap as
    tables grow (same failure the r10 bucketed layout had)."""
    if n_files is None:
        from hybrid_vector_search_spark.sources.bucketing import (
            derive_bucket_count,
        )

        n_files = derive_bucket_count(df.sparkSession, df)
    sub = os.path.join("data", uuid.uuid4().hex[:12])
    out_dir = os.path.join(root, sub)
    df.repartition(max(int(n_files), 1)).write.mode("errorifexists").parquet(
        out_dir
    )
    return sorted(
        os.path.join(sub, f)
        for f in os.listdir(out_dir)
        if f.endswith(".parquet")
    )


def _write_data_files_clustered(
    df: DataFrame, root: str, column: str
) -> list[str]:
    """Write a batch as immutable data files with ONE FILE PER DISTINCT
    ``column`` VALUE — the layout an index keeps (IVF list files, BM25
    term buckets): the pre-write ``repartition(column)`` puts each
    value wholly inside one task and the writer splits by a duplicate
    partition column, so every emitted file has footer min == max ==
    its cluster value. ``column`` stays a PHYSICAL column in the data
    (the partition dir carries a ``_cluster`` duplicate), so manifest
    readers that open leaf files directly still see it — and footer
    stats give exact single-value pruning for free."""
    sub = os.path.join("data", uuid.uuid4().hex[:12])
    out_dir = os.path.join(root, sub)
    from pyspark.sql import functions as F

    (
        df.withColumn("_cluster", F.col(column))
        .repartition(F.col("_cluster"))
        .write.mode("errorifexists")
        .partitionBy("_cluster")
        .parquet(out_dir)
    )
    rels = []
    for dirpath, _dirs, files in os.walk(out_dir):
        for f in files:
            if f.endswith(".parquet"):
                rels.append(
                    os.path.relpath(os.path.join(dirpath, f), root)
                )
    return sorted(rels)


# --------------------------------------------------------------------------
# per-file Bloom filters (r11): point-lookup file skipping where min/max
# can't — a clustered/z-ordered layout gives every file a tight RANGE box,
# but a file whose range spans the probe value still has to be read; a
# bloom answers "is this exact value possibly in this file" in O(k) bit
# tests. Stored inline in the manifest's per-file stats dict under a
# reserved "__bloom__:<col>" key, so every commit that already carries
# stats carries blooms with zero new plumbing, and vacuum/time-travel see
# nothing new. The hash family is the engine-wide portable md5 (same form
# as operators/sampling.py portable_hash_key), so a DuckDB oracle replays
# bloom CONSTRUCTION and the membership test bit-for-bit.

BLOOM_BITS = 4096  # m — 512 bytes/file/column; fp ≈ (1-e^{-kn/m})^k
BLOOM_HASHES = 3  # k


def bloom_key(column: str) -> str:
    return f"__bloom__:{column}"


def bloom_positions(value, m: int = BLOOM_BITS, k: int = BLOOM_HASHES):
    """The k bit positions of ``value`` — md5('bloom<i>:' || str(value))
    first 8 hex chars, mod m. Identical arithmetic in Spark
    (:func:`_bloom_positions_rows`) and ANSI SQL (portable_hash_key_sql
    form), which is what makes the skipping oracle-checkable. int and
    string values only (float string renderings diverge across
    engines)."""
    import hashlib

    s = str(value)
    return [
        int(
            hashlib.md5(f"bloom{i}:{s}".encode("utf-8")).hexdigest()[:8], 16
        )
        % m
        for i in range(k)
    ]


def _compute_file_blooms(
    root: str, rels: list[str], column: str, m: int, k: int
) -> dict[str, dict]:
    """Per new data file, the bloom bitset of ``column``'s values — ONE
    distributed pass over the just-written files (O(batch), never
    O(table)): explode each value to its k positions, distinct
    (file, position) — bounded by m per file — and assemble the bitset
    driver-side (≤ m/8 bytes per file)."""
    import base64

    from pyspark.sql import functions as F

    if not rels:  # empty batch: no files, no blooms (a zero-path
        return {}  # parquet read cannot even infer a schema)
    # getActiveSession is thread-local: a writer thread (the threaded
    # multi-writer tests, a maintenance pool) may see None — fall back
    # to the default session, which commit paths always run under
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    paths = [os.path.join(root, r) for r in rels]
    pos_cols = [
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"bloom{i}:"), F.col(column).cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % m
        ).cast("int")
        for i in range(k)
    ]
    rows = (
        spark.read.parquet(*paths)
        .where(F.col(column).isNotNull())  # blooms answer point lookups
        .select(
            F.input_file_name().alias("__f"),
            F.explode(F.array(*pos_cols)).alias("__p"),
        )
        .distinct()
        .collect()
    )
    by_file: dict[str, set[int]] = {}
    for r in rows:
        by_file.setdefault(r["__f"], set()).add(int(r["__p"]))
    out: dict[str, dict] = {}
    for rel in rels:
        # input_file_name returns a URI; match on the path suffix
        positions = next(
            (ps for f, ps in by_file.items() if f.endswith(rel)), None
        )
        if positions is None:
            # an EMPTY bloom proves absence for every probe value, so a
            # URI/path mismatch here would silently drop this file from
            # pruned-eq scans (row loss). Only a file whose column is
            # all-NULL (or row-free) legitimately has no positions —
            # verify that from its footer and fail loudly otherwise.
            import pyarrow.parquet as pq

            md = pq.ParquetFile(os.path.join(root, rel)).metadata
            non_null = 0
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    if c.path_in_schema != column:
                        continue
                    st = c.statistics
                    if st is None or st.null_count is None:
                        raise ValidationError(
                            f"_compute_file_blooms at '{root}': no "
                            f"bloom rows matched file '{rel}' and its "
                            f"footer cannot prove '{column}' all-NULL "
                            f"— refusing to record an empty bloom "
                            f"(it would prune the file for every "
                            f"probe value)"
                        )
                    non_null += g.num_rows - int(st.null_count)
            if non_null > 0:
                raise ValidationError(
                    f"_compute_file_blooms at '{root}': file '{rel}' "
                    f"has {non_null} non-null '{column}' rows but no "
                    f"bloom positions were collected for it — the "
                    f"input_file_name URI did not suffix-match the "
                    f"rel; recording an empty bloom would silently "
                    f"drop the file from point-lookup scans"
                )
            positions = set()
        bits = bytearray(m // 8)
        for p in positions:
            bits[p // 8] |= 1 << (p % 8)
        out[rel] = {
            "m": m,
            "k": k,
            "b64": base64.b64encode(bytes(bits)).decode("ascii"),
        }
    return out


def _merge_bloom_stats(
    new_stats: dict, blooms_by_col: dict[str, dict[str, dict]]
) -> dict:
    for column, per_file in blooms_by_col.items():
        for rel, bloom in per_file.items():
            new_stats.setdefault(rel, {})[bloom_key(column)] = bloom
    return new_stats


def _bloom_admits(stats_entry: dict | None, column: str, value) -> bool:
    """False only when the file's bloom PROVES the value absent; files
    without a bloom for the column are conservatively admitted."""
    import base64

    bloom = (stats_entry or {}).get(bloom_key(column))
    if not bloom:
        return True
    bits = base64.b64decode(bloom["b64"])
    return all(
        bits[p // 8] & (1 << (p % 8))
        for p in bloom_positions(value, int(bloom["m"]), int(bloom["k"]))
    )


def snapshot_files_pruned_eq(
    root: str,
    column: str,
    value,
    version: int | None = None,
) -> tuple[int, list[str], int, int]:
    """(version, kept absolute paths, total files, kept by min/max
    alone): point-lookup pruning that layers the per-file bloom on top
    of the range stats — the case blooms exist for is a file whose
    [min,max] spans the probe value (interleaved keys, z-order
    residue) but which provably does not contain it."""
    v = current_version(root) if version is None else int(version)
    if v < 0:
        raise ValidationError(f"no committed snapshot at '{root}'")
    me = _read_manifest(root, v)
    if "groups" not in me:
        stats = me.get("stats", {})
        kept, kept_minmax = [], 0
        for rel in me["files"]:
            entry = stats.get(rel, {})
            mm = entry.get(column)
            if mm is not None and not (mm[0] <= value <= mm[1]):
                continue
            kept_minmax += 1
            if not _bloom_admits(entry, column, value):
                continue
            kept.append(rel)
        return (
            v,
            [os.path.join(root, r) for r in kept],
            len(me["files"]),
            kept_minmax,
        )
    kept, kept_minmax, total = [], 0, 0
    for ge in me["groups"]:
        total += int(ge["count"])
        phys = ge.get("mapping", {}).get(column, column)
        gmm = ge.get("summary", {}).get("minmax", {}).get(phys)
        if gmm is not None and not (gmm[0] <= value <= gmm[1]):
            continue  # whole sidecar outside the point — never opened
        rels, by_rel, _avs = _load_group(root, ge["path"])
        for rel in rels:
            entry = by_rel.get(rel, {})
            mm = entry.get(phys)
            if mm is not None and not (mm[0] <= value <= mm[1]):
                continue
            kept_minmax += 1
            if not _bloom_admits(entry, phys, value):
                continue
            kept.append(rel)
    return v, [os.path.join(root, r) for r in kept], total, kept_minmax


def commit_append_clustered(
    root: str,
    df: DataFrame,
    column: str,
    meta: dict | None = None,
    bloom_columns: list[str] | None = None,
    bloom_cluster_prefix: str | None = None,
    bloom_bits: int = BLOOM_BITS,
    bloom_hashes: int = BLOOM_HASHES,
) -> int:
    """:func:`commit_append` with the one-file-per-``column``-value
    layout — the build commit of a manifest-backed index (each cluster
    file prunes exactly by its value). ``bloom_columns`` additionally
    records a per-file Bloom filter for each named column (point-lookup
    skipping where range stats can't prune — see the bloom section
    above). ``bloom_cluster_prefix`` restricts the bloom pass to files
    whose cluster value starts with the prefix (e.g. only the 'b…'
    band-posting files of a dedup index — blooming files nobody
    probe-prunes re-reads their bytes per commit for nothing)."""
    os.makedirs(root, exist_ok=True)
    new = _write_data_files_clustered(df, root, column)
    new_stats = _footer_stats(root, new)
    if bloom_columns:
        rels_bloom = new
        if bloom_cluster_prefix is not None:
            # a clustered file's value IS its [min,max] on the cluster
            # column (min==max by construction)
            rels_bloom = [
                r
                for r in new
                if str(
                    (new_stats.get(r, {}).get(column) or [""])[0]
                ).startswith(bloom_cluster_prefix)
            ]
        new_stats = _merge_bloom_stats(
            new_stats,
            {
                c: _compute_file_blooms(
                    root, rels_bloom, c, int(bloom_bits), int(bloom_hashes)
                )
                for c in bloom_columns
            },
        )
    schema = _schema_payload(df.drop("_cluster"))
    new_entry = _new_group_entry(root, new, new_stats)
    for _ in range(_MAX_COMMIT_RETRIES):
        v = current_version(root)
        nxt = v + 1 if v >= 0 else 1
        if v >= 0:
            cur = _read_manifest(root, v)
            groups = _groups_of(root, cur)
            dels = cur.get("delete_files", [])
            schema_out = cur.get("schema", schema)
        else:
            groups, dels = [], []
            schema_out = schema
        all_groups = groups + [{**new_entry, "added_version": nxt}]
        payload = _descriptor_payload(
            all_groups,
            schema_out,
            "append",
            len(new),
            _live_delete_files_grouped(all_groups, dels),
            meta,
        )
        if _try_commit_manifest(root, nxt, payload):
            return nxt
    raise CommitConflictError(
        f"commit_append_clustered at '{root}': CAS retry budget "
        f"({_MAX_COMMIT_RETRIES}) exhausted under contention"
    )


def zorder_column(columns: list, bits: int = 16):
    """Morton/Z-value over numeric columns: each value is min-max
    normalized to ``bits`` bits (rank-preserving affine map using the
    column's global min/max, supplied as ``(col, lo, hi)`` tuples) and
    the bit planes are interleaved MSB-first — nearby (c1, c2) points
    get nearby z-values, so RANGE-partitioning by z gives every file a
    COMPACT BOX in the combined space and footer [min,max] stats stay
    tight on EVERY z-ordered column at once. Pure Column expression
    (shifts and masks — whole-stage codegen), no UDF.

    Values outside the supplied [lo, hi] are CLAMPED to the grid edge
    (an out-of-bounds row otherwise sign-extends through the interleave
    into a negative / out-of-grid z-value — the bounds are usually a
    stats snapshot, and data drifts past it between OPTIMIZE runs);
    ``len(columns) * bits`` must fit a signed bigint (≤ 62 bits) or the
    interleave overflows into the sign bit."""
    from pyspark.sql import functions as F

    if len(columns) * bits > 62:
        raise ValidationError(
            f"zorder_column: {len(columns)} columns × {bits} bits = "
            f"{len(columns) * bits} interleaved bits — exceeds the 62 "
            f"usable bits of a signed bigint; lower `bits`"
        )
    top = float((1 << bits) - 1)
    norms = []
    for col, lo, hi in columns:
        span = max(float(hi) - float(lo), 1.0)
        scaled = (
            (F.col(col).cast("double") - F.lit(float(lo)))
            / F.lit(span)
            * F.lit(top)
        )
        clamped = F.greatest(F.lit(0.0), F.least(F.lit(top), scaled))
        norms.append(F.round(clamped).cast("bigint"))
    one = F.lit(1).cast("bigint")
    z = F.lit(0).cast("bigint")
    for b in range(bits - 1, -1, -1):  # MSB-first interleave
        for n in norms:
            # bitwiseOR/AND, not |/& — Python operators on Columns are
            # BOOLEAN or/and and fail analysis on bigint operands
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftright(n, b).bitwiseAND(one)
            )
    return z


def zorder_bucket(columns: list, bucket_bits: int, bits: int = 16):
    """Fixed-boundary Z-BUCKET: the top ``bucket_bits`` bits of the
    Morton value — a deterministic grid cell in the combined key space
    (pure function of the row's values, unlike ``repartitionByRange``
    whose sampled boundaries are input-partitioning-dependent). Feed it
    to :func:`commit_append_clustered` to get the Z-ORDER layout (Delta
    ``OPTIMIZE ZORDER BY`` / Iceberg sort-order rewrite) with ONE file
    per grid cell: every file covers a compact box, so manifest footer
    stats prune usefully for predicates on ANY z-ordered column —
    where single-column clustering gives tight stats on one column and
    useless full-range stats on the rest."""
    from pyspark.sql import functions as F

    z = zorder_column(columns, bits=bits)
    return F.shiftright(z, len(columns) * bits - int(bucket_bits))


def snapshot_files_pruned_in(
    root: str,
    column: str,
    values,
    version: int | None = None,
    _memo: dict | None = None,
) -> tuple[int, list[str], int]:
    """(version, kept absolute paths, total): drop files whose
    [min,max] for ``column`` provably contains NONE of ``values`` —
    the probe-set shape of file skipping (IVF: keep only probed list
    files). Files without stats are conservatively kept."""
    v = current_version(root) if version is None else int(version)
    if v < 0:
        raise ValidationError(f"no committed snapshot at '{root}'")
    m = _read_manifest(root, v)
    vals = set(values)
    if "groups" not in m:
        stats = m.get("stats", {})
        kept = []
        for rel in m["files"]:
            mm = stats.get(rel, {}).get(column)
            if mm is not None and not any(
                mm[0] <= x <= mm[1] for x in vals
            ):
                continue
            kept.append(rel)
        return v, [os.path.join(root, r) for r in kept], len(m["files"])
    kept, total = [], 0
    for ge in m["groups"]:
        total += int(ge["count"])
        phys = ge.get("mapping", {}).get(column, column)
        gmm = ge.get("summary", {}).get("minmax", {}).get(phys)
        if gmm is not None and not any(
            gmm[0] <= x <= gmm[1] for x in vals
        ):
            continue  # no probed value can live in this sidecar
        rels, by_rel, avs = _load_group(root, ge["path"])
        mp = ge.get("mapping", {})
        av = int(ge.get("added_version", 0))
        for rel in rels:
            mm = by_rel.get(rel, {}).get(phys)
            if mm is not None and not any(
                mm[0] <= x <= mm[1] for x in vals
            ):
                continue
            kept.append(rel)
            if _memo is not None:
                _memo[rel] = (
                    mp, int(avs[rel]) if avs is not None else av
                )
    return v, [os.path.join(root, r) for r in kept], total


def read_snapshot_pruned_in(
    spark: SparkSession,
    root: str,
    column: str,
    values,
    version: int | None = None,
) -> DataFrame:
    """Stats-pruned scan keeping only files that can hold ``column ∈
    values``, plus the row-level ``isin`` — result-identical to the
    unpruned filtered read, fewer files opened."""
    from pyspark.sql import functions as F

    v = current_version(root) if version is None else int(version)
    if v < 0:
        raise ValidationError(f"no committed snapshot at '{root}'")
    md = _read_manifest(root, v)
    if "groups" not in md:
        m = _resolve_manifest(root, v)
        _v, files, _total = snapshot_files_pruned_in(
            root, column, values, v
        )
        df = _apply_logical_schema(spark, root, m, files=files)
        return df.filter(F.col(column).isin(list(values)))
    memo: dict = {}
    _v, files, _total = snapshot_files_pruned_in(
        root, column, values, v, _memo=memo
    )
    df = _apply_logical_schema(
        spark, root, _restricted_view(md, memo, files, root), files=files
    )
    return df.filter(F.col(column).isin(list(values)))


def snapshot_files_pruned_multi(
    root: str, preds: list, version: int | None = None,
    _memo: dict | None = None,
) -> tuple[int, list[str], int]:
    """(version, kept absolute paths, total): conjunctive file
    skipping — a file survives only if its [min,max] can overlap EVERY
    ``(column, lo, hi)`` predicate. The payoff of the z-order layout:
    each file is a compact box in the combined key space, so the
    intersection prunes multiplicatively where single-column
    clustering prunes on one column only."""
    v = current_version(root) if version is None else int(version)
    if v < 0:
        raise ValidationError(f"no committed snapshot at '{root}'")
    m = _read_manifest(root, v)
    if "groups" not in m:
        stats = m.get("stats", {})
        kept = []
        for rel in m["files"]:
            st = stats.get(rel, {})
            drop = False
            for column, lo, hi in preds:
                mm = st.get(column)
                if mm is not None and (mm[0] > hi or mm[1] < lo):
                    drop = True
                    break
            if not drop:
                kept.append(rel)
        return v, [os.path.join(root, r) for r in kept], len(m["files"])
    kept, total = [], 0
    for ge in m["groups"]:
        total += int(ge["count"])
        mp = ge.get("mapping", {})
        smm = ge.get("summary", {}).get("minmax", {})
        if any(
            smm.get(mp.get(c, c)) is not None
            and (smm[mp.get(c, c)][0] > hi or smm[mp.get(c, c)][1] < lo)
            for c, lo, hi in preds
        ):
            continue  # sidecar disjoint from some conjunct — skipped
        rels, by_rel, avs = _load_group(root, ge["path"])
        av = int(ge.get("added_version", 0))
        for rel in rels:
            st = by_rel.get(rel, {})
            drop = False
            for column, lo, hi in preds:
                mm = st.get(mp.get(column, column))
                if mm is not None and (mm[0] > hi or mm[1] < lo):
                    drop = True
                    break
            if not drop:
                kept.append(rel)
                if _memo is not None:
                    _memo[rel] = (
                        mp, int(avs[rel]) if avs is not None else av
                    )
    return v, [os.path.join(root, r) for r in kept], total


def read_snapshot_pruned_multi(
    spark: SparkSession,
    root: str,
    preds: list,
    version: int | None = None,
) -> DataFrame:
    """Conjunctively stats-pruned scan + the row-level AND of all
    ``(column, lo, hi)`` predicates — result-identical to the unpruned
    filtered read, files opened ∝ the predicate box's grid cells."""
    from pyspark.sql import functions as F

    v = current_version(root) if version is None else int(version)
    if v < 0:
        raise ValidationError(f"no committed snapshot at '{root}'")
    md = _read_manifest(root, v)
    if "groups" not in md:
        m = _resolve_manifest(root, v)
        _v, files, _total = snapshot_files_pruned_multi(root, preds, v)
        df = _apply_logical_schema(spark, root, m, files=files)
        for column, lo, hi in preds:
            df = df.filter(F.col(column).between(lo, hi))
        return df
    memo: dict = {}
    _v, files, _total = snapshot_files_pruned_multi(
        root, preds, v, _memo=memo
    )
    df = _apply_logical_schema(
        spark, root, _restricted_view(md, memo, files, root), files=files
    )
    for column, lo, hi in preds:
        df = df.filter(F.col(column).between(lo, hi))
    return df


def _covered_by(mm: list, vals: set) -> str:
    """Classify a file's [min,max] for the replace column against the
    replaced value set: 'disjoint' (carry), 'covered' (drop — every
    possible value in range is replaced), or 'partial' (unsafe)."""
    lo, hi = mm
    inside = {x for x in vals if lo <= x <= hi}
    if not inside:
        return "disjoint"
    if isinstance(lo, int) and isinstance(hi, int):
        # covered iff every integer in [lo, hi] is replaced: the in-range
        # values are distinct, so an O(|inside|) count-and-type check
        # decides it — never an O(hi-lo) range walk (a wide-range file
        # would make the driver iterate millions of memberships)
        if len(inside) == hi - lo + 1 and all(
            isinstance(x, int) and not isinstance(x, bool) for x in inside
        ):
            return "covered"
    elif lo == hi and lo in vals:
        return "covered"
    return "partial"


def commit_replace_values(
    root: str,
    df: DataFrame,
    column: str,
    values,
    meta: dict | None = None,
    base_version: int | None = None,
) -> int:
    """Publish v+1 where all rows with ``column ∈ values`` are replaced
    by ``df`` (the caller-computed new content for those clusters) and
    every other file is carried unchanged — the INDEX-MAINTENANCE
    commit (IVF upsert: rewrite touched lists, untouched lists are
    untouched bytes) with the manifest layout's guarantees on top:
    readers keep serving the pre-upsert version mid-commit, the old
    version stays pinned for time travel, and a crash leaves only
    invisible orphans.

    Safety: a carried file must be PROVABLY disjoint from ``values``
    (manifest stats), a dropped file provably covered; a file that
    straddles the boundary — or lacks stats for ``column`` — raises
    rather than risking row loss. Concurrency: base-pinned like
    :func:`commit_rewrite`; concurrent APPENDS whose files are
    disjoint from ``values`` are folded in, anything touching the
    replaced values conflicts. Pass ``base_version`` = the version the
    replacement content was derived from when a writer may land
    between that read and this call (commit_rewrite's rule)."""
    base_v = (
        current_version(root) if base_version is None else int(base_version)
    )
    if base_v < 0:
        raise ValidationError(
            f"nothing to replace at '{root}': no committed snapshot"
        )
    vals = set(values)
    base_files = set(_resolve_manifest(root, base_v)["files"])
    new = _write_data_files_clustered(df, root, column)
    new_stats = _footer_stats(root, new)
    new_entry = _new_group_entry(root, new, new_stats)
    for _ in range(_MAX_COMMIT_RETRIES):
        v = current_version(root)
        curd = _read_manifest(root, v)
        cur = _resolve_manifest(root, v)
        cur_files = set(cur["files"])
        if not base_files <= cur_files:
            raise CommitConflictError(
                f"commit_replace_values at '{root}': base version "
                f"{base_v} files were replaced by a concurrent commit"
            )
        _check_no_deletes_since_base(
            cur, base_v, "commit_replace_values", root
        )
        cur_stats = cur.get("stats", {})
        carried = []
        for rel in cur["files"]:
            mm = cur_stats.get(rel, {}).get(column)
            if mm is None:
                raise ValidationError(
                    f"commit_replace_values at '{root}': file '{rel}' "
                    f"has no '{column}' stats — cannot prove it "
                    f"disjoint from the replaced values; rewrite the "
                    f"table with commit_append_clustered first"
                )
            cls = _covered_by(mm, vals)
            if cls == "partial":
                raise ValidationError(
                    f"commit_replace_values at '{root}': file '{rel}' "
                    f"range {mm} straddles the replaced value set — "
                    f"replacing it would drop unreplaced rows"
                )
            if cls == "disjoint":
                carried.append(rel)
            elif rel not in base_files:
                # a concurrent commit added rows INTO a replaced
                # cluster after our base — folding it away would lose
                # that batch
                raise CommitConflictError(
                    f"commit_replace_values at '{root}': concurrent "
                    f"commit touched replaced cluster(s) in '{rel}'"
                )
        # carried files stay in their (possibly shrunken) sidecars —
        # only groups that LOST files get a rewritten subset sidecar,
        # untouched groups are carried by reference
        carried_set = set(carried)
        kept_groups = [
            g
            for g in (
                _subset_group_entry(root, e, carried_set)
                for e in _groups_of(root, curd)
            )
            if g is not None
        ]
        all_groups = kept_groups + [{**new_entry, "added_version": v + 1}]
        payload = _descriptor_payload(
            all_groups,
            cur.get("schema"),
            "replace",
            len(new),
            _live_delete_files_grouped(
                all_groups, cur.get("delete_files", [])
            ),
            meta,
        )
        if _try_commit_manifest(root, v + 1, payload):
            return v + 1
    raise CommitConflictError(
        f"commit_replace_values at '{root}': CAS retry budget "
        f"({_MAX_COMMIT_RETRIES}) exhausted under contention"
    )


def _footer_stats(root: str, rels: list[str]) -> dict:
    """Per-file column min/max harvested from parquet FOOTERS (metadata
    pages only — no data read; the same source Iceberg stats come
    from). Only JSON-friendly scalar stats are kept: int/float/str
    min-max per column, merged across row groups. Columns without
    footer stats (arrays, structs) are simply absent — readers treat
    absent as unprunable."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for rel in rels:
        md = pq.ParquetFile(os.path.join(root, rel)).metadata
        # reserved keys (never valid plain column names for pruning):
        # per-file row count + per-column null counts — the footer
        # metadata ANALYZE-free planner statistics are summed from
        # (manifest_column_stats); readers looking up stats[rel][col]
        # for pruning never see them
        per_col: dict[str, object] = {"__rows__": int(md.num_rows)}
        # a column missing stats in ANY row group must never surface
        # partial min/max (pruning with a partial range drops rows)
        bad: set[str] = set()
        null_bad: set[str] = set()
        nulls: dict[str, int] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name:
                    continue  # nested — not prunable here
                st = col.statistics
                if name not in null_bad:
                    nc = st.null_count if st is not None else None
                    if nc is None:
                        null_bad.add(name)
                        nulls.pop(name, None)
                    else:
                        nulls[name] = nulls.get(name, 0) + int(nc)
                if name in bad:
                    continue
                mn = mx = None
                if st is not None and st.has_min_max:
                    mn, mx = st.min, st.max
                    if isinstance(mn, bytes):
                        try:
                            mn, mx = mn.decode(), mx.decode()
                        except UnicodeDecodeError:
                            mn = None
                    if not isinstance(mn, (int, float, str)):
                        mn = None  # timestamps etc — stay conservative
                if mn is None:
                    bad.add(name)
                    per_col.pop(name, None)
                    continue
                if name in per_col:
                    per_col[name][0] = min(per_col[name][0], mn)
                    per_col[name][1] = max(per_col[name][1], mx)
                else:
                    per_col[name] = [mn, mx]
        for name, nc in nulls.items():
            per_col[f"__nulls__:{name}"] = nc
        out[rel] = per_col
    return out


def ndv_from_blooms(blooms: list[dict]) -> int:
    """Distinct-count estimate from the UNION of per-file bloom
    bitsets — linear counting generalized to k hashes: a value sets the
    same k positions in every file it appears in, so the union bitset
    equals the bloom of the table's global distinct value set, and
    n ≈ -(m/k)·ln(1 − s/m) for s set bits (half-up, matching the SQL
    replay's FLOOR(x + 0.5)). Mergeable by construction — the property
    plain COUNT(DISTINCT) per file lacks."""
    import base64
    import math

    if not blooms:
        raise ValidationError("ndv_from_blooms: no bloom entries")
    m = int(blooms[0]["m"])
    k = int(blooms[0]["k"])
    union = bytearray(m // 8)
    for b in blooms:
        if int(b["m"]) != m or int(b["k"]) != k:
            raise ValidationError(
                "ndv_from_blooms: mixed bloom parameters"
            )
        for i, byte in enumerate(base64.b64decode(b["b64"])):
            union[i] |= byte
    s = sum(bin(x).count("1") for x in union)
    if s >= m:  # saturated: every slot set — no estimate possible
        raise ValidationError(
            "ndv_from_blooms: bloom saturated; increase BLOOM_BITS"
        )
    return max(int(-(m / k) * math.log(1.0 - s / m) + 0.5), 1)


def manifest_column_stats(
    root: str, columns: list[str], version: int | None = None
) -> dict:
    """ANALYZE-free planner statistics from manifest METADATA alone —
    zero table scans, the 100 TB substitution the costed planner's
    docstrings promise (operators/ivf.py PostFilterBackend): row count
    = Σ per-file footer row counts, per-column nulls = Σ footer null
    counts, min/max = fold of per-file ranges, ndv = linear-counting
    over the union of the per-file bloom bitsets
    (:func:`ndv_from_blooms` — requires the column in the commit's
    ``bloom_columns``). Returns the exact dict shape
    functions/colstats.py produces, so ``estimate_allowed`` /
    ``choose_backend_costed`` consume it unchanged. Raises when a file
    lacks the needed footer/bloom coverage — a wrong estimate only
    costs performance, but a silently PARTIAL one would be unbounded-
    wrong, so absence is loud."""
    v = current_version(root) if version is None else int(version)
    if v < 0:
        raise ValidationError(f"no committed snapshot at '{root}'")
    me = _read_manifest(root, v)
    if "groups" in me:
        # format 2: fold the DESCRIPTOR summaries alone — row/null
        # counts sum, min/max fold, ndv from the per-group bloom
        # UNIONS (union of unions == union of per-file bitsets), so
        # planner statistics cost O(groups) with zero sidecar reads
        total = 0
        for g in me["groups"]:
            rows = g.get("summary", {}).get("rows")
            if rows is None:
                raise ValidationError(
                    f"manifest_column_stats at '{root}': sidecar "
                    f"'{g['path']}' predates footer row counts — "
                    f"recommit or OPTIMIZE"
                )
            total += int(rows)
        out = {"__table__": {"count": total}}
        for col in columns:
            nulls = 0
            mn = mx = None
            blooms = []
            for g in me["groups"]:
                s = g.get("summary", {})
                phys = g.get("mapping", {}).get(col, col)
                if phys not in s.get("nulls", {}):
                    raise ValidationError(
                        f"manifest_column_stats at '{root}': sidecar "
                        f"'{g['path']}' has no null count for '{col}'"
                    )
                nulls += int(s["nulls"][phys])
                mm = s.get("minmax", {}).get(phys)
                if mm is not None:
                    mn = mm[0] if mn is None else min(mn, mm[0])
                    mx = mm[1] if mx is None else max(mx, mm[1])
                bl = s.get("bloom", {}).get(phys)
                if bl is None:
                    raise ValidationError(
                        f"manifest_column_stats at '{root}': sidecar "
                        f"'{g['path']}' has no bloom for '{col}' — "
                        f"commit with bloom_columns=['{col}'] to "
                        f"enable ndv estimation"
                    )
                blooms.append(bl)
            out[col] = {
                "count": total,
                "nulls": nulls,
                "ndv": ndv_from_blooms(blooms),
                "min": mn,
                "max": mx,
            }
        return out
    stats = me.get("stats", {})
    total = 0
    for rel in me["files"]:
        entry = stats.get(rel, {})
        if "__rows__" not in entry:
            raise ValidationError(
                f"manifest_column_stats at '{root}': file '{rel}' "
                f"predates footer row counts — recommit or OPTIMIZE"
            )
        total += int(entry["__rows__"])
    out: dict = {"__table__": {"count": total}}
    for col in columns:
        nulls = 0
        mn = mx = None
        blooms = []
        for rel in me["files"]:
            entry = stats.get(rel, {})
            nk = f"__nulls__:{col}"
            if nk not in entry:
                raise ValidationError(
                    f"manifest_column_stats at '{root}': file '{rel}' "
                    f"has no null count for '{col}'"
                )
            nulls += int(entry[nk])
            mm = entry.get(col)
            if mm is not None:
                mn = mm[0] if mn is None else min(mn, mm[0])
                mx = mm[1] if mx is None else max(mx, mm[1])
            bl = entry.get(bloom_key(col))
            if bl is None:
                raise ValidationError(
                    f"manifest_column_stats at '{root}': file '{rel}' "
                    f"has no bloom for '{col}' — commit with "
                    f"bloom_columns=['{col}'] to enable ndv estimation"
                )
            blooms.append(bl)
        out[col] = {
            "count": total,
            "nulls": nulls,
            "ndv": ndv_from_blooms(blooms),
            "min": mn,
            "max": mx,
        }
    return out


def _carry_versioning(
    cur: dict | None, files: list[str], new: list[str], version: int
) -> dict:
    """The ``added_versions`` / ``delete_files`` fields every commit
    carries forward: prior files keep their recorded add version
    (legacy files default to 0 — every delete reaches them), the
    commit's new files are stamped with the version being published,
    and delete entries no live file can see are pruned."""
    prior_added = (cur or {}).get("added_versions", {})
    new_set = set(new)
    added = {
        rel: int(prior_added.get(rel, 0))
        for rel in files
        if rel not in new_set
    }
    added.update({rel: int(version) for rel in new})
    return {
        "added_versions": added,
        "delete_files": _live_delete_files(
            files, added, (cur or {}).get("delete_files", [])
        ),
    }


def _try_commit_manifest(root: str, version: int, payload: dict) -> bool:
    """One CAS attempt: write the manifest to a temp name, then
    ``os.link`` it to the final name — atomic create-if-absent on
    POSIX (rename would OVERWRITE a concurrent winner: lost update).
    Returns False when another writer won version ``version``."""
    final = os.path.join(root, _manifest_name(version))
    tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
    import time as _time

    with open(tmp, "w", encoding="utf-8") as f:
        # committed_at: wall-clock commit stamp (resolve_asof's default
        # clock — Iceberg's snapshot timestamp). Re-stamped on every CAS
        # retry, so the recorded time is the attempt that actually won;
        # resolve_asof takes the GREATEST qualifying version, which
        # degrades gracefully if clocks ever step backward.
        json.dump(
            # stamp AFTER payload: caller meta is stored flat in the
            # descriptor, so a payload carrying a 'committed_at' key
            # must not silently override the wall stamp (it would
            # corrupt resolve_asof's default clock and age-based
            # retention).
            {**payload, "committed_at": _time.time(), "version": version},
            f,
        )
    try:
        os.link(tmp, final)
    except FileExistsError:
        os.remove(tmp)
        return False
    os.remove(tmp)
    _write_latest_hint(root, version)  # best-effort discovery hint
    return True


def _schema_payload(df: DataFrame) -> dict:
    return df.schema.jsonValue()


def _check_append_schema(root: str, logical: dict, df: DataFrame) -> None:
    """Raise unless every field of the ``logical`` schema is a column of
    the batch with the same Spark type — checked on the driver against
    the batch's resolved schema, no Spark job."""
    from pyspark.sql import types as T

    have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    fields = T.StructType.fromJson(logical).fields
    missing = [f.name for f in fields if f.name not in have]
    if missing:
        raise ValidationError(
            f"commit_append at '{root}': batch lacks "
            f"physical column(s) {missing} of the table's "
            f"logical schema — align the batch first "
            f"(rename to current names / add typed-NULL "
            f"columns) so its files read back correctly"
        )
    wrong = [
        f"{f.name} {have[f.name]} (table: {f.dataType.simpleString()})"
        for f in fields
        if have[f.name] != f.dataType.simpleString()
    ]
    if wrong:
        raise ValidationError(
            f"commit_append at '{root}': batch column type(s) differ "
            f"from the table's logical schema: {wrong} — cast the batch "
            f"first so its files read back under the recorded schema"
        )


def commit_append(
    root: str,
    df: DataFrame,
    n_files: int | None = 1,
    meta: dict | None = None,
    stats_columns: bool = True,
    bloom_columns: list[str] | None = None,
) -> int:
    """Append a batch as snapshot v+1 = v's files + the batch's new
    files. Returns the committed version. Cost is O(batch) — no
    existing bytes move, and every prior version stays readable.

    MULTI-WRITER SAFE: the batch's data files are written once (fresh
    uuid dir — no path contention), then the manifest commit loops on
    the CAS: read current version, build v+1 = current ∪ new, try the
    atomic link; a lost race re-reads and retries, so two concurrent
    appends land as v+1 and v+2 in SOME serial order with both
    batches present — no lost update (appends commute).

    ``meta`` rides in the manifest itself (e.g. a streaming writer's
    micro-batch id — committed ATOMICALLY with the version, which is
    what makes :func:`last_committed_meta`-guarded foreachBatch sinks
    exactly-once under replay). ``stats_columns`` harvests per-file
    min/max from the new files' footers for file skipping."""
    os.makedirs(root, exist_ok=True)
    new = _write_data_files(df, root, n_files)
    new_stats = _footer_stats(root, new) if stats_columns else {}
    if bloom_columns:
        new_stats = _merge_bloom_stats(
            new_stats,
            {
                c: _compute_file_blooms(
                    root, new, c, BLOOM_BITS, BLOOM_HASHES
                )
                for c in bloom_columns
            },
        )
    schema = _schema_payload(df)
    # O(batch) metadata: one immutable sidecar for the batch, written
    # ONCE before the CAS loop (a rebase retry reuses it) — the
    # descriptor carries prior commits' sidecars by reference, so
    # nothing existing is re-serialized however many files the table
    # holds
    new_entry = _new_group_entry(root, new, new_stats)
    for _ in range(_MAX_COMMIT_RETRIES):
        v = current_version(root)
        nxt = v + 1 if v >= 0 else 1  # versions are 1-based
        if v >= 0:
            cur = _read_manifest(root, v)
            groups = _groups_of(root, cur)
            dels = cur.get("delete_files", [])
            # appends adopt the table's current logical schema when one
            # is recorded; new files carry NO column mapping, so every
            # logical field must resolve to a physical column of the
            # batch, of the recorded type — a batch still written under
            # pre-rename names (or missing an added column) would
            # otherwise commit fine and silently read back as typed
            # NULLs, and a divergent type would only fail later, when a
            # scan applies the recorded read schema
            schema_out = cur.get("schema", schema)
            if cur.get("schema") is not None:
                _check_append_schema(root, cur["schema"], df)
        else:
            groups, dels = [], []
            schema_out = schema
        all_groups = groups + [{**new_entry, "added_version": nxt}]
        payload = _descriptor_payload(
            all_groups,
            schema_out,
            "append",
            len(new),
            _live_delete_files_grouped(all_groups, dels),
            meta,
        )
        if _try_commit_manifest(root, nxt, payload):
            return nxt
    raise CommitConflictError(
        f"commit_append at '{root}': CAS retry budget "
        f"({_MAX_COMMIT_RETRIES}) exhausted under contention"
    )


def commit_delete_where(
    root: str, keys_df: DataFrame, column: str, meta: dict | None = None
) -> int:
    """Publish a MERGE-ON-READ row delete as snapshot v+1: the distinct
    values of ``keys_df[column]`` land as a tiny immutable EQUALITY-
    DELETE file and the manifest references it — ZERO data files move,
    which is the whole point at 100 TB (a row-level delete that
    rewrote data files would be O(table), this is O(deleted keys)).
    Readers of v+1 subtract matching rows with a broadcast anti-join;
    every older version still reads the rows (time travel), and rows
    appended AFTER this commit with a deleted key are NOT affected
    (per-file add-version sequencing — Iceberg's sequence-number
    rule). Compaction = ``commit_rewrite(root, read_snapshot(...))``:
    the rewritten files postdate the delete, so the entry prunes away.

    MULTI-WRITER SAFE the same way appends are: the delete file is
    written once under a fresh uuid dir, the manifest commit loops on
    the CAS, and a rebase recomputes the entry's version — delete ∘
    append serializes cleanly in either order."""
    v0 = current_version(root)
    if v0 < 0:
        raise ValidationError(
            f"nothing to delete at '{root}': no committed snapshot"
        )
    cur0 = _read_manifest(root, v0)
    if cur0.get("schema") is not None:
        names = [f["name"] for f in cur0["schema"]["fields"]]
        if column not in names:
            raise ValidationError(
                f"commit_delete_where at '{root}': column '{column}' "
                f"not in the table schema (have: {names})"
            )
    sub = os.path.join("deletes", uuid.uuid4().hex[:12])
    out_dir = os.path.join(root, sub)
    (
        keys_df.select(column)
        .distinct()
        .coalesce(1)
        .write.mode("errorifexists")
        .parquet(out_dir)
    )
    new_rels = sorted(
        os.path.join(sub, f)
        for f in os.listdir(out_dir)
        if f.endswith(".parquet")
    )
    for _ in range(_MAX_COMMIT_RETRIES):
        v = current_version(root)
        cur = _read_manifest(root, v)
        nxt = v + 1
        groups = _groups_of(root, cur)
        payload = _descriptor_payload(
            groups,
            cur.get("schema"),
            "delete",
            0,
            _live_delete_files_grouped(groups, cur.get("delete_files", []))
            + [
                {"path": p, "column": column, "version": nxt}
                for p in new_rels
            ],
            meta,
        )
        if _try_commit_manifest(root, nxt, payload):
            return nxt
    raise CommitConflictError(
        f"commit_delete_where at '{root}': CAS retry budget "
        f"({_MAX_COMMIT_RETRIES}) exhausted under contention"
    )


def committed_meta(root: str, key: str, version: int | None = None, default=None):
    """Read a ``meta`` field from a PINNED version's manifest — the
    time-travel twin of :func:`last_committed_meta`: derived constants
    a layout rides in its commits (BM25's N and total-token count, a
    streaming writer's batch id) are versioned WITH the data, so a
    pinned reader scores against the statistics its snapshot was
    committed with."""
    v = current_version(root) if version is None else int(version)
    if v < 0:
        return default
    return _read_manifest(root, v).get(key, default)


def commit_upsert_rows(
    root: str,
    rows_df: DataFrame,
    key_col: str,
    n_files: int = 1,
    meta: dict | None = None,
) -> int:
    """MERGE INTO — row-level UPSERT as ONE atomic commit: the batch's
    keys land as an equality-delete file AND its rows as new data
    files, both referenced by the same manifest publish. Rows whose
    key exists are updated (the old copy dies by the delete, which
    reaches only files added before this commit; the new copy
    survives, since its file is added AT this commit), rows with fresh
    keys are plain inserts — no read of the existing table, no data
    rewrite: O(batch) where copy-on-write MERGE is O(touched files).
    Because delete-file + data-files + manifest are one atomic
    publish, there is no torn state (the two-commit
    delete-then-append shape has a crash window between them; this
    has none), every older version still serves the pre-upsert rows,
    and compaction retires the delete entry as usual."""
    v0 = current_version(root)
    if v0 < 0:
        raise ValidationError(
            f"nothing to upsert at '{root}': no committed snapshot"
        )
    cur0 = _read_manifest(root, v0)
    if cur0.get("schema") is not None:
        names = [f["name"] for f in cur0["schema"]["fields"]]
        if key_col not in names:
            raise ValidationError(
                f"commit_upsert_rows at '{root}': key column "
                f"'{key_col}' not in the table schema (have: {names})"
            )
    sub_d = os.path.join("deletes", uuid.uuid4().hex[:12])
    (
        rows_df.select(key_col)
        .distinct()
        .coalesce(1)
        .write.mode("errorifexists")
        .parquet(os.path.join(root, sub_d))
    )
    del_rels = sorted(
        os.path.join(sub_d, f)
        for f in os.listdir(os.path.join(root, sub_d))
        if f.endswith(".parquet")
    )
    new = _write_data_files(rows_df, root, n_files)
    new_stats = _footer_stats(root, new)
    new_entry = _new_group_entry(root, new, new_stats)
    for _ in range(_MAX_COMMIT_RETRIES):
        v = current_version(root)
        cur = _read_manifest(root, v)
        nxt = v + 1
        all_groups = _groups_of(root, cur) + [
            {**new_entry, "added_version": nxt}
        ]
        payload = _descriptor_payload(
            all_groups,
            cur.get("schema"),
            "upsert",
            len(new),
            _live_delete_files_grouped(
                all_groups, cur.get("delete_files", [])
            )
            + [
                {"path": p, "column": key_col, "version": nxt}
                for p in del_rels
            ],
            meta,
        )
        if _try_commit_manifest(root, nxt, payload):
            return nxt
    raise CommitConflictError(
        f"commit_upsert_rows at '{root}': CAS retry budget "
        f"({_MAX_COMMIT_RETRIES}) exhausted under contention"
    )


def last_committed_meta(root: str, key: str, default=None):
    """Read a ``meta`` field from the LATEST manifest — the replay guard
    a streaming writer checks before committing a micro-batch: the
    field and the version it describes are one atomic publish, so there
    is no state where the data landed but the watermark didn't."""
    v = current_version(root)
    if v < 0:
        return default
    return _read_manifest(root, v).get(key, default)


def commit_rewrite(
    root: str,
    df: DataFrame,
    n_files: int | None = 1,
    stats_columns: bool = True,
    base_version: int | None = None,
    bloom_columns: list[str] | None = None,
) -> int:
    """Publish a full REWRITE (compaction / overwrite) as v+1: the new
    snapshot references only the rewritten files, while every retained
    older manifest still references the old ones — compaction without
    breaking time travel.

    Under concurrency: the rewrite pins the version it read (its
    BASE). If the CAS loses to a concurrent APPEND, the rewrite
    rebases — files the append added since base are carried into the
    new manifest (rewrite ∘ append commutes when the rewrite only
    replaces base files). If a concurrent writer REMOVED any base file
    (another rewrite won), the snapshots genuinely conflict and
    :class:`CommitConflictError` is raised — the caller must re-read
    and redo the rewrite, exactly Iceberg's serializable validation.

    ``base_version`` MUST be the version ``df`` was read at when the
    two can differ: the conflict base defaults to the CURRENT version
    at entry, and an append landing between the caller's
    ``read_snapshot`` and this call would otherwise be classified as
    part of the base — its files replaced by rewrite output that never
    read them (a lost update the r11 threaded OPTIMIZE∥append test
    caught live). :func:`optimize` pins the pair atomically."""
    base_v = (
        current_version(root) if base_version is None else int(base_version)
    )
    if base_v < 0:
        raise ValidationError(
            f"nothing to rewrite at '{root}': no committed snapshot"
        )
    base_files = set(_resolve_manifest(root, base_v)["files"])
    new = _write_data_files(df, root, n_files)
    new_stats = _footer_stats(root, new) if stats_columns else {}
    if bloom_columns:
        # re-record blooms for the rewritten files: without this an
        # OPTIMIZE would drop the replaced files' blooms and the
        # ANALYZE-free stats (manifest_column_stats) would go loud
        new_stats = _merge_bloom_stats(
            new_stats,
            {
                c: _compute_file_blooms(
                    root, new, c, BLOOM_BITS, BLOOM_HASHES
                )
                for c in bloom_columns
            },
        )
    schema = _schema_payload(df)
    new_entry = _new_group_entry(root, new, new_stats)
    for _ in range(_MAX_COMMIT_RETRIES):
        v = current_version(root)
        cur = _read_manifest(root, v)
        cur_groups = _groups_of(root, cur)
        cur_files = {
            r for e in cur_groups for r in _load_group(root, e["path"])[0]
        }
        if not base_files <= cur_files:
            raise CommitConflictError(
                f"commit_rewrite at '{root}': base version {base_v} "
                f"files were replaced by a concurrent commit — rewrite "
                f"vs rewrite does not commute; re-read and retry"
            )
        _check_no_deletes_since_base(cur, base_v, "commit_rewrite", root)
        # carried = concurrent appends since base: their whole sidecars
        # survive by reference; base-era sidecars drop (or shrink to
        # the files the base didn't cover)
        carried_set = cur_files - base_files
        kept_groups = [
            g
            for g in (
                _subset_group_entry(root, e, carried_set)
                for e in cur_groups
            )
            if g is not None
        ]
        all_groups = [{**new_entry, "added_version": v + 1}] + kept_groups
        payload = _descriptor_payload(
            all_groups,
            cur.get("schema", schema),
            "rewrite",
            len(new),
            _live_delete_files_grouped(
                all_groups, cur.get("delete_files", [])
            ),
        )
        if _try_commit_manifest(root, v + 1, payload):
            return v + 1
    raise CommitConflictError(
        f"commit_rewrite at '{root}': CAS retry budget "
        f"({_MAX_COMMIT_RETRIES}) exhausted under contention"
    )


def optimize(
    spark: SparkSession, root: str, n_files: int | None = None
) -> int:
    """The safe OPTIMIZE loop: pin (version, snapshot read) atomically,
    compact, and on a conflict re-read and retry — the compaction
    command a maintenance job runs against live writers. ``n_files``
    defaults to the volume-derived count (:func:`_write_data_files`).
    Retries are bounded by the CAS budget per attempt and
    ``_MAX_COMMIT_RETRIES`` attempts overall."""
    for _ in range(_MAX_COMMIT_RETRIES):
        v = current_version(root)
        try:
            return commit_rewrite(
                root,
                read_snapshot(spark, root, v),
                n_files=n_files,
                base_version=v,
            )
        except CommitConflictError:
            continue
    raise CommitConflictError(
        f"optimize at '{root}': retry budget exhausted under contention"
    )


def commit_rewrite_clustered(
    root: str,
    df: DataFrame,
    column: str,
    base_version: int | None = None,
    meta: dict | None = None,
    bloom_columns: list[str] | None = None,
    bloom_cluster_prefix: str | None = None,
    bloom_hashes: int = BLOOM_HASHES,
) -> int:
    """:func:`commit_rewrite` with the one-file-per-``column``-value
    layout — the OPTIMIZE command: re-cluster accumulated appends
    (whose files have useless full-range stats) into files that are
    compact boxes, so file skipping starts working, while every older
    version still reads the pre-optimize files (time travel across a
    compaction). Pair with :func:`zorder_bucket` as the cluster column
    for the multi-column ``OPTIMIZE ZORDER BY`` shape. Concurrency:
    base-pinned exactly like :func:`commit_rewrite` — pass
    ``base_version`` = the version ``df`` was read at when a writer may
    land between the read and this call."""
    base_v = (
        current_version(root) if base_version is None else int(base_version)
    )
    if base_v < 0:
        raise ValidationError(
            f"nothing to rewrite at '{root}': no committed snapshot"
        )
    base_files = set(_resolve_manifest(root, base_v)["files"])
    new = _write_data_files_clustered(df, root, column)
    new_stats = _footer_stats(root, new)
    if bloom_columns:
        rels_bloom = new
        if bloom_cluster_prefix is not None:
            rels_bloom = [
                r
                for r in new
                if str(
                    (new_stats.get(r, {}).get(column) or [""])[0]
                ).startswith(bloom_cluster_prefix)
            ]
        new_stats = _merge_bloom_stats(
            new_stats,
            {
                c: _compute_file_blooms(
                    root, rels_bloom, c, BLOOM_BITS, int(bloom_hashes)
                )
                for c in bloom_columns
            },
        )
    schema = _schema_payload(df.drop("_cluster"))
    new_entry = _new_group_entry(root, new, new_stats)
    for _ in range(_MAX_COMMIT_RETRIES):
        v = current_version(root)
        cur = _read_manifest(root, v)
        cur_groups = _groups_of(root, cur)
        cur_files = {
            r for e in cur_groups for r in _load_group(root, e["path"])[0]
        }
        if not base_files <= cur_files:
            raise CommitConflictError(
                f"commit_rewrite_clustered at '{root}': base version "
                f"{base_v} files were replaced by a concurrent commit"
            )
        _check_no_deletes_since_base(
            cur, base_v, "commit_rewrite_clustered", root
        )
        carried_set = cur_files - base_files
        kept_groups = [
            g
            for g in (
                _subset_group_entry(root, e, carried_set)
                for e in cur_groups
            )
            if g is not None
        ]
        all_groups = [{**new_entry, "added_version": v + 1}] + kept_groups
        payload = _descriptor_payload(
            all_groups,
            cur.get("schema", schema),
            "rewrite",
            len(new),
            _live_delete_files_grouped(
                all_groups, cur.get("delete_files", [])
            ),
            meta,
        )
        if _try_commit_manifest(root, v + 1, payload):
            return v + 1
    raise CommitConflictError(
        f"commit_rewrite_clustered at '{root}': CAS retry budget "
        f"({_MAX_COMMIT_RETRIES}) exhausted under contention"
    )


# ---------------------------------------------------------------------------
# schema evolution — metadata-only commits


def _metadata_only_commit(root: str, mutate, op: str) -> int:
    """Commit a schema change touching ZERO data bytes: copy the
    current manifest, let ``mutate(payload)`` adjust schema/mapping,
    CAS-publish as v+1. Rebases trivially (re-reads current and
    re-applies) since no files are written."""
    for _ in range(_MAX_COMMIT_RETRIES):
        v = current_version(root)
        if v < 0:
            raise ValidationError(
                f"no committed snapshot at '{root}' to evolve"
            )
        cur = _read_manifest(root, v)
        payload = {
            "format": 2,
            # deep-copy group entries: mutate() edits mappings in place
            # and the source descriptor dict may be shared
            "groups": [
                {**g, "mapping": dict(g.get("mapping", {}))}
                for g in _groups_of(root, cur)
            ],
            "schema": cur.get("schema"),
            "op": op,
            "added": 0,
            "delete_files": [
                dict(d) for d in cur.get("delete_files", [])
            ],
        }
        mutate(payload)
        if _try_commit_manifest(root, v + 1, payload):
            return v + 1
    raise CommitConflictError(
        f"{op} at '{root}': CAS retry budget exhausted under contention"
    )


def commit_add_column(root: str, name: str, spark_type: str) -> int:
    """Add a column (METADATA-ONLY — no data bytes move): the logical
    schema gains ``name`` typed ``spark_type`` (a DDL type string,
    e.g. ``'double'``); every existing file simply lacks the physical
    column, so readers fill it with typed NULLs. Files appended later
    carry it physically."""
    from pyspark.sql import types as T

    new_field = T.StructField(
        name, T._parse_datatype_string(spark_type), True
    )

    def mutate(payload: dict) -> None:
        if payload["schema"] is None:
            raise ValidationError(
                f"cannot add column to '{root}': snapshot predates "
                f"schema tracking (recommit with commit_append first)"
            )
        schema = T.StructType.fromJson(payload["schema"])
        if name in schema.fieldNames():
            raise ValidationError(
                f"column '{name}' already exists at '{root}'"
            )
        payload["schema"] = T.StructType(
            [*schema.fields, new_field]
        ).jsonValue()

    return _metadata_only_commit(root, mutate, "add_column")


def commit_rename_column(root: str, old: str, new: str) -> int:
    """Rename a column (METADATA-ONLY): the logical schema renames the
    field, and every CURRENT file records ``new → <its physical name
    for old>`` in the per-file column mapping (composing with prior
    renames), so old files keep serving their bytes under the new
    name. Files appended later are written physically as ``new`` and
    need no mapping. Time travel is unaffected: older manifests keep
    the older name."""
    from pyspark.sql import types as T

    def mutate(payload: dict) -> None:
        if payload["schema"] is None:
            raise ValidationError(
                f"cannot rename column at '{root}': snapshot predates "
                f"schema tracking (recommit with commit_append first)"
            )
        schema = T.StructType.fromJson(payload["schema"])
        names = schema.fieldNames()
        if old not in names:
            raise ValidationError(
                f"column '{old}' does not exist at '{root}' "
                f"(have: {names})"
            )
        if new in names:
            raise ValidationError(
                f"column '{new}' already exists at '{root}'"
            )
        payload["schema"] = T.StructType(
            [
                T.StructField(new, f.dataType, f.nullable)
                if f.name == old
                else f
                for f in schema.fields
            ]
        ).jsonValue()
        # sidecars stay IMMUTABLE across a rename: each group's
        # descriptor mapping gains new -> <its physical name for old>
        # (composing through prior renames), and resolution translates
        # stats/blooms through it — the rename touches O(groups)
        # descriptor bytes, never the per-file entries
        for g in payload["groups"]:
            mp = g["mapping"]
            phys = mp.pop(old, old)
            mp[new] = phys
        # equality-delete entries are keyed by LOGICAL column name —
        # re-key so later reads anti-join on the renamed column (the
        # delete FILE keeps its physical name; the reader re-labels it)
        for d in payload["delete_files"]:
            if d["column"] == old:
                d["column"] = new

    return _metadata_only_commit(root, mutate, "rename_column")


def compact_manifest_sidecars(
    root: str, target_groups: int = 8
) -> int:
    """METADATA-ONLY sidecar compaction (Iceberg ``rewrite_manifests``):
    merge the current snapshot's per-commit sidecars into about
    ``target_groups`` large ones and publish the result as v+1 — zero
    data bytes move, every data file keeps its add version (written
    per-file into the merged sidecars, since one descriptor-level
    version can no longer stand in for a span of commits).

    Why it exists: descriptors grow O(commits) — a table taking small
    streaming appends for a year carries tens of thousands of group
    refs, and every snapshot resolution walks them. Compaction bounds
    the descriptor the same way data compaction bounds file count,
    WITHOUT rewriting data (OPTIMIZE also collapses groups, but at
    O(table bytes); this is O(metadata)). Groups merge only within a
    column-mapping generation (a merged sidecar must stay uniform for
    the mapping the descriptor carries per group); file order is
    preserved, so reads are byte-identical. Older versions keep
    referencing the original sidecars — time travel is unaffected, and
    vacuum reclaims the superseded sidecars once no retained version
    lists them. Delete-file sequencing survives exactly: liveness
    checks use the merged group's MIN add version (conservative — an
    entry is pruned only when provably unreachable) while readers
    sequence against the exact per-file versions."""
    for _ in range(_MAX_COMMIT_RETRIES):
        v = current_version(root)
        if v < 0:
            raise ValidationError(
                f"no committed snapshot at '{root}' to compact"
            )
        cur = _read_manifest(root, v)
        groups = _groups_of(root, cur)
        if len(groups) <= max(int(target_groups), 1):
            return v  # already compact — publishing a no-op helps nobody
        # flatten, bucketed by mapping generation, preserving file order
        buckets: "OrderedDict[str, list]" = OrderedDict()
        for g in groups:
            rels, by_rel, avs = _load_group(root, g["path"])
            g_av = int(g.get("added_version", 0))
            mp_key = json.dumps(g.get("mapping", {}), sort_keys=True)
            bucket = buckets.setdefault(mp_key, [])
            for rel in rels:
                bucket.append(
                    (
                        rel,
                        by_rel.get(rel, {}),
                        int(avs[rel]) if avs is not None else g_av,
                    )
                )
        total = sum(len(b) for b in buckets.values())
        new_groups = []
        for mp_key, entries in buckets.items():
            mp = json.loads(mp_key)
            # proportional share of the target, at least one sidecar
            k = max(
                1, round(target_groups * len(entries) / max(total, 1))
            )
            size = -(-len(entries) // k)  # ceil
            for i in range(0, len(entries), size):
                chunk = entries[i:i + size]
                rels = [e[0] for e in chunk]
                stats = {e[0]: e[1] for e in chunk}
                avs = {e[0]: e[2] for e in chunk}
                entry = _new_group_entry(
                    root, rels, stats, mapping=mp, av_by_rel=avs
                )
                entry["added_version"] = min(avs.values())
                new_groups.append(entry)
        # carry the previous descriptor's META keys forward: exactly-once
        # streaming guards (last_committed_meta('batch_id')) and layout
        # constants (BM25's N / total tokens) live there — a compaction
        # that dropped them would reset replay protection and break
        # pinned-constant readers of the new latest version
        structural = {
            "format", "groups", "schema", "op", "added",
            "delete_files", "version", "files", "stats",
            "column_mapping", "added_versions",
        }
        meta = {k: v2 for k, v2 in cur.items() if k not in structural}
        payload = _descriptor_payload(
            new_groups,
            cur.get("schema"),
            "rewrite_manifests",
            0,
            _live_delete_files_grouped(
                new_groups, cur.get("delete_files", [])
            ),
            meta,
        )
        if _try_commit_manifest(root, v + 1, payload):
            return v + 1
    raise CommitConflictError(
        f"compact_manifest_sidecars at '{root}': CAS retry budget "
        f"({_MAX_COMMIT_RETRIES}) exhausted under contention"
    )


# Auto-compaction trigger policy for continuously-appending tables
# (streaming foreachBatch sinks commit every micro-batch): compact when
# the live descriptor references more than AUTO_COMPACT_GROUPS sidecar
# groups, back down to AUTO_COMPACT_TARGET. 32→8 keeps cold snapshot
# resolution O(8) forever at a metadata-only compaction every ~24
# commits — amortized cost per commit is one small sidecar rewrite,
# while without it the descriptor grows O(commits) and cold resolve
# O(groups) (measured 364 ms at 166 groups, SCALING.md).
AUTO_COMPACT_GROUPS = 32
AUTO_COMPACT_TARGET = 8


def maybe_compact_sidecars(
    root: str,
    max_groups: int = AUTO_COMPACT_GROUPS,
    target_groups: int = AUTO_COMPACT_TARGET,
) -> int | None:
    """ADVISORY sidecar compaction — the call every streaming ingest
    path makes after its guarded micro-batch commit, so no table that
    appends forever grows an unbounded descriptor.

    Safe in exactly the ways a foreachBatch sink needs:

    - **Replay-safe**: compaction is metadata-only and publishes a
      byte-identical table state; the exactly-once guard
      (:func:`last_committed_meta` on ``batch_id``) reads descriptor
      META keys, which compaction carries forward verbatim — a crash
      before/after the compaction commit changes nothing a replayed
      batch can observe.
    - **Concurrency-tolerant**: the underlying compaction loops on the
      manifest CAS like any commit; if concurrent appends keep winning,
      this gives up silently (returns None) instead of failing the
      micro-batch — the NEXT batch's call re-triggers, so the bound
      still holds (descriptor never exceeds max_groups + in-flight
      batches for long).
    - **Cheap when idle**: below the threshold it reads ONE descriptor
      and returns; no Spark job, no sidecar I/O.

    Returns the compacted version, or None when below threshold / lost
    to contention / table uninitialized."""
    v = current_version(root)
    if v < 0:
        return None
    cur = _read_manifest(root, v)
    if len(cur.get("groups", [])) <= max(int(max_groups), 1):
        return None
    try:
        return compact_manifest_sidecars(root, target_groups)
    except CommitConflictError:
        return None  # advisory: the next micro-batch re-triggers


def create_tag(root: str, name: str, version: int | None = None) -> int:
    """Pin a version under an immutable NAME (``refs/<name>.json``) —
    'the corpus run X trained on', addressable without remembering a
    number. Tags are create-once (the same atomic hard-link CAS as
    manifests — re-tagging a name raises instead of silently moving
    it) and participate in vacuum retention: a tagged version is never
    dropped, however old."""
    if "/" in name or name.startswith("."):
        raise ValidationError(f"invalid tag name '{name}'")
    v = current_version(root) if version is None else int(version)
    if v not in list_versions(root):
        raise ValidationError(
            f"cannot tag version {v} at '{root}': not a retained "
            f"version (have: {list_versions(root)})"
        )
    refs = os.path.join(root, "refs")
    os.makedirs(refs, exist_ok=True)
    final = os.path.join(refs, f"{name}.json")
    tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump({"name": name, "version": v}, f)
    try:
        os.link(tmp, final)
    except FileExistsError:
        os.remove(tmp)
        raise ValidationError(
            f"tag '{name}' already exists at '{root}' "
            f"(tags are immutable; delete_tag first)"
        )
    os.remove(tmp)
    return v


def delete_tag(root: str, name: str) -> None:
    p = os.path.join(root, "refs", f"{name}.json")
    if not os.path.exists(p):
        raise ValidationError(f"no tag '{name}' at '{root}'")
    os.remove(p)


def list_tags(root: str) -> dict[str, int]:
    refs = os.path.join(root, "refs")
    if not os.path.isdir(refs):
        return {}
    out = {}
    for f in os.listdir(refs):
        if (
            f.endswith(".json")
            and not f.startswith(".")
            and not f.startswith("branch-")  # mutable refs live apart
        ):
            with open(os.path.join(refs, f), encoding="utf-8") as fh:
                t = json.load(fh)
            out[t["name"]] = int(t["version"])
    return out


def resolve_tag(root: str, name: str) -> int:
    tags = list_tags(root)
    if name not in tags:
        raise ValidationError(
            f"no tag '{name}' at '{root}' (have: {sorted(tags)})"
        )
    return tags[name]


def restore_snapshot(root: str, version: int) -> int:
    """Delta's ``RESTORE``: publish the state of retained ``version``
    as a NEW head version — a METADATA-ONLY commit (the restored
    version's file references are copied forward; no data bytes move),
    so rolling a 100 TB table back after a bad write is O(descriptor).
    History is preserved: the bad versions stay readable and auditable
    until retention drops them, and the restore itself appears in
    :func:`snapshot_history` as ``op='restore'`` with
    ``restored_from`` naming the source.

    The restored version's commit ``meta`` rides along (it DESCRIBES
    the restored state — e.g. a streaming writer's batch_id guard
    resets with the rollback, so post-restore batches re-apply, which
    is exactly what rolling back means). Concurrent writers serialize
    on the manifest CAS like every commit; racing vacuum is the
    caller's coordination problem, same as any pinned read."""
    v = int(version)
    if v not in list_versions(root):
        raise ValidationError(
            f"cannot restore '{root}' to version {v}: not retained "
            f"(have: {list_versions(root)})"
        )
    src = _read_manifest(root, v)
    content = {
        k: val
        for k, val in src.items()
        if k not in ("version", "committed_at")
    }
    for _ in range(_MAX_COMMIT_RETRIES):
        nxt = current_version(root) + 1
        payload = {
            **content,
            "op": "restore",
            "added": 0,
            "restored_from": v,
        }
        if _try_commit_manifest(root, nxt, payload):
            return nxt
    raise CommitConflictError(
        f"restore at '{root}': CAS retry budget exhausted under "
        f"contention"
    )


def snapshot_history(root: str) -> list[dict]:
    """Table HISTORY introspection (Delta's ``DESCRIBE HISTORY`` /
    Iceberg's ``$snapshots`` metadata table): one dict per retained
    version — version, operation, data files added, delete-file count,
    and the wall-clock commit stamp. THIN descriptor reads only
    (O(retained versions), file lists stay in sidecars), so the audit
    surface never pays the O(table-files) price."""
    out = []
    for v in list_versions(root):
        m = _read_manifest(root, v)
        out.append(
            {
                "version": v,
                "op": m.get("op"),
                "added": m.get("added"),
                "n_delete_files": len(m.get("delete_files", [])),
                "committed_at": m.get("committed_at"),
            }
        )
    return out


def resolve_asof(
    root: str, ts: float, meta_key: str | None = None
) -> int:
    """TIMESTAMP time travel (Iceberg's ``TIMESTAMP AS OF``): the
    greatest retained version committed at or before ``ts``.

    Default clock is the ``committed_at`` wall stamp every manifest CAS
    writes. ``meta_key`` switches to a CALLER-COMMITTED logical clock
    riding in that version's commit ``meta`` (stored flat in the
    descriptor, same field :func:`last_committed_meta` reads — e.g. an
    event-time watermark or batch sequence a pipeline commits atomically
    with each version) — the deterministic variant reproducible
    pipelines and the oracle use; versions lacking the key are skipped,
    so a logical clock only ever resolves versions that explicitly
    declared one.

    Cost: O(retained versions) THIN descriptor reads — the sharded
    (format-2) layout keeps per-file entries in parquet sidecars, so
    asof resolution never parses a file list. Vacuumed versions are not
    candidates (same contract as every pinned read: retention wins)."""
    best = -1
    for v in list_versions(root):
        m = _read_manifest(root, v)
        t = m.get(meta_key if meta_key is not None else "committed_at")
        try:
            tf = float(t) if t is not None else None
        except (TypeError, ValueError):
            # non-numeric clock value (e.g. an ISO string committed under
            # the same meta key): not a candidate, same as a missing key —
            # one odd commit must not poison every asof resolution
            tf = None
        if tf is not None and tf <= ts and v > best:
            best = v
    if best < 0:
        clock = meta_key or "committed_at"
        raise ValidationError(
            f"no version at '{root}' with {clock} <= {ts} "
            f"(retained: {list_versions(root)})"
        )
    return best


# ---------------------------------------------------------------------------
# branches — MUTABLE named refs (Iceberg branch semantics: a branch is a
# movable pointer into the shared immutable version history; tags are the
# create-once cousins above). The production pattern they enable is
# WRITE-AUDIT-PUBLISH: writers land versions on the table as usual,
# audits run against the new head, and only then does the `published`
# branch move — consumers resolving through the branch NEVER see an
# unaudited snapshot, and a failed audit costs nothing (the pointer
# simply stays). Pointer moves are lost-update-free: each move CAS-links
# refs/branch-<name>-<seq>.json at seq+1 (the same create-if-absent
# arbiter manifests use), so two concurrent publishers serialize and
# the loser sees CommitConflictError instead of silently overwriting.


def _branch_files(root: str, name: str) -> list[tuple[int, str]]:
    refs = os.path.join(root, "refs")
    if not os.path.isdir(refs):
        return []
    pre = f"branch-{name}-"
    out = []
    for f in os.listdir(refs):
        if f.startswith(pre) and f.endswith(".json"):
            try:
                out.append((int(f[len(pre):-5]), os.path.join(refs, f)))
            except ValueError:
                continue
    return sorted(out)


def create_branch(root: str, name: str, version: int | None = None) -> int:
    """Create branch ``name`` pointing at ``version`` (default latest).
    Raises if the branch already exists."""
    if "/" in name or name.startswith("."):
        raise ValidationError(f"invalid branch name '{name}'")
    v = current_version(root) if version is None else int(version)
    if v not in list_versions(root):
        raise ValidationError(
            f"cannot branch at version {v} of '{root}': not retained "
            f"(have: {list_versions(root)})"
        )
    if _branch_files(root, name):
        raise ValidationError(
            f"branch '{name}' already exists at '{root}'"
        )
    refs = os.path.join(root, "refs")
    os.makedirs(refs, exist_ok=True)
    final = os.path.join(refs, f"branch-{name}-{0:010d}.json")
    tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump({"name": name, "version": v, "seq": 0}, f)
    try:
        os.link(tmp, final)
    except FileExistsError:
        os.remove(tmp)
        raise ValidationError(
            f"branch '{name}' already exists at '{root}'"
        )
    os.remove(tmp)
    return v


def _read_branch_head(root: str, name: str) -> int | None:
    """Current version for ONE branch, or None when the branch has no
    head files (deleted / never created). Bounded per-branch retry: a
    concurrent mover retires superseded pointer files AFTER linking the
    new seq (update_branch), so a head a reader just listed can vanish
    before the open — that means a NEWER seq exists and the honest
    answer is to re-list this branch's files, not to crash."""
    for _ in range(16):
        files = _branch_files(root, name)
        if not files:
            return None
        try:
            with open(files[-1][1], encoding="utf-8") as f:
                return int(json.load(f)["version"])
        except FileNotFoundError:
            continue  # retired mid-read by a mover; newer seq exists
    raise CommitConflictError(
        f"branch '{name}' at '{root}' kept moving across 16 read "
        "attempts — retry under less pointer churn"
    )


def resolve_branch(root: str, name: str) -> int:
    """The version branch ``name`` currently points at (the r13 flake:
    a WAP race surfaced as FileNotFoundError out of the read path —
    the bounded re-list lives in ``_read_branch_head``)."""
    v = _read_branch_head(root, name)
    if v is None:
        raise ValidationError(
            f"no branch '{name}' at '{root}' "
            f"(have: {sorted(list_branches(root))})"
        )
    return v


def list_branches(root: str) -> dict[str, int]:
    """All branches → the version each points at.

    A head file can vanish between the listdir and the open when a
    concurrent ``update_branch`` retires it — but the newer seq that
    replaced it may ALSO postdate our listdir snapshot, so skipping the
    vanished file could silently OMIT a live branch. ``vacuum`` pins
    branch-referenced versions through this function: an omission there
    deletes a published snapshot (fail-unsafe). A vanished head
    therefore re-resolves JUST that branch via its own bounded re-list
    (``_read_branch_head``) — already-read branches keep their answers,
    so one hot branch's pointer churn can no longer abort progress on
    every other branch and drive the whole listing toward its 16-attempt
    conflict error (r13 advice on the restart-the-world fix)."""
    refs = os.path.join(root, "refs")
    if not os.path.isdir(refs):
        return {}
    out: dict[str, int] = {}
    seqs: dict[str, int] = {}
    _FRESH = 1 << 62  # re-resolved outside the snapshot: beats any seq
    try:
        snapshot = os.listdir(refs)
    except FileNotFoundError:
        return {}
    for f in snapshot:
        if not (f.startswith("branch-") and f.endswith(".json")):
            continue
        stem = f[len("branch-"):-5]
        name, _, seq_s = stem.rpartition("-")
        try:
            seq = int(seq_s)
        except ValueError:
            continue
        if not name:
            continue
        if seq < seqs.get(name, -1):
            continue
        try:
            with open(os.path.join(refs, f), encoding="utf-8") as fh:
                out[name] = int(json.load(fh)["version"])
            seqs[name] = seq
        except FileNotFoundError:
            # this branch moved (newer seq, possibly after our listdir
            # snapshot) or was deleted: re-resolve only THIS branch
            v = _read_branch_head(root, name)
            if v is None:
                out.pop(name, None)  # deleted mid-scan
            else:
                out[name] = v
            seqs[name] = _FRESH  # stale snapshot entries can't regress it
    return out


def update_branch(
    root: str, name: str, version: int,
    expected_version: int | None = None,
) -> int:
    """Atomically move branch ``name`` to ``version`` — the PUBLISH
    step of write-audit-publish. Returns the new pointer sequence.
    Concurrent movers serialize on the seq CAS; a mover that lost the
    exact seq raises :class:`CommitConflictError`. Pass
    ``expected_version`` = the head your AUDIT read to get strict
    compare-and-set publishing: if anyone moved the pointer since
    (even to your own target), the publish conflicts instead of
    applying a decision made against a stale audit — without it, a
    mover that re-lists after a winner's cleanup serializes AFTER the
    winner, which is linearizable but may not be what an auditor
    wants."""
    v = int(version)
    if v not in list_versions(root):
        raise ValidationError(
            f"cannot point branch '{name}' at version {v} of "
            f"'{root}': not retained (have: {list_versions(root)})"
        )
    files = _branch_files(root, name)
    if not files:
        raise ValidationError(f"no branch '{name}' at '{root}'")
    if expected_version is not None:
        try:
            with open(files[-1][1], encoding="utf-8") as f:
                head = int(json.load(f)["version"])
        except FileNotFoundError:
            # the head file we listed was retired by a concurrent
            # winner between the listing and this read — by definition
            # the pointer moved since the audit (the r13 WAP-race flake
            # surfaced this as a raw FileNotFoundError)
            raise CommitConflictError(
                f"branch '{name}' at '{root}' moved while the audited "
                f"head was being read — re-read and re-audit"
            ) from None
        if head != int(expected_version):
            raise CommitConflictError(
                f"branch '{name}' at '{root}' points at {head}, not "
                f"the audited version {expected_version} — the "
                f"pointer moved since the audit; re-read and re-audit"
            )
    nxt = files[-1][0] + 1
    refs = os.path.join(root, "refs")
    final = os.path.join(refs, f"branch-{name}-{nxt:010d}.json")
    tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump({"name": name, "version": v, "seq": nxt}, f)
    try:
        os.link(tmp, final)
    except FileExistsError:
        os.remove(tmp)
        raise CommitConflictError(
            f"branch '{name}' at '{root}' moved concurrently "
            f"(lost the seq-{nxt} CAS) — re-read and retry"
        )
    os.remove(tmp)
    # retire superseded pointer files (best-effort; resolution always
    # takes the max seq, so a leftover older file is harmless)
    for seq, path in files:
        try:
            os.remove(path)
        except OSError:
            pass
    return nxt


def delete_branch(root: str, name: str) -> None:
    files = _branch_files(root, name)
    if not files:
        raise ValidationError(f"no branch '{name}' at '{root}'")
    for _seq, path in files:
        try:
            os.remove(path)
        except OSError:
            pass


def read_branch(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Scan the snapshot branch ``name`` points at — the consumer side
    of write-audit-publish (resolution + pinned read; later pointer
    moves do not affect an already-built plan)."""
    return read_snapshot(spark, root, resolve_branch(root, name))


# Changelog feeds for a CLOSED version range are reproducible forever
# (immutable versions), so the built feed plan is memoized exactly like
# read_snapshot's — keyed (root, v_from, v_to), revalidated against the
# (mtime_ns, size) of every descriptor in the range, cleared by the same
# invalidate paths (the memo shares read_snapshot's dict so
# invalidate_snapshot_plans covers both). Lazy plan only; every action
# re-executes it.


def snapshot_changelog(
    spark: SparkSession, root: str, v_from: int, v_to: int
) -> DataFrame:
    """The CDC FEED between two committed versions: one row per changed
    row, ``(version, change, <table columns>)`` with change ∈
    {'insert','delete'} — what an incremental consumer (a downstream
    index, a feature store, a replica) tails instead of re-reading the
    table. Versions are immutable, so the feed for a closed range is
    REPRODUCIBLE forever.

    Per-step cost is op-aware rather than O(table):

    - ``append`` steps read ONLY the step's new files (an appended
      file postdates every applicable delete, so no subtraction is
      needed) — O(batch);
    - ``delete`` steps semi-join the prior snapshot against the step's
      new equality-delete keys (broadcast — keys are the tiny side):
      one scan, output bounded by the deleted rows;
    - ``rewrite`` / ``replace`` steps fall back to the symmetric
      anti-join diff of the two snapshot reads — the only shape whose
      row-level delta is not manifest-derivable. A pure compaction
      therefore costs two scans and emits NOTHING, which the caller
      can skip by checking ``op == 'rewrite'`` upstream if it knows
      the rewrite preserved rows.

    The logical schema must be identical across the whole range —
    a changelog spanning a schema change has no single row type, so
    that raises rather than guessing."""
    from pyspark.sql import functions as F

    v_from, v_to = int(v_from), int(v_to)
    if v_to <= v_from:
        raise ValidationError(
            f"snapshot_changelog: need v_from < v_to, got "
            f"({v_from}, {v_to})"
        )
    memo_key = (os.path.normpath(root), ("changelog", v_from, v_to))
    try:
        token = tuple(
            (st.st_mtime_ns, st.st_size)
            for st in (
                os.stat(os.path.join(root, _manifest_name(v)))
                for v in range(v_from, v_to + 1)
            )
        )
    except OSError:
        token = None  # a descriptor is missing: the range check below
        # raises the proper error; never memoize
    got = _SNAPSHOT_DF_MEMO.get(memo_key)
    if (
        got is not None
        and got[0] is spark
        and token is not None
        and got[1] == token
    ):
        _SNAPSHOT_DF_MEMO.move_to_end(memo_key)  # LRU
        return got[2]
    versions = set(list_versions(root))
    for v in range(v_from, v_to + 1):
        if v not in versions:
            raise ValidationError(
                f"snapshot_changelog: version {v} not retained at "
                f"'{root}' (have: {sorted(versions)})"
            )
    schemas = {
        json.dumps(_read_manifest(root, v).get("schema"), sort_keys=True)
        for v in range(v_from, v_to + 1)
    }
    if len(schemas) > 1:
        raise ValidationError(
            f"snapshot_changelog: schema changed inside [{v_from}, "
            f"{v_to}] — tail ranges between schema-evolution commits"
        )
    out = None

    def emit(df: DataFrame, version: int, change: str) -> None:
        nonlocal out
        part = df.select(
            F.lit(version).alias("version"),
            F.lit(change).alias("change"),
            "*",
        )
        out = part if out is None else out.unionByName(part)

    for v in range(v_from + 1, v_to + 1):
        m = _resolve_manifest(root, v)
        prev = _read_manifest(root, v - 1)
        op = m.get("op")
        if op == "append":
            added = m.get("added_versions", {})
            new_rels = [
                rel for rel in m["files"] if int(added.get(rel, 0)) == v
            ]
            emit(
                _apply_logical_schema(spark, root, m, files=[
                    os.path.join(root, r) for r in new_rels
                ]),
                v,
                "insert",
            )
        elif op == "delete":
            prev_paths = {
                d["path"] for d in prev.get("delete_files", [])
            }
            new_dels = [
                d
                for d in m.get("delete_files", [])
                if d["path"] not in prev_paths
            ]
            base = read_snapshot(spark, root, v - 1)
            for d in new_dels:
                keys = _read_delete_keys(
                    spark, root, d["path"], d["column"]
                )
                emit(
                    base.join(
                        F.broadcast(keys), on=d["column"], how="left_semi"
                    ),
                    v,
                    "delete",
                )
        elif op in ("add_column", "rename_column"):
            continue  # unreachable (schema guard above), kept explicit
        elif op == "rewrite_manifests":
            continue  # metadata-only: rows identical by construction
        else:  # rewrite / replace / unknown: row-level symmetric diff
            # Both diff directions from ONE ±1-tagged union + count
            # aggregate (guide §2.3/§2.4): per distinct row, Δ = c_cur −
            # c_prev; Δ>0 emits Δ insert copies, Δ<0 emits |Δ| delete
            # copies — exactly exceptAll's multiset semantics (Spark's
            # own RewriteExceptAll rule lowers exceptAll to this same
            # tagged-union shape, but two exceptAll calls pay the scans
            # and the count shuffle TWICE; here the insert and delete
            # branches share one Exchange subtree, which ReuseExchange
            # dedups at execution).
            cur_df = read_snapshot(spark, root, v)
            prev_df = read_snapshot(spark, root, v - 1)
            cols = cur_df.columns
            tagged = cur_df.select(
                *cols, F.lit(1).alias("_w")
            ).unionByName(
                prev_df.select(*cols).select(
                    *cols, F.lit(-1).alias("_w")
                )
            )
            delta = tagged.groupBy(*cols).agg(F.sum("_w").alias("_d"))

            def replicate(df: DataFrame, n_col) -> DataFrame:
                return df.select(
                    *cols,
                    F.explode(
                        F.sequence(F.lit(1), n_col.cast("int"))
                    ).alias("_i"),
                ).drop("_i")

            emit(
                replicate(delta.filter(F.col("_d") > 0), F.col("_d")),
                v,
                "insert",
            )
            emit(
                replicate(delta.filter(F.col("_d") < 0), -F.col("_d")),
                v,
                "delete",
            )
    if token is not None:
        _SNAPSHOT_DF_MEMO[memo_key] = (spark, token, out)
        while len(_SNAPSHOT_DF_MEMO) > _SNAPSHOT_DF_MEMO_MAX:
            _SNAPSHOT_DF_MEMO.popitem(last=False)
    return out


def apply_changelog(
    replica: DataFrame,
    feed: DataFrame,
    key_col: str,
    versions: Sequence[int] | None = None,
) -> DataFrame:
    """Fold a CDC feed (:func:`snapshot_changelog` output) into a pinned
    replica VERSION BY VERSION: for each feed version ascending,
    subtract that version's deletes (broadcast anti-join on the key),
    then union its inserts. The per-version order is what makes the
    fold correct for ANY history — a key inserted then deleted inside
    the range ends absent (a single collapsed anti-join + union would
    resurrect it: the union re-adds the insert after the global
    anti-join), a key deleted then re-inserted ends present, and an
    upsert step (delete + insert at one version) applies its delete to
    the pre-step state. Catch-up cost is O(changed rows) per version;
    the distinct-version list is bounded by the manifest history (one
    driver-collected column). Long histories compose with compaction:
    consumers resync from a snapshot instead of folding thousands of
    versions.

    ``versions``: the fold's version list, when the caller already knows
    it (a changelog for a closed range (a, b] changes exactly versions
    a+1..b — snapshot_changelog's contract). Passing it skips the
    distinct+collect DISCOVERY JOB, which otherwise executes the whole
    feed DAG once just to learn the list (guide §5: the driver should
    do almost no data work — and §1.2: don't compute things you throw
    away). A version with no feed rows folds as the identity (empty
    anti-join + empty union), so a superset is harmless; omit the
    argument when the feed's provenance is unknown."""
    from pyspark.sql import functions as F

    if versions is None:
        versions = sorted(
            r["version"]
            for r in feed.select("version").distinct().collect()
        )
    else:
        versions = sorted(int(v) for v in versions)
    cols = list(replica.columns)
    for v in versions:
        step = feed.filter(F.col("version") == v)
        dels = step.filter(F.col("change") == "delete").select(key_col)
        ins = step.filter(F.col("change") == "insert").select(*cols)
        replica = replica.join(
            F.broadcast(dels), key_col, "left_anti"
        ).unionByName(ins)
    return replica


def vacuum(
    root: str,
    keep_last: int = 1,
    orphan_grace_sec: float = 86400.0,
    keep_since_ts: float | None = None,
) -> dict:
    """Drop all but the last ``keep_last`` versions and delete data
    files referenced by NO retained manifest (plus any orphans from
    crashed commits). The only destructive operation in the layout —
    and the reason readers of retained versions are never affected:
    retention is decided FIRST, reference counting second.

    ``keep_since_ts`` ADDS an age-based floor (Iceberg's
    ``expire_snapshots(older_than)``): every version whose
    ``committed_at`` wall stamp is at or after the mark is retained in
    addition to the ``keep_last`` window and every tag/branch-pinned
    version. Retention policies only ever widen the keep set — the
    latest version and named refs survive any combination.

    NEVER-COMMITTED files (present under data/ or deletes/ but in no
    manifest, retained or dropped) are removed only once older than
    ``orphan_grace_sec`` (mtime, default 24 h): a concurrent writer
    between its data-file write and its CAS publish looks exactly like
    a crashed commit's orphans, and sweeping its fresh files would let
    it publish a manifest pointing at deleted data — a corrupt
    snapshot. Files referenced by a DROPPED version carry no such
    ambiguity (they were committed, then superseded) and are reclaimed
    immediately. Pass ``orphan_grace_sec=0`` only when the caller holds
    exclusive access (no in-flight writers)."""
    import shutil
    import time as _time

    vs = list_versions(root)
    if not vs:
        return {
            "dropped_versions": 0,
            "deleted_files": 0,
            "deleted_sidecars": 0,
        }
    keep = set(vs[-max(int(keep_last), 1):])
    if keep_since_ts is not None:
        for v in vs:
            t = _read_manifest(root, v).get("committed_at")
            try:
                # missing stamp == unparseable stamp: an unknown-age
                # snapshot (committed before stamping existed) must be
                # kept, never destroyed, under an age-based request
                recent = True if t is None else float(t) >= keep_since_ts
            except (TypeError, ValueError):
                recent = True  # unparseable stamp: keep, never destroy
            if recent:
                keep.add(v)
    # tagged and branch-pinned versions are pinned: retention never
    # drops a named ref's snapshot (delete the ref first — an explicit
    # act, not a side effect)
    keep.update(v for v in list_tags(root).values() if v in set(vs))
    keep.update(
        v for v in list_branches(root).values() if v in set(vs)
    )
    referenced: set[str] = set()
    dropped_refs: set[str] = set()
    referenced_groups: set[str] = set()
    dropped_groups: set[str] = set()
    for v in vs:
        md = _read_manifest(root, v)
        m = _resolve_manifest(root, v)
        refs = set(m["files"]) | {
            d["path"] for d in m.get("delete_files", [])
        }
        grefs = {g["path"] for g in md.get("groups", [])}
        if v in keep:
            referenced.update(refs)
            referenced_groups.update(grefs)
        else:
            dropped_refs.update(refs)
            dropped_groups.update(grefs)
    dropped = 0
    for v in vs:
        if v not in keep:
            os.remove(os.path.join(root, _manifest_name(v)))
            dropped += 1
    deleted = 0
    now = _time.time()
    for kind in ("data", "deletes"):
        kind_root = os.path.join(root, kind)
        if not os.path.isdir(kind_root):
            continue
        # recursive walk: clustered commits nest files one level deeper
        # (data/<uuid>/_cluster=<v>/part.parquet)
        for dirpath, _dirs, files in os.walk(kind_root):
            for f in files:
                full = os.path.join(dirpath, f)
                rel = os.path.relpath(full, root)
                if not f.endswith(".parquet") or rel in referenced:
                    continue
                if rel not in dropped_refs:  # possible in-flight writer
                    try:
                        age = now - os.path.getmtime(full)
                    except OSError:
                        continue  # raced the writer's own cleanup
                    if age < orphan_grace_sec:
                        continue
                os.remove(full)
                deleted += 1
        for sub in os.listdir(kind_root):
            sub_dir = os.path.join(kind_root, sub)
            live = any(
                fn.endswith(".parquet")
                for _dp, _dn, fns in os.walk(sub_dir)
                for fn in fns
            )
            if not live:
                shutil.rmtree(sub_dir, ignore_errors=True)
    # group sidecars reference-count exactly like data files: dropped-
    # version sidecars reclaim immediately, NEVER-referenced ones (an
    # in-flight writer's sidecar awaiting its CAS, or a lost rebase's
    # orphan) only past the grace window
    deleted_sidecars = 0
    groups_root = os.path.join(root, _GROUP_DIR)
    if os.path.isdir(groups_root):
        for f in os.listdir(groups_root):
            rel = os.path.join(_GROUP_DIR, f)
            full = os.path.join(groups_root, f)
            if not f.endswith(".parquet") or rel in referenced_groups:
                continue
            if rel not in dropped_groups:
                try:
                    age = now - os.path.getmtime(full)
                except OSError:
                    continue
                if age < orphan_grace_sec:
                    continue
            os.remove(full)
            deleted_sidecars += 1
    return {
        "dropped_versions": dropped,
        "deleted_files": deleted,
        "deleted_sidecars": deleted_sidecars,
    }
