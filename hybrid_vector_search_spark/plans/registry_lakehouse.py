"""Snapshot / CDC / sharded-manifest lakehouse queries.

r11 mechanical split of plans/registry.py (r10 verdict task 7): this is a
contiguous slice of the original file, imported by the registry hub in
original order, so registration order, query names, and oracle SQL are
byte-identical to the single-file registry. Shared infra (register,
QUERIES/ORACLES, load_corpus, caches) stays in the hub; cross-family
helpers are imported explicitly below.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hybrid_vector_search_spark.session import artifact
from hybrid_vector_search_spark.sources.loaders import (
    load_table,
)

from hybrid_vector_search_spark.plans.registry import (  # noqa: E402
    local_df,
    CORPUS_CTE,
    load_corpus,
    register,
)
from hybrid_vector_search_spark.plans.registry_hybrid_ann import (  # noqa: E402
    ANN_IVF_NLIST,
    ANN_IVF_NPROBE,
)


def _snapshot_root(spark: SparkSession, sf_dir: str) -> str:
    """The corpus_snapshot_reads table: v1 (80% of rows), an append v2
    (the remaining 20%) and a one-file compaction rewrite v3, committed
    once per session."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def build():
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label"
        )
        root = scratch_path(
            "snapshots_" + sf_dir.strip("/").replace("/", "_")
        )
        v1 = M.commit_append(root, emb.filter(F.col("vec_id") % 5 != 0))
        v2 = M.commit_append(root, emb.filter(F.col("vec_id") % 5 == 0))
        v3 = M.commit_rewrite(
            root, M.read_snapshot(spark, root, v2), n_files=1
        )
        assert (v1, v2, v3) == (1, 2, 3)
        return root

    return artifact(spark, ("snapshot", sf_dir), build)


@register(
    "corpus_snapshot_reads",
    """SELECT 1 AS version, label, COUNT(*) AS n
FROM embeddings WHERE vec_id % 5 <> 0 GROUP BY label
UNION ALL
SELECT 2 AS version, label, COUNT(*) AS n
FROM embeddings GROUP BY label
UNION ALL
SELECT 3 AS version, label, COUNT(*) AS n
FROM embeddings GROUP BY label
ORDER BY version, label""",
    side_effects=True,
)
def corpus_snapshot_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT ISOLATION + TIME TRAVEL on plain parquet
    (sources/manifest.py — the single-writer core of a table format):
    the corpus is committed as snapshot v1 (80% of rows), an append
    commits v2 (the remaining 20%, O(batch) — no existing bytes move),
    and a compaction REWRITE commits v3 (same rows, one file). The
    query then reads all three snapshots THROUGH the manifest layer
    after every commit has landed and reports per-label counts: v1
    must still show the pre-append corpus (time travel — the
    reproducible-read a training run pins), v2 the appended one, and
    v3 must equal v2 row-for-row (compaction changes layout, never
    content, and does not break older snapshots — what the rename-swap
    layouts cannot offer). The oracle recomputes each version's counts
    from the raw table, so a stale manifest, a leaking append, or a
    lossy rewrite all hash-mismatch. Readers racing a commit see
    either v or v+1, never a mix: a version IS one atomically-renamed
    manifest (crash/isolation mechanics pinned in
    tests/test_manifest.py). ``side_effects``: commits build a
    persisted layout once per session."""
    from hybrid_vector_search_spark.sources import manifest as M

    root = _snapshot_root(spark, sf_dir)

    def counts(version):
        return (
            M.read_snapshot(spark, root, version)
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(version).alias("version"), "label", "n")
        )

    return (
        counts(1)
        .unionByName(counts(2))
        .unionByName(counts(3))
        .orderBy("version", "label")
    )


@register(
    "corpus_snapshot_diff",
    """SELECT vec_id AS id, label FROM embeddings
WHERE vec_id % 5 = 0 ORDER BY id""",
    side_effects=True,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT DIFF — the incremental-consumer read ("give me what
    changed since the version I last processed", CDC-lite) the manifest
    layout makes exact: rows in v2 but not v1 of the corpus_snapshot_
    reads table, computed as a LEFT-ANTI join of two pinned snapshot
    scans. Because versions are immutable manifests, the diff is
    REPRODUCIBLE forever (re-running it next week returns the identical
    batch — what a downstream embedding/indexing job keys its own
    exactly-once processing on), and append-only commits make it exactly
    the appended batch, which is what the oracle (the 20% batch by
    construction) certifies. At scale the anti-join shuffles only ids;
    a manifest carrying per-commit file lists could serve the same diff
    as a pure file-set difference with ZERO shuffle — noted as the
    table-format upgrade path."""
    from hybrid_vector_search_spark.sources import manifest as M

    root = _snapshot_root(spark, sf_dir)
    v2 = M.read_snapshot(spark, root, 2)
    v1 = M.read_snapshot(spark, root, 1)
    return (
        v2.join(v1.select("vec_id"), "vec_id", "left_anti")
        .select(F.col("vec_id").alias("id"), "label")
        .orderBy("id")
    )


@register(
    "corpus_snapshot_pruned_scan",
    """WITH m AS (SELECT MAX(vec_id) + 1 AS n FROM embeddings),
w AS (SELECT (3 * n) // 8 AS lo, (5 * n) // 8 - 1 AS hi FROM m)
SELECT 2 AS files_scanned, 4 AS files_total, label,
  COUNT(*) AS n_rows, CAST(SUM(vec_id) AS BIGINT) AS sum_id
FROM embeddings, w WHERE vec_id BETWEEN w.lo AND w.hi
GROUP BY label ORDER BY label""",
    side_effects=True,
)
def corpus_snapshot_pruned_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MANIFEST COLUMN-STATS FILE SKIPPING (sources/manifest.py — the
    Iceberg data-skipping story without hive dirs): the corpus is
    committed as four id-range appends (one file each, so manifest
    footer stats give disjoint per-file vec_id [min,max]), and a
    BETWEEN scan over the middle [3n/8, 5n/8) window is planned by
    pruning files against those stats BEFORE Spark lists anything —
    exactly 2 of 4 files survive, by construction of the window. The
    proof is IN the hash-checked contract: the Spark side emits the
    MEASURED kept/total file counts as columns and the oracle pins the
    literals 2 and 4, so a pruning regression (reading every file, or
    wrongly dropping one) mismatches either those counts or the
    aggregate values over the missing/extra rows. At 100 TB this is
    the difference between listing+opening every corpus file and
    opening the fraction the predicate can touch — and it composes
    with time travel (each version prunes against its own manifest's
    stats)."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    # n rides in the cache next to the root: re-deriving it per call is
    # one whole Spark job on every bench pass (guide §1.2 — don't
    # re-compute what the builder already knows)
    def build():
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label"
        )
        n = emb.agg(F.max("vec_id")).first()[0] + 1  # bounded: one row
        root = scratch_path(
            "snap_pruned_" + sf_dir.strip("/").replace("/", "_")
        )
        bounds = [0, n // 4, n // 2, (3 * n) // 4, n]
        for lo, hi in zip(bounds, bounds[1:]):
            M.commit_append(
                root,
                emb.filter(
                    (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
                ),
                n_files=1,
            )
        return root, n

    root, n = artifact(spark, ("pruned_scan", sf_dir), build)
    w_lo, w_hi = (3 * n) // 8, (5 * n) // 8 - 1
    _v, kept, total = M.snapshot_files_pruned(root, "vec_id", w_lo, w_hi)
    return (
        M.read_snapshot_pruned(spark, root, "vec_id", w_lo, w_hi)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("vec_id").alias("sum_id"),
        )
        .select(
            F.lit(len(kept)).alias("files_scanned"),
            F.lit(total).alias("files_total"),
            "label",
            "n_rows",
            "sum_id",
        )
        .orderBy("label")
    )


def _group_pruned_oracle() -> str:
    """Replays the group-pruned window scan from the base table; the
    sidecar/file-count literals are pinned by CONSTRUCTION of the
    layout (4 commits of 4 clustered files each) and the Spark side
    emits its MEASURED counts, so a pruning regression — opening a
    sidecar the summary should skip, or scanning a file the per-file
    stats exclude — mismatches the hash."""
    return """WITH nn AS (SELECT MAX(vec_id) + 1 AS n FROM embeddings),
w AS (SELECT n // 4 AS lo, n // 2 - 1 AS hi FROM nn)
SELECT CAST(4 AS BIGINT) AS groups_total,
  CAST(1 AS BIGINT) AS sidecars_parsed,
  CAST(4 AS BIGINT) AS files_scanned,
  CAST(16 AS BIGINT) AS files_total,
  label,
  COUNT(*) AS n_rows,
  CAST(SUM(vec_id) AS BIGINT) AS sum_id
FROM embeddings, w
WHERE vec_id BETWEEN w.lo AND w.hi
GROUP BY label
ORDER BY label"""


@register(
    "corpus_snapshot_group_pruned_scan",
    _group_pruned_oracle(),
    side_effects=True,
)
def corpus_snapshot_group_pruned_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SHARDED-MANIFEST GROUP PRUNING (r12, sources/manifest.py format
    2 — the Iceberg manifest-list shape): the corpus lands as FOUR
    id-range commits, each clustered into four sub-range files, so the
    table's metadata is four immutable sidecars whose descriptor
    summaries carry disjoint vec_id [min,max]. A BETWEEN over the
    second quarter is then planned in two pruning levels: the
    descriptor summary rules out three sidecars UNOPENED (the metadata
    itself is file-skipped — at 800k files this is what keeps snapshot
    planning off the O(table) path), and the surviving sidecar's
    per-file stats keep exactly its four files. The hash-checked
    contract pins all four measured counts — groups in the descriptor,
    sidecars actually parsed (observed via the immutable-sidecar LRU),
    files kept, files total — alongside the window aggregate, so
    opening too much OR wrongly skipping data both mismatch."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    # n rides in the cache next to the root (guide §1.2: the per-call
    # max job was one whole Spark job per bench pass)
    def build():
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label"
        )
        n = emb.agg(F.max("vec_id")).first()[0] + 1  # bounded: one row
        root = scratch_path(
            "snap_gpruned_" + sf_dir.strip("/").replace("/", "_")
        )
        bounds = [0, n // 4, n // 2, (3 * n) // 4, n]
        for lo, hi in zip(bounds, bounds[1:]):
            span = max(hi - lo, 1)
            quarter = emb.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
            ).withColumn(
                "q",
                F.least(
                    F.lit(3),
                    ((F.col("vec_id") - lo) * 4 / span).cast("int"),
                ),
            )
            M.commit_append_clustered(root, quarter, "q")
        return root, n

    root, n = artifact(spark, ("group_pruned", sf_dir), build)
    w_lo, w_hi = n // 4, n // 2 - 1
    v = M.current_version(root)
    groups_total = len(M._read_manifest(root, v)["groups"])
    # parsed-sidecar count, observed: drop this root's entries from the
    # immutable-sidecar LRU, prune, count what came back in
    prefix = os.path.abspath(root) + os.sep
    with M._GROUP_CACHE_LOCK:
        for key in [k for k in M._GROUP_CACHE if k.startswith(prefix)]:
            del M._GROUP_CACHE[key]
    _v, kept, total = M.snapshot_files_pruned(root, "vec_id", w_lo, w_hi, v)
    with M._GROUP_CACHE_LOCK:
        parsed = sum(1 for k in M._GROUP_CACHE if k.startswith(prefix))
    return (
        M.read_snapshot_pruned(spark, root, "vec_id", w_lo, w_hi, v)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("vec_id").alias("sum_id"),
        )
        .select(
            F.lit(groups_total).cast("long").alias("groups_total"),
            F.lit(parsed).cast("long").alias("sidecars_parsed"),
            F.lit(len(kept)).cast("long").alias("files_scanned"),
            F.lit(total).cast("long").alias("files_total"),
            "label",
            "n_rows",
            "sum_id",
        )
        .orderBy("label")
    )


@register(
    "corpus_snapshot_partition_evolution",
    """SELECT CAST(1 AS BIGINT) AS old_kept_by_old_key,
  CAST(4 AS BIGINT) AS old_files,
  CAST(4 AS BIGINT) AS new_kept_by_old_key,
  CAST(4 AS BIGINT) AS new_files,
  CAST(0 AS BIGINT) AS old_kept_by_new_key,
  CAST(1 AS BIGINT) AS new_kept_by_new_key,
  COUNT(*) AS n_rows, CAST(SUM(vec_id) AS BIGINT) AS sum_id
FROM embeddings WHERE label % 4 = 2""",
    side_effects=True,
)
def corpus_snapshot_partition_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION-SPEC EVOLUTION (Iceberg's signature maintenance story):
    v1 lands the first half of the corpus clustered by ``lb = label%4``
    (the OLD spec), v2 lands the second half clustered by the GLOBAL id
    quartile ``q`` (the NEW spec) — the layout changed between commits
    and, like Iceberg, OLD FILES ARE NEVER REWRITTEN: each file group
    prunes by whatever its own layout made tight, because skipping is
    driven by per-file column stats, not by a table-level partition
    spec. The hash pins both directions with constants that hold BY
    CONSTRUCTION: an old-key probe (lb=2) keeps exactly 1 of v1's 4
    files and all 4 of v2's (the new layout can't prune lb); a new-key
    probe (q=3, the quartile WITHIN the new half — clamped to 0 for
    old ids, so every old file's q-stats exclude 3) keeps 0 of v1's
    files and exactly 1 of v2's. The row
    payload is the old-key probe's aggregate over the MIXED layout —
    wrong rows from either spec mismatch. Beyond-reference (SURVEY.md
    §2.9)."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    # the max-id job and the `both` projection are builder-only: on a
    # warm call the query reads the committed layout, so neither should
    # run per pass (guide §1.2 — was one Spark job per bench pass)
    def build():
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label"
        )
        n = emb.agg(F.max("vec_id")).first()[0] + 1  # bounded: one row
        both = emb.select(
            "vec_id",
            "label",
            (F.col("label") % 4).cast("int").alias("lb"),
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(3),
                    (
                        (F.col("vec_id") - n // 2) * 4 / F.lit(n - n // 2)
                    ).cast("int"),
                ),
            ).alias("q"),
        )
        root = scratch_path(
            "snap_specevo_" + sf_dir.strip("/").replace("/", "_")
        )
        M.commit_append_clustered(
            root, both.filter(F.col("vec_id") < n // 2), "lb"
        )
        M.commit_append_clustered(
            root, both.filter(F.col("vec_id") >= n // 2), "q"
        )
        return root

    root = artifact(spark, ("spec_evolution", sf_dir), build)
    files_v1 = set(M._resolve_manifest(root, 1)["files"])

    def split(kept):
        # pruning returns absolute paths; manifests store root-relative
        old = sum(
            1
            for f in kept
            if os.path.relpath(f, root) in files_v1
        )
        return old, len(kept) - old

    _v, kept_lb, total = M.snapshot_files_pruned(root, "lb", 2, 2)
    old_lb, new_lb = split(kept_lb)
    _v, kept_q, _t = M.snapshot_files_pruned(root, "q", 3, 3)
    old_q, new_q = split(kept_q)
    return (
        M.read_snapshot_pruned(spark, root, "lb", 2, 2)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("vec_id").cast("long").alias("sum_id"),
        )
        .select(
            F.lit(old_lb).cast("long").alias("old_kept_by_old_key"),
            F.lit(len(files_v1)).cast("long").alias("old_files"),
            F.lit(new_lb).cast("long").alias("new_kept_by_old_key"),
            F.lit(total - len(files_v1)).cast("long").alias("new_files"),
            F.lit(old_q).cast("long").alias("old_kept_by_new_key"),
            F.lit(new_q).cast("long").alias("new_kept_by_new_key"),
            "n_rows",
            "sum_id",
        )
    )


@register(
    "corpus_snapshot_history",
    """SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'append', CAST(2 AS BIGINT), CAST(0 AS BIGINT), 1),
  (CAST(2 AS BIGINT), 'append', CAST(1 AS BIGINT), CAST(0 AS BIGINT), 1),
  (CAST(3 AS BIGINT), 'delete', CAST(0 AS BIGINT), CAST(1 AS BIGINT), 1),
  (CAST(4 AS BIGINT), 'rewrite', CAST(2 AS BIGINT), CAST(0 AS BIGINT), 1)
) AS t(version, op, added, n_delete_files, has_wall_ts)
ORDER BY version""",
    side_effects=True,
)
def corpus_snapshot_history(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TABLE HISTORY introspection (Delta's ``DESCRIBE HISTORY`` /
    Iceberg's ``$snapshots`` metadata table — sources/manifest.py
    snapshot_history): the audit surface operators check before acting
    (what changed, when, by which operation, did retention touch it).
    Runs over the same scripted 4-version history the CDC queries pin
    (append 2 files → append 1 → merge-on-read delete → compaction
    rewrite), so every row is a BY-CONSTRUCTION constant the hash
    checks: version, operation, data files added, delete-file count,
    and that every commit carries the wall-clock stamp resolve_asof
    reads. Thin descriptor reads only — the history of an 800 k-file
    table costs O(versions), never O(files)."""
    from hybrid_vector_search_spark.sources import manifest as M

    root = _changelog_root(spark, sf_dir)  # defined below in this module
    rows = [
        (
            int(h["version"]),
            str(h["op"]),
            int(h["added"]),
            int(h["n_delete_files"]),
            int(h["committed_at"] is not None),
        )
        for h in M.snapshot_history(root)
    ]
    return local_df(spark, 
        rows,
        "version LONG, op STRING, added LONG, n_delete_files LONG, "
        "has_wall_ts INT",
    ).orderBy("version")


@register(
    "corpus_snapshot_restore",
    """SELECT 3 AS head_version, 1 AS restored_from, 'restore' AS op,
  vec_id AS id, label FROM embeddings
WHERE vec_id % 2 = 0 ORDER BY id""",
    side_effects=True,
)
def corpus_snapshot_restore(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROLLBACK as a first-class operation (Delta's ``RESTORE`` —
    sources/manifest.py restore_snapshot): v1 commits the even ids, v2
    appends the odd ids (the bad write), v3 RESTORES v1 — a
    metadata-only commit that copies v1's file references forward, so
    rolling back a 100 TB table moves zero data bytes. The hash pins
    that the new head serves EXACTLY v1's content (only even ids — odd
    rows leaking from the superseded v2 mismatch), that the head is a
    NEW version 3 (history preserved, v2 stays auditable), and that
    the descriptor records op='restore' with restored_from=1.
    Beyond-reference (SURVEY.md §2.9)."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def build():
        base = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("id"), "label"
        )
        root = scratch_path(
            "snap_restore_" + sf_dir.strip("/").replace("/", "_")
        )
        M.commit_append(root, base.filter(F.col("id") % 2 == 0))
        M.commit_append(root, base.filter(F.col("id") % 2 == 1))
        M.restore_snapshot(root, 1)
        return root

    root = artifact(spark, ("restore", sf_dir), build)
    head = M.current_version(root)
    desc = M.snapshot_history(root)[-1]
    return (
        M.read_snapshot(spark, root)
        .select(
            F.lit(head).cast("long").alias("head_version"),
            F.lit(int(M._read_manifest(root, head)["restored_from"]))
            .cast("long")
            .alias("restored_from"),
            F.lit(str(desc["op"])).alias("op"),
            "id",
            "label",
        )
        .orderBy("id")
    )


@register(
    "corpus_snapshot_manifest_compaction",
    """WITH nn AS (SELECT MAX(vec_id) + 1 AS n FROM embeddings)
SELECT CAST(8 AS BIGINT) AS groups_before,
  CAST(2 AS BIGINT) AS groups_after,
  CAST(8 AS BIGINT) AS files_total,
  COUNT(*) AS n_rows,
  CAST(SUM(vec_id) AS BIGINT) AS sum_id,
  COUNT(DISTINCT label) AS n_labels
FROM embeddings""",
    side_effects=True,
)
def corpus_snapshot_manifest_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """METADATA-ONLY SIDECAR COMPACTION (r12, sources/manifest.py
    compact_manifest_sidecars — Iceberg ``rewrite_manifests``): eight
    single-file appends leave a descriptor with eight sidecar refs;
    one compaction commit merges them into two, moving ZERO data bytes
    (the file set is asserted identical before/after inside this
    query). The hash contract pins the descriptor widths and the full
    table aggregate read THROUGH the compacted metadata, so a merge
    that dropped or duplicated a per-file entry mismatches the rows,
    and one that failed to collapse refs mismatches the counts. This
    is what bounds descriptor growth for a table taking streaming
    appends for a year — the metadata twin of data compaction, at
    O(metadata) instead of O(table bytes)."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def build():
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label"
        )
        root = scratch_path(
            "snap_mcompact_" + sf_dir.strip("/").replace("/", "_")
        )
        n = emb.agg(F.max("vec_id")).first()[0] + 1
        bounds = [(i * n) // 8 for i in range(8)] + [n]
        for lo, hi in zip(bounds, bounds[1:]):
            M.commit_append(
                root,
                emb.filter(
                    (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
                ),
                n_files=1,
            )
        v0 = M.current_version(root)
        groups_before = len(M._read_manifest(root, v0)["groups"])
        files_before = set(M.snapshot_files(root, v0)[1])
        v1 = M.compact_manifest_sidecars(root, target_groups=2)
        files_after = set(M.snapshot_files(root, v1)[1])
        assert files_after == files_before  # zero data movement
        return root, groups_before, v1

    # idempotent re-entry (bench min-of-N): replay the recorded
    # before/after widths over the already-compacted table
    root, groups_before, v1 = artifact(spark, ("manifest_compact", sf_dir), build)
    groups_after = len(M._read_manifest(root, v1)["groups"])
    files_total = len(M.snapshot_files(root, v1)[1])
    return (
        M.read_snapshot(spark, root, v1)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("vec_id").alias("sum_id"),
            F.countDistinct("label").alias("n_labels"),
        )
        .select(
            F.lit(groups_before).cast("long").alias("groups_before"),
            F.lit(groups_after).cast("long").alias("groups_after"),
            F.lit(files_total).cast("long").alias("files_total"),
            "n_rows",
            "sum_id",
            "n_labels",
        )
    )


@register(
    "corpus_snapshot_wap_publish",
    """WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
half AS (SELECT COUNT(*) AS h FROM embeddings
         WHERE vec_id < (SELECT (MAX(vec_id) + 1) // 2 FROM embeddings))
SELECT (SELECT h FROM half) AS published_before,
  CAST(5 AS BIGINT) AS audit_bad_rows,
  (SELECT n FROM nn) AS published_after,
  CAST(SUM(vec_id) AS BIGINT) AS sum_id_published
FROM embeddings""",
    side_effects=True,
)
def corpus_snapshot_wap_publish(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WRITE-AUDIT-PUBLISH through a MUTABLE BRANCH REF (r12,
    sources/manifest.py create_branch/update_branch — Iceberg branch
    semantics): consumers resolve snapshots through the `published`
    pointer; writers land versions on the table freely; the pointer
    moves ONLY after an audit passes, in one CAS-serialized step. The
    story this query replays and hash-pins: v1 (the id lower half) is
    published; a poisoned batch (negative labels) lands as v2 — the
    audit catches it, the pointer STAYS, and the consumer row count
    through the branch is still v1's; remediation rewrites the bad
    rows away and appends the valid upper half; the audit passes and
    the publish moves the pointer — the consumer now reads the full
    corpus, whose total checksum the oracle recomputes from the base
    table. Unaudited data is never served, and a failed audit costs
    zero rewrites of published state."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def build():
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label"
        )
        n = emb.agg(F.max("vec_id")).first()[0] + 1
        root = scratch_path(
            "snap_wap_" + sf_dir.strip("/").replace("/", "_")
        )
        M.commit_append(root, emb.filter(F.col("vec_id") < n // 2))  # v1
        M.create_branch(root, "published")
        before_rows = M.read_branch(spark, root, "published").count()

        # a poisoned batch lands; the audit (no negative labels) fails
        bad = spark.range(5).select(
            (F.col("id") + 10 * n).alias("vec_id"),
            F.lit(-1).cast("int").alias("label"),
        )
        v2 = M.commit_append(root, bad)
        bad_rows = (
            M.read_snapshot(spark, root, v2)
            .filter(F.col("label") < 0)
            .count()
        )
        assert bad_rows > 0  # audit fails -> pointer must not move
        assert M.resolve_branch(root, "published") == 1
        # consumer through the branch is untouched by the bad commit
        assert (
            M.read_branch(spark, root, "published").count() == before_rows
        )

        # remediation: rewrite the poison away, append the valid upper
        # half, re-audit, publish
        M.commit_rewrite(
            root,
            M.read_snapshot(spark, root).filter(F.col("label") >= 0),
            n_files=1,
        )
        v4 = M.commit_append(root, emb.filter(F.col("vec_id") >= n // 2))
        assert (
            M.read_snapshot(spark, root, v4)
            .filter(F.col("label") < 0)
            .count()
            == 0
        )
        M.update_branch(root, "published", v4)
        return root, before_rows, bad_rows

    root, before_rows, bad_rows = artifact(spark, ("wap", sf_dir), build)

    published = M.read_branch(spark, root, "published")
    return published.agg(
        F.count(F.lit(1)).alias("published_after"),
        F.sum("vec_id").alias("sum_id_published"),
    ).select(
        F.lit(before_rows).cast("long").alias("published_before"),
        F.lit(bad_rows).cast("long").alias("audit_bad_rows"),
        "published_after",
        "sum_id_published",
    )


_BLOOM_PROBE_ID = 137  # present at every sf (ids are 0..N-1, N ≥ 500)
_BLOOM_CLUSTERS = 4


def _bloom_scan_oracle() -> str:
    """Replays the WHOLE bloom-skipping decision from the base table:
    the cluster assignment (id % 4), each cluster's id [min,max], each
    cluster's bloom BIT-POSITION SET (same portable-md5 family the
    engine writes into the manifest — sources/manifest.py
    bloom_positions), the probe's positions, range-admit and
    bloom-admit counts, and the looked-up row itself."""
    from hybrid_vector_search_spark.sources.manifest import (
        BLOOM_BITS,
        BLOOM_HASHES,
        bloom_positions,
    )

    probe = _BLOOM_PROBE_ID
    tpos = sorted(set(bloom_positions(probe)))
    tlist = ", ".join(str(p) for p in tpos)
    pos_union = "\nUNION ALL\n".join(
        f"SELECT b, ('0x' || substr(md5('bloom{i}:' || id::VARCHAR), 1, 8))"
        f"::BIGINT % {BLOOM_BITS} AS p FROM c"
        for i in range(BLOOM_HASHES)
    )
    return f"""WITH c AS (
  SELECT vec_id AS id, label, CAST(vec_id % {_BLOOM_CLUSTERS} AS INT) AS b
  FROM embeddings),
mm AS (SELECT b, MIN(id) AS mn, MAX(id) AS mx FROM c GROUP BY b),
range_ok AS (SELECT b FROM mm WHERE mn <= {probe} AND mx >= {probe}),
pos AS (SELECT DISTINCT b, p FROM ({pos_union})),
bloom_ok AS (
  SELECT b FROM pos WHERE p IN ({tlist})
  GROUP BY b HAVING COUNT(DISTINCT p) = {len(tpos)})
SELECT CAST({_BLOOM_CLUSTERS} AS BIGINT) AS files_total,
  (SELECT COUNT(*) FROM range_ok) AS kept_range,
  (SELECT COUNT(*) FROM range_ok r JOIN bloom_ok k USING (b)) AS kept_bloom,
  id, label
FROM c WHERE id = {probe}"""


@register(
    "corpus_snapshot_bloom_scan",
    _bloom_scan_oracle(),
    side_effects=True,
)
def corpus_snapshot_bloom_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-FILE BLOOM-FILTER FILE SKIPPING (sources/manifest.py r11 —
    the Iceberg/Delta bloom-index story): the corpus is committed with
    an INTERLEAVED cluster layout (one file per ``id % 4`` residue), so
    every file's [min,max] spans nearly the whole id range — range
    stats admit ALL files for an interior point lookup, the exact case
    z-order/clustering can't fix. The commit records a per-file Bloom
    filter over ``id`` (portable-md5 hash family, 4096 bits × 3
    hashes, stored inline in the manifest's per-file stats), and the
    point lookup keeps only files whose bloom might contain the probe
    — its own residue file plus deterministic false positives, which
    the oracle REPLAYS exactly (cluster assignment, per-cluster bit
    sets, the probe's positions, both admit counts, and the row).
    Emitting the measured kept counts as columns makes a skipping
    regression (reading everything, or wrongly dropping the true file)
    a hash mismatch, not a silent slowdown. At 100 TB: a needle lookup
    opens O(1 + fp) files instead of every file whose range straddles
    the key."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def build():
        emb = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("id"), "label"
        ).withColumn(
            "b", (F.col("id") % _BLOOM_CLUSTERS).cast("int")
        )
        root = scratch_path(
            "snap_bloom_" + sf_dir.strip("/").replace("/", "_")
        )
        M.commit_append_clustered(root, emb, "b", bloom_columns=["id"])
        return root

    root = artifact(spark, ("bloom_scan", sf_dir), build)
    _v, kept, total, kept_range = M.snapshot_files_pruned_eq(
        root, "id", _BLOOM_PROBE_ID
    )
    return (
        spark.read.parquet(*kept)
        .filter(F.col("id") == _BLOOM_PROBE_ID)
        .select(
            F.lit(total).cast("long").alias("files_total"),
            F.lit(kept_range).cast("long").alias("kept_range"),
            F.lit(len(kept)).cast("long").alias("kept_bloom"),
            "id",
            "label",
        )
    )


_SP_FILTERS = {"label": {"eq": 7}, "lang": {"eq": "zh"}}


def _stats_planner_oracle() -> str:
    """Replays the ANALYZE-free decision end-to-end: footer-equivalent
    count/nulls from the base table, the bloom-UNION linear-counting
    ndv (the union of per-file bitsets equals the bloom of the global
    distinct value set, so the replay needs no file split), the
    System-R estimate with the engine's multiplication order, and the
    integer decision rule."""
    from hybrid_vector_search_spark.sources.manifest import (
        BLOOM_BITS,
        BLOOM_HASHES,
    )

    m, k = BLOOM_BITS, BLOOM_HASHES

    def ndv_est(col: str) -> str:
        pos = "\nUNION ALL\n".join(
            f"SELECT ('0x' || substr(md5('bloom{i}:' || {col}::VARCHAR),"
            f" 1, 8))::BIGINT % {m} AS p FROM corpus"
            f" WHERE {col} IS NOT NULL"
            for i in range(k)
        )
        s = f"(SELECT COUNT(DISTINCT p) FROM ({pos}))"
        return (
            f"GREATEST(CAST(FLOOR(-({m}.0 / {k}) * "
            f"ln(1.0 - {s} / {m}.0) + 0.5) AS BIGINT), 1)"
        )

    # estimate_allowed's float arithmetic for the two-eq conjunction,
    # with the ndv terms coming from the bloom estimate
    sel = (
        "((1.0 * ((1.0 / GREATEST(ndv_label_est, 1))"
        " * (1.0 - CAST(n - nn_label AS DOUBLE) / GREATEST(n, 1))))"
        " * ((1.0 / GREATEST(ndv_lang_est, 1))"
        " * (1.0 - CAST(n - nn_lang AS DOUBLE) / GREATEST(n, 1))))"
    )
    from hybrid_vector_search_spark.plans.registry_hybrid_ann import (
        ANN_IVF_NLIST as NL,
    )
    from hybrid_vector_search_spark.plans.registry_hybrid_ann import (
        ANN_IVF_NPROBE as NP,
    )

    return f"""{CORPUS_CTE},
s AS (SELECT
  (SELECT COUNT(*) FROM corpus) AS n,
  (SELECT COUNT(label) FROM corpus) AS nn_label,
  (SELECT COUNT(lang) FROM corpus) AS nn_lang,
  (SELECT COUNT(DISTINCT label) FROM corpus) AS ndv_label_exact,
  (SELECT COUNT(DISTINCT lang) FROM corpus) AS ndv_lang_exact,
  {ndv_est('label')} AS ndv_label_est,
  {ndv_est('lang')} AS ndv_lang_est),
e AS (SELECT s.*, GREATEST(1, LEAST(n, CAST(FLOOR(n * {sel} + 0.5)
  AS BIGINT))) AS est_allowed FROM s)
SELECT n, ndv_label_exact, ndv_label_est, ndv_lang_exact, ndv_lang_est,
  est_allowed,
  CASE WHEN est_allowed * {NL} < n * {NP}
       THEN 'pre_filter' ELSE 'post_filter' END AS choice
FROM e"""


@register(
    "corpus_snapshot_stats_planner",
    _stats_planner_oracle(),
    side_effects=True,
)
def corpus_snapshot_stats_planner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANALYZE-FREE PLANNER STATISTICS FROM THE MANIFEST (r11): the
    costed planner's 100 TB premise — "the statistics come from
    metadata, not a scan" — wired end-to-end through the lakehouse
    layer. The corpus commit records, per file, footer row/null counts
    and per-column blooms; ``manifest_column_stats`` folds them into
    the exact colstats dict shape with ZERO table scans: count/nulls
    summed from footers, min/max folded, and ndv estimated by LINEAR
    COUNTING over the union of the per-file bloom bitsets (a value
    sets the same bits in every file, so the union IS the global
    distinct-set bloom — mergeable where per-file COUNT(DISTINCT) is
    not). ``choose_backend_costed`` then makes the strict-conjunction
    decision from those metadata stats alone. The oracle replays
    everything — footer-equivalent counts, the bloom-union ndv bit
    arithmetic, the estimator's float multiplication order, and the
    decision — and the emitted exact-vs-estimated ndv columns pin the
    sketch's accuracy in the hash contract."""
    from hybrid_vector_search_spark.operators.strategies import (
        choose_backend_costed,
    )
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def build():
        corpus = load_corpus(spark, sf_dir).select(
            "id", "label", "lang"
        ).withColumn("b", (F.col("id") % 4).cast("int"))
        root = scratch_path(
            "snap_stats_" + sf_dir.strip("/").replace("/", "_")
        )
        M.commit_append_clustered(
            root, corpus, "b", bloom_columns=["label", "lang"]
        )
        return root

    root = artifact(spark, ("stats_planner", sf_dir), build)
    stats = M.manifest_column_stats(root, ["label", "lang"])
    n = int(stats["__table__"]["count"])
    choice, est = choose_backend_costed(
        stats, _SP_FILTERS, ANN_IVF_NPROBE, ANN_IVF_NLIST
    )
    exact = (
        load_corpus(spark, sf_dir)
        .agg(
            F.countDistinct("label").alias("dl"),
            F.countDistinct("lang").alias("dg"),
        )
        .first()
    )
    return local_df(spark, 
        [
            (
                n,
                int(exact["dl"]),
                int(stats["label"]["ndv"]),
                int(exact["dg"]),
                int(stats["lang"]["ndv"]),
                int(est),
                choice,
            )
        ],
        "n LONG, ndv_label_exact LONG, ndv_label_est LONG, "
        "ndv_lang_exact LONG, ndv_lang_est LONG, est_allowed LONG, "
        "choice STRING",
    )


@register(
    "corpus_snapshot_tag_read",
    """SELECT 2 AS tagged_version, 2 AS retained_versions,
  vec_id AS id, label FROM embeddings ORDER BY id""",
    side_effects=True,
)
def corpus_snapshot_tag_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NAMED REFS WITH RETENTION (sources/manifest.py create_tag /
    vacuum): v1 commits the even ids, v2 the odd ids (the full
    corpus), v3 a shifted extra batch; v2 is TAGGED ``train`` — 'the
    corpus this run trained on' — and vacuum(keep_last=1) then runs.
    Retention must keep exactly TWO versions: v3 (the keep-last
    window) and the tagged v2, dropping v1 — a tag pins its snapshot
    against any retention policy, which is what makes 'reproduce last
    month's training set' survive routine cleanup. The query reads
    the corpus BY TAG NAME (resolve_tag, no version number) and emits
    the measured tagged version + retained-version count with the
    oracle pinning both; the row payload proves the tagged read
    serves exactly v2's content (the full original corpus, not v3's
    extra batch — a reader that fell through to latest mismatches).
    Beyond-reference (SURVEY.md §2.9)."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def build():
        base = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("id"), "label"
        )
        n = base.agg(F.max("id")).first()[0] + 1  # bounded: one row
        root = scratch_path(
            "snap_tag_" + sf_dir.strip("/").replace("/", "_")
        )
        M.commit_append(root, base.filter(F.col("id") % 2 == 0))
        M.commit_append(root, base.filter(F.col("id") % 2 == 1))
        M.create_tag(root, "train")  # pins v2 = the full corpus
        M.commit_append(
            root,
            base.filter(F.col("id") % 9 == 0).select(
                (F.col("id") + n).alias("id"), "label"
            ),
        )
        M.vacuum(root, keep_last=1)
        return root

    root = artifact(spark, ("tag_read", sf_dir), build)
    v = M.resolve_tag(root, "train")
    retained = len(M.list_versions(root))
    return (
        M.read_snapshot(spark, root, v)
        .select(
            F.lit(v).alias("tagged_version"),
            F.lit(retained).alias("retained_versions"),
            "id",
            "label",
        )
        .orderBy("id")
    )


@register(
    "corpus_snapshot_asof_read",
    """SELECT 1 AS v_at_100, 2 AS v_at_250, 1 AS wall_is_latest,
  vec_id AS id, label FROM embeddings ORDER BY id""",
    side_effects=True,
)
def corpus_snapshot_asof_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TIMESTAMP TIME TRAVEL (sources/manifest.py resolve_asof —
    Iceberg's ``TIMESTAMP AS OF``): v1 commits the even ids with a
    LOGICAL clock ``event_ts=100`` riding in the manifest meta, v2 the
    odd ids (the full corpus) at ``event_ts=200``, v3 a shifted extra
    batch at ``event_ts=300``. ``resolve_asof(..., meta_key)`` against
    the logical clock must land 100→v1 and 250→v2 (greatest version at
    or before the mark — the deterministic clock reproducible pipelines
    commit atomically with each version); the default WALL clock
    (``committed_at``, stamped by every manifest CAS) resolved at 'now'
    must land the latest version. The row payload is the asof-250 read:
    exactly v2's content (the full corpus, no v3 batch — a reader that
    fell through to latest mismatches the hash). Resolution cost is
    O(versions) THIN descriptor reads — file lists stay in parquet
    sidecars. Beyond-reference (SURVEY.md §2.9)."""
    import time as _t

    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def build():
        base = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("id"), "label"
        )
        n = base.agg(F.max("id")).first()[0] + 1  # bounded: one row
        root = scratch_path(
            "snap_asof_" + sf_dir.strip("/").replace("/", "_")
        )
        M.commit_append(
            root, base.filter(F.col("id") % 2 == 0),
            meta={"event_ts": 100},
        )
        M.commit_append(
            root, base.filter(F.col("id") % 2 == 1),
            meta={"event_ts": 200},
        )
        M.commit_append(
            root,
            base.filter(F.col("id") % 9 == 0).select(
                (F.col("id") + n).alias("id"), "label"
            ),
            meta={"event_ts": 300},
        )
        return root

    root = artifact(spark, ("asof_read", sf_dir), build)
    v100 = M.resolve_asof(root, 100, meta_key="event_ts")
    v250 = M.resolve_asof(root, 250, meta_key="event_ts")
    wall_latest = int(
        M.resolve_asof(root, _t.time() + 60) == M.current_version(root)
    )
    return (
        M.read_snapshot(spark, root, v250)
        .select(
            F.lit(v100).alias("v_at_100"),
            F.lit(v250).alias("v_at_250"),
            F.lit(wall_latest).alias("wall_is_latest"),
            "id",
            "label",
        )
        .orderBy("id")
    )


@register(
    "corpus_snapshot_upsert_rows",
    """WITH b AS (SELECT vec_id AS id, label FROM embeddings),
m AS (SELECT MAX(id) + 1 AS n FROM b),
v2 AS (
  SELECT id, CASE WHEN id % 6 = 0 THEN label + 100 ELSE label END AS label
  FROM b
  UNION ALL
  SELECT id + n AS id, 777 AS label FROM b, m WHERE id % 11 = 0)
SELECT 1 AS version, 2 AS data_files, 0 AS delete_files,
  COUNT(*) AS n_rows, CAST(SUM(id) AS BIGINT) AS sum_id,
  CAST(SUM(label) AS BIGINT) AS sum_label FROM b
UNION ALL
SELECT 2 AS version, 3 AS data_files, 1 AS delete_files,
  COUNT(*) AS n_rows, CAST(SUM(id) AS BIGINT) AS sum_id,
  CAST(SUM(label) AS BIGINT) AS sum_label FROM v2
ORDER BY version""",
    side_effects=True,
)
def corpus_snapshot_upsert_rows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROW-LEVEL MERGE INTO AS ONE ATOMIC COMMIT (sources/manifest.py
    commit_upsert_rows — the Hudi/Iceberg merge-on-read upsert): one
    batch UPDATES every 6th id (label + 100) and INSERTS fresh ids in
    the same publish — the batch's keys land as an equality-delete
    file and its rows as one new data file, referenced by the SAME
    manifest, so there is no torn state between the delete and the
    insert (the two-commit shape has a crash window; this has none).
    Old copies of updated keys die because the delete reaches only
    files added BEFORE the commit; the new copies survive because
    their file is added AT it — the same add-version sequencing that
    protects re-inserts. Cost is O(batch): no read of the table, no
    data-file rewrite — copy-on-write MERGE rewrites every touched
    file instead, which at 100 TB is the difference between a
    point-update and a compaction job. Structural literals in the
    hash contract: v2 carries v1's 2 data files untouched + 1 new
    data file + 1 delete file, and the per-version aggregates catch a
    resurrected old copy (sum_label too low is impossible — a double
    copy inflates n_rows, a lost update deflates sum_label).
    Beyond-reference (SURVEY.md §2.9)."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def build():
        base = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("id"), "label"
        )
        n = base.agg(F.max("id")).first()[0] + 1  # bounded: one row
        root = scratch_path(
            "snap_upsert_" + sf_dir.strip("/").replace("/", "_")
        )
        M.commit_append(root, base, n_files=2)
        batch = base.filter(F.col("id") % 6 == 0).select(
            "id", (F.col("label") + 100).alias("label")
        ).unionByName(
            base.filter(F.col("id") % 11 == 0).select(
                (F.col("id") + n).alias("id"),
                F.lit(777).alias("label"),
            )
        )
        M.commit_upsert_rows(root, batch, "id", n_files=1)
        return root

    root = artifact(spark, ("upsert_rows", sf_dir), build)
    # r15 fused proof pass (guide §1.2/§2.4): the old shape unioned
    # agg(read_snapshot(1)) with agg(read_snapshot(2)), scanning v1's
    # files TWICE (once alone, once inside v2's merge-on-read). This
    # root's history is scripted by the builder above — v2 is exactly
    # (v1 minus the delete keys) ∪ the one new data file — so ONE
    # tagged union scan (v1 files tagged 0, the new file tagged 1)
    # left-joined against the broadcast delete keys computes both
    # versions' aggregates as conditional sums of a single
    # aggregation, and the two result rows come off that scalar row
    # via an explode — no second execution of any subtree, no join
    # for the fan-out. The delete-keys read declares its schema from
    # the snapshot's logical schema (no footer-inference job at
    # per-pass plan build). Equivalence to the read_snapshot-based
    # form is pinned by tests/test_r15_vectorized_kernels.py and the
    # value-hash oracle.
    v1_files = M.snapshot_files(root, 1)[1]
    v2_files = M.snapshot_files(root, 2)[1]
    new_files = [f for f in v2_files if f not in set(v1_files)]
    del_entries = M.snapshot_delete_files(root, 2)
    n_del_v1 = len(M.snapshot_delete_files(root, 1))
    scan12 = M.read_snapshot(spark, root, 1)
    keys = None
    for d in del_entries:
        k = M._read_delete_keys(spark, root, d["path"], d["column"])
        keys = k if keys is None else keys.unionByName(k)
    tagged = scan12.withColumn("_new", F.lit(0)).unionByName(
        spark.read.schema(scan12.schema)
        .parquet(*new_files)
        .withColumn("_new", F.lit(1))
    )
    flagged = (
        tagged.join(
            F.broadcast(keys.distinct().withColumn("_del", F.lit(1))),
            on="id",
            how="left",
        )
        if keys is not None
        else tagged.withColumn("_del", F.lit(None).cast("int"))
    )
    in_v1 = F.col("_new") == 0
    in_v2 = (F.col("_new") == 1) | F.col("_del").isNull()
    agg = flagged.agg(
        F.count(F.when(in_v1, F.lit(1))).alias("v1_rows"),
        F.sum(F.when(in_v1, F.col("id"))).alias("v1_sum_id"),
        F.sum(F.when(in_v1, F.col("label"))).alias("v1_sum_label"),
        F.count(F.when(in_v2, F.lit(1))).alias("v2_rows"),
        F.sum(F.when(in_v2, F.col("id"))).alias("v2_sum_id"),
        F.sum(F.when(in_v2, F.col("label"))).alias("v2_sum_label"),
    )
    is_v1 = F.col("version") == 1
    return (
        agg.select(
            F.explode(F.array(F.lit(1), F.lit(2))).alias("version"),
            "*",
        )
        .select(
            "version",
            F.when(is_v1, F.lit(len(v1_files)))
            .otherwise(F.lit(len(v2_files)))
            .alias("data_files"),
            F.when(is_v1, F.lit(n_del_v1))
            .otherwise(F.lit(len(del_entries)))
            .alias("delete_files"),
            F.when(is_v1, F.col("v1_rows"))
            .otherwise(F.col("v2_rows"))
            .alias("n_rows"),
            F.when(is_v1, F.col("v1_sum_id"))
            .otherwise(F.col("v2_sum_id"))
            .alias("sum_id"),
            F.when(is_v1, F.col("v1_sum_label"))
            .otherwise(F.col("v2_sum_label"))
            .alias("sum_label"),
        )
        .orderBy("version")
    )


@register(
    "corpus_snapshot_zorder_scan",
    """WITH m AS (SELECT MAX(vec_id) + 1 AS n FROM embeddings),
w AS (SELECT (3 * n) // 8 AS lo, (5 * n) // 8 - 1 AS hi FROM m)
SELECT 16 AS files_total, 8 AS files_vec_prune, 4 AS files_label_prune,
  2 AS files_conj_prune, COUNT(*) AS n_rows,
  CAST(SUM(vec_id) AS BIGINT) AS sum_id
FROM embeddings, w WHERE vec_id BETWEEN w.lo AND w.hi AND label = 3""",
    side_effects=True,
)
def corpus_snapshot_zorder_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-COLUMN DATA SKIPPING VIA Z-ORDER (sources/manifest.py
    zorder_bucket — Delta's OPTIMIZE ZORDER BY / Iceberg's sort-order
    rewrite, on the manifest layout): the corpus commits clustered by
    the fixed-boundary Morton bucket over (vec_id, label) — 16 grid
    cells, one immutable file each, every file a COMPACT BOX in the
    combined key space — so footer stats prune usefully on EITHER
    column: the vec_id window alone keeps 8/16 files, label = 3 alone
    keeps 4/16, and their CONJUNCTION keeps 2/16 (multiplicative — the
    single-column clustered layout of corpus_snapshot_pruned_scan
    prunes this conjunction no better than its one sorted column).
    All four MEASURED file counts ride in the hash-checked contract as
    columns with the oracle pinning the literals, and the aggregate is
    computed over the conjunctively-pruned scan, so a box that leaks
    (rows lost to over-pruning) or a grid that degenerates (stats not
    tight → under-pruning) mismatches. At 100 TB this is the layout
    decision that makes two-dimensional dashboards (time × tenant,
    list × label) open the file fraction their predicate box covers
    instead of a full stripe. Beyond-reference (SURVEY.md §2.9)."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def build():
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label"
        )
        # bounds are builder-only inputs to the committed layout —
        # derived once with the root (r15, guide §1.2), not re-run as
        # a per-pass driver job
        bounds = emb.agg(
            F.max("vec_id"), F.min("label"), F.max("label")
        ).first()  # bounded: one row
        n, lab_lo, lab_hi = bounds[0] + 1, bounds[1], bounds[2]
        zcols = [("vec_id", 0, n - 1), ("label", lab_lo, lab_hi)]
        root = scratch_path(
            "snap_zorder_" + sf_dir.strip("/").replace("/", "_")
        )
        M.commit_append_clustered(
            root,
            emb.withColumn("zb", M.zorder_bucket(zcols, 4)),
            "zb",
        )
        return root, n

    root, n = artifact(spark, ("zorder", sf_dir), build)
    w_lo, w_hi = (3 * n) // 8, (5 * n) // 8 - 1
    _v, kept_vec, total = M.snapshot_files_pruned(
        root, "vec_id", w_lo, w_hi
    )
    _v, kept_lab, _t = M.snapshot_files_pruned(root, "label", 3, 3)
    preds = [("vec_id", w_lo, w_hi), ("label", 3, 3)]
    _v, kept_both, _t = M.snapshot_files_pruned_multi(root, preds)
    return (
        M.read_snapshot_pruned_multi(spark, root, preds)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("vec_id").alias("sum_id"),
        )
        .select(
            F.lit(total).alias("files_total"),
            F.lit(len(kept_vec)).alias("files_vec_prune"),
            F.lit(len(kept_lab)).alias("files_label_prune"),
            F.lit(len(kept_both)).alias("files_conj_prune"),
            "n_rows",
            "sum_id",
        )
    )


@register(
    "corpus_snapshot_optimize_zorder",
    """WITH m AS (SELECT MAX(vec_id) + 1 AS n FROM embeddings),
w AS (SELECT (3 * n) // 8 AS lo, (5 * n) // 8 - 1 AS hi FROM m),
agg AS (SELECT COUNT(*) AS n_rows, CAST(SUM(vec_id) AS BIGINT) AS sum_id
        FROM embeddings, w WHERE vec_id BETWEEN w.lo AND w.hi
          AND label = 3)
SELECT 'post' AS phase, 16 AS files_total, 2 AS files_scanned,
  n_rows, sum_id FROM agg
UNION ALL
SELECT 'pre' AS phase, 6 AS files_total, 6 AS files_scanned,
  n_rows, sum_id FROM agg
ORDER BY phase""",
    side_effects=True,
)
def corpus_snapshot_optimize_zorder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE OPTIMIZE COMMAND — ingest-order appends, then one
    re-clustering rewrite that makes file skipping start working
    (Delta ``OPTIMIZE ZORDER BY`` end-to-end, sources/manifest.py
    commit_rewrite_clustered): v1–v3 append three id-interleaved
    slices (id % 3 — the arrival-order shape every ingest produces),
    so all 6 files span the FULL (vec_id, label) range and the
    conjunctive predicate prunes NOTHING (6 of 6 scanned — stats are
    only as good as the layout); v4 rewrites the table clustered by
    the fixed-boundary Morton bucket, after which the same predicate
    opens 2 of 16 files. Both phases' MEASURED (total, scanned) file
    counts ride in the hash contract with the oracle pinning the
    literals, and both phases compute the SAME aggregate over their
    pruned scan — so an optimize that loses rows, a prune that leaks,
    or stats that fail to tighten all mismatch. History survives the
    rewrite: v3 still reads the pre-optimize files (checked by the
    pre-phase scan running against version 3 AFTER v4 committed). At
    100 TB this is the nightly job that turns append-order data into
    a queryable layout without blocking readers. Beyond-reference
    (SURVEY.md §2.9)."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def build():
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label"
        )
        # builder-only bounds, derived once with the root (r15,
        # guide §1.2) instead of a per-pass driver job
        bounds = emb.agg(
            F.max("vec_id"), F.min("label"), F.max("label")
        ).first()  # bounded: one row
        n, lab_lo, lab_hi = bounds[0] + 1, bounds[1], bounds[2]
        root = scratch_path(
            "snap_optz_" + sf_dir.strip("/").replace("/", "_")
        )
        for r in range(3):  # arrival-order slices, full-range stats
            M.commit_append(
                root, emb.filter(F.col("vec_id") % 3 == r), n_files=2
            )
        zcols = [("vec_id", 0, n - 1), ("label", lab_lo, lab_hi)]
        M.commit_rewrite_clustered(
            root,
            M.read_snapshot(spark, root).withColumn(
                "zb", M.zorder_bucket(zcols, 4)
            ),
            "zb",
        )
        return root, n

    root, n = artifact(spark, ("optimize_z", sf_dir), build)
    w_lo, w_hi = (3 * n) // 8, (5 * n) // 8 - 1
    preds = [("vec_id", w_lo, w_hi), ("label", 3, 3)]
    parts = []
    for phase, version in (("pre", 3), ("post", 4)):
        _v, kept, total = M.snapshot_files_pruned_multi(
            root, preds, version=version
        )
        parts.append(
            M.read_snapshot_pruned_multi(
                spark, root, preds, version=version
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("vec_id").alias("sum_id"),
            )
            .select(
                F.lit(phase).alias("phase"),
                F.lit(total).alias("files_total"),
                F.lit(len(kept)).alias("files_scanned"),
                "n_rows",
                "sum_id",
            )
        )
    return parts[0].unionByName(parts[1]).orderBy("phase")


@register(
    "corpus_snapshot_schema_evolution",
    """SELECT 1 AS version, vec_id AS id, label AS cls,
  CAST(NULL AS DOUBLE) AS weight
FROM embeddings WHERE vec_id % 3 = 0
UNION ALL
SELECT 4 AS version, vec_id AS id, label AS cls,
  CASE WHEN vec_id % 3 = 1 THEN CAST(vec_id AS DOUBLE) / 2 END AS weight
FROM embeddings WHERE vec_id % 3 IN (0, 1)
ORDER BY version, id""",
    side_effects=True,
)
def corpus_snapshot_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SCHEMA EVOLUTION ACROSS SNAPSHOT VERSIONS (sources/manifest.py
    commit_add_column / commit_rename_column — both METADATA-ONLY
    commits, zero data bytes move): v1 commits (vec_id, label), v2
    adds a ``weight`` double, v3 appends rows that carry it
    physically, v4 renames ``label`` → ``cls``. The query reads the
    PINNED v1 (whose schema still says ``label`` — the plan aliases it
    to prove the old name is what that snapshot serves) and the
    current v4 (old files serve ``cls`` through the manifest's
    per-file column mapping and ``weight`` as typed NULLs; v3's files
    serve their physical values). The oracle reconstructs both reads
    from the raw table, so a mapping that loses the rename, NULL-fill
    that hides real values, or a reader that leaks the new schema into
    the pinned version all hash-mismatch."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def build():
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label"
        )
        root = scratch_path(
            "snap_schema_" + sf_dir.strip("/").replace("/", "_")
        )
        M.commit_append(root, emb.filter(F.col("vec_id") % 3 == 0))
        M.commit_add_column(root, "weight", "double")
        M.commit_append(
            root,
            emb.filter(F.col("vec_id") % 3 == 1).select(
                "vec_id",
                "label",
                (F.col("vec_id").cast("double") / 2).alias("weight"),
            ),
        )
        M.commit_rename_column(root, "label", "cls")
        return root

    root = artifact(spark, ("schema_evo", sf_dir), build)

    v1 = M.read_snapshot(spark, root, 1).select(
        F.lit(1).alias("version"),
        F.col("vec_id").alias("id"),
        F.col("label").alias("cls"),  # v1's schema still says 'label'
        F.lit(None).cast("double").alias("weight"),
    )
    v4 = M.read_snapshot(spark, root).select(
        F.lit(4).alias("version"),
        F.col("vec_id").alias("id"),
        "cls",
        "weight",
    )
    return v1.unionByName(v4).orderBy("version", "id")


@register(
    "corpus_snapshot_row_deletes",
    """WITH b AS (SELECT vec_id AS id FROM embeddings)
SELECT 1 AS version, 2 AS data_files, 0 AS delete_files,
  COUNT(*) AS n_rows, CAST(SUM(id) AS BIGINT) AS sum_id FROM b
UNION ALL SELECT 2, 2, 1, COUNT(*), CAST(SUM(id) AS BIGINT)
  FROM b WHERE id % 7 <> 0
UNION ALL SELECT 3, 3, 1, COUNT(*), CAST(SUM(id) AS BIGINT)
  FROM b WHERE id % 7 <> 0 OR id % 3 = 0
UNION ALL SELECT 4, 2, 0, COUNT(*), CAST(SUM(id) AS BIGINT)
  FROM b WHERE id % 7 <> 0 OR id % 3 = 0
ORDER BY version""",
    side_effects=True,
)
def corpus_snapshot_row_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE-ON-READ ROW-LEVEL DELETES (sources/manifest.py
    commit_delete_where — the Iceberg equality-delete shape): v1
    commits the corpus as two data files; v2 DELETES every id % 7 == 0
    row as a tiny equality-delete file — ZERO data files move, which
    at 100 TB is the difference between an O(deleted-keys) commit and
    an O(table) rewrite; v3 RE-INSERTS the multiple-of-21 ids, which
    survive the older delete because deletes reach only files added
    before them (per-file add-version sequencing — Iceberg's
    sequence-number rule); v4 compacts with
    ``commit_rewrite(read_snapshot(...))``, after which the delete
    entry prunes out of the manifest and the read is unchanged. The
    structural proof rides IN the hash-checked contract: per-version
    MEASURED (data_files, delete_files) counts are emitted as columns
    and the oracle pins the literals — a delete that rewrote data
    (2→3 files at v2), a reader that resurrected deleted rows or
    dropped re-inserted ones, or a compaction that failed to retire
    the delete file all hash-mismatch. Reads subtract deletes with a
    broadcast anti-join (keys are the tiny side), so the merge-on-read
    cost is one hash probe per scanned row, corpus-size independent.
    Reference scope: beyond the reference (its corpus is immutable;
    SURVEY.md §2.9 row-maintenance family)."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def build():
        ids = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("id")
        )
        root = scratch_path(
            "snap_rowdel_" + sf_dir.strip("/").replace("/", "_")
        )
        M.commit_append(root, ids, n_files=2)
        M.commit_delete_where(
            root, ids.filter(F.col("id") % 7 == 0), "id"
        )
        M.commit_append(
            root, ids.filter((F.col("id") % 21) == 0), n_files=1
        )
        M.commit_rewrite(root, M.read_snapshot(spark, root), n_files=2)
        return root

    root = artifact(spark, ("row_delete", sf_dir), build)
    parts = []
    for v in (1, 2, 3, 4):
        n_data = len(M.snapshot_files(root, v)[1])
        n_del = len(M.snapshot_delete_files(root, v))
        parts.append(
            M.read_snapshot(spark, root, v)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("id").alias("sum_id"),
            )
            .select(
                F.lit(v).alias("version"),
                F.lit(n_data).alias("data_files"),
                F.lit(n_del).alias("delete_files"),
                "n_rows",
                "sum_id",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("version")


@register(
    "corpus_snapshot_changelog",
    """WITH b AS (SELECT vec_id AS id, label FROM embeddings),
m AS (SELECT MAX(id) + 1 AS n FROM b)
SELECT 2 AS version, 'insert' AS change, id + n AS id, label
  FROM b, m WHERE id % 4 = 0
UNION ALL
SELECT 3 AS version, 'delete' AS change, id, label
  FROM b WHERE id % 5 = 0
ORDER BY version, change, id""",
    side_effects=True,
)
def corpus_snapshot_changelog(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CDC FEED OVER SNAPSHOT VERSIONS (sources/manifest.py
    snapshot_changelog): the scripted history commits v1 = the corpus,
    v2 = an append (every 4th id, shifted by n), v3 = a merge-on-read
    equality DELETE of every 5th original id, v4 = a compaction
    rewrite — and the feed for (v1, v4] must contain EXACTLY v2's rows
    as inserts and v3's victims as deletes, with v4 contributing
    NOTHING (a row-preserving rewrite is invisible to consumers). The
    feed is op-aware, not O(table): append steps read only the step's
    new files, delete steps broadcast-semi-join the tiny key file
    against the prior snapshot, and only rewrites pay a row-level
    symmetric diff. Emitting the full changed ROWS (not counts) makes
    the hash check total: a feed that leaks carried-over rows from the
    rewrite, misses a delete victim, or resurrects the wrong label
    values mismatches. Because versions are immutable, the feed for a
    closed range is reproducible forever — the property that lets a
    downstream consumer (index, replica, feature store) re-tail after
    a crash. Beyond-reference (SURVEY.md §2.9 maintenance family)."""
    from hybrid_vector_search_spark.sources import manifest as M

    root = _changelog_root(spark, sf_dir)
    return (
        M.snapshot_changelog(spark, root, 1, 4)
        .select("version", "change", "id", "label")
        .orderBy("version", "change", "id")
    )


def _changelog_root(spark: SparkSession, sf_dir: str) -> str:
    """The scripted 4-version history behind the CDC queries: v1 = the
    corpus, v2 = append (every 4th id, shifted by n), v3 = equality
    delete of every 5th ORIGINAL id, v4 = compaction rewrite."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def build():
        base = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("id"), "label"
        )
        n = base.agg(F.max("id")).first()[0] + 1  # bounded: one row
        root = scratch_path(
            "snap_cdc_" + sf_dir.strip("/").replace("/", "_")
        )
        M.commit_append(root, base, n_files=2)
        M.commit_append(
            root,
            base.filter(F.col("id") % 4 == 0).select(
                (F.col("id") + n).alias("id"), "label"
            ),
            n_files=1,
        )
        M.commit_delete_where(
            root, base.filter(F.col("id") % 5 == 0), "id"
        )
        M.commit_rewrite(root, M.read_snapshot(spark, root), n_files=2)
        return root

    return artifact(spark, ("changelog", sf_dir), build)


@register(
    "corpus_snapshot_cdc_apply",
    """WITH b AS (SELECT vec_id AS id, label FROM embeddings),
m AS (SELECT MAX(id) + 1 AS n FROM b),
final AS (
  SELECT id, label FROM b WHERE id % 5 <> 0
  UNION ALL
  SELECT id + n AS id, label FROM b, m WHERE id % 4 = 0)
SELECT 0 AS diff_vs_snapshot, id, label FROM final ORDER BY id""",
    side_effects=True,
)
def corpus_snapshot_cdc_apply(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE FEED IS SUFFICIENT — the downstream half of the CDC story:
    a REPLICA pinned at v1 consumes the changelog for (v1, v4] (same
    scripted history as corpus_snapshot_changelog) with the GENERAL
    version-by-version fold (sources/manifest.py apply_changelog: per
    version ascending, broadcast anti-join that version's deletes,
    union its inserts) — never re-reading the source table — and the
    result must equal the v4 snapshot read row-for-row. The fold is
    correct for arbitrary histories (insert-then-delete of the same key
    inside the range, re-inserts, upsert steps — pytest-pinned in
    tests/test_manifest.py), not just this script's disjoint key sets;
    r10's collapsed one-anti-join form rode a documented no-reinsert
    assumption this entry no longer needs. The proof is double-sided:
    the emitted rows hash against the oracle's expected final state,
    and the ``diff_vs_snapshot`` column carries the MEASURED symmetric
    difference vs the actual v4 read (an O(table) PROOF pass only, the
    consume path itself is O(changed rows)), which the oracle pins at
    0. This is the consumer contract a downstream index/replica/feature
    store relies on at 100 TB, and because versions are immutable the
    same feed replays to the same replica after a crash.
    Beyond-reference (SURVEY.md §2.9).

    r15 shape (guide §1.2/§2.4 — this was the bench's slowest query at
    2.5 s): the proof used to run as TWO driver-side ``exceptAll``
    count JOBS, plus ``apply_changelog``'s distinct-version discovery
    job, before a third action collected the rows — four actions, each
    re-running the whole feed DAG (whose v4-rewrite step itself pays a
    symmetric diff). Now the version list is passed explicitly (the
    changelog contract for a closed range), and the symmetric-diff
    count is computed IN the returned plan as a broadcast scalar:
    ``Σ_rows |count_replica − count_v4|`` over a ±1-tagged union, which
    equals ``exceptAll(a,b).count() + exceptAll(b,a).count()`` exactly
    (exceptAll keeps max(cA−cB, 0) copies per distinct row). One lazy
    plan, zero driver actions inside the builder — the caller's single
    action computes rows and proof together."""
    from hybrid_vector_search_spark.sources import manifest as M

    root = _changelog_root(spark, sf_dir)
    feed = M.snapshot_changelog(spark, root, 1, 4)
    replica = M.apply_changelog(
        M.read_snapshot(spark, root, 1), feed, "id", versions=(2, 3, 4)
    )
    v4 = M.read_snapshot(spark, root, 4)
    cols = replica.columns
    tagged = replica.select(*cols, F.lit(1).alias("_w")).unionByName(
        v4.select(*cols, F.lit(-1).alias("_w"))
    )
    diff = (
        tagged.groupBy(*cols)
        .agg(F.sum("_w").alias("_d"))
        .agg(
            F.coalesce(F.sum(F.abs(F.col("_d"))), F.lit(0))
            .cast("int")
            .alias("diff_vs_snapshot")
        )
    )
    return (
        replica.crossJoin(F.broadcast(diff))
        .select("diff_vs_snapshot", "id", "label")
        .orderBy("id")
    )


# ----------------------------------------- GDPR physical purge (r13)

_PURGE_USER = 13


@register(
    "corpus_snapshot_purge_user",
    f"""WITH n AS (SELECT COUNT(*) AS rows_before,
  CAST(SUM(CASE WHEN user_id = {_PURGE_USER} THEN 1 ELSE 0 END)
       AS BIGINT) AS purged_rows
  FROM events)
SELECT rows_before, purged_rows,
  rows_before - purged_rows AS rows_after,
  CAST(0 AS BIGINT) AS residual_rows_any_file,
  CAST(1 AS BIGINT) AS retained_versions
FROM n""",
    side_effects=True,
)
def corpus_snapshot_purge_user(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RIGHT-TO-BE-FORGOTTEN as a checked operator: merge-on-read
    deletes (corpus_snapshot_row_deletes) only MASK rows — the bytes
    stay in earlier data files, which compliance erasure does not
    allow. Physical purge = commit_rewrite of everything except the
    subject's rows, then vacuum(keep_last=1) so every superseded file
    (and with it every copy of the subject's bytes) is DELETED from
    storage. The query emits the audit row a DPO wants: row counts
    before/after, and ``residual_rows_any_file`` measured by scanning
    EVERY parquet file remaining under the table root DIRECTLY —
    bypassing the manifest, the way a forensic audit would — which the
    oracle pins at 0; retained_versions pins that no time-travel path
    back to the purged bytes survives (the deliberate trade: purge
    truncates history, which is exactly its contract). Cost shape at
    100 TB: the rewrite is one full-table pass (unavoidable for
    physical erasure without per-file row groups indexes); batching
    many purge requests into one rewrite amortizes it, and the
    clustered layouts (z-order / bucket by user) bound the rewrite to
    the files whose stats overlap the subject."""
    import glob as _glob
    import os as _os

    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def build():
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type"
        )
        root = scratch_path(
            "snap_purge_" + sf_dir.strip("/").replace("/", "_")
        )
        M.commit_append(root, ev.filter(F.col("user_id") % 2 == 0), n_files=2)
        M.commit_append(root, ev.filter(F.col("user_id") % 2 == 1), n_files=2)
        snap = M.read_snapshot(spark, root)
        rows_before = snap.count()
        purged_rows = snap.filter(F.col("user_id") == _PURGE_USER).count()
        M.commit_rewrite(
            root,
            M.read_snapshot(spark, root).filter(
                F.col("user_id") != _PURGE_USER
            ),
            n_files=2,
        )
        # destroy every superseded file; grace 0 is safe — this builder
        # holds exclusive access to its scratch root
        M.vacuum(root, keep_last=1, orphan_grace_sec=0)
        # forensic proof: read the raw files left on disk, not the
        # manifest — the subject's bytes must be gone from STORAGE
        leftover = _glob.glob(
            _os.path.join(root, "data", "*", "*.parquet")
        )
        residual = (
            spark.read.parquet(*leftover)
            .filter(F.col("user_id") == _PURGE_USER)
            .count()
            if leftover
            else 0
        )
        retained = len(M.list_versions(root))
        return rows_before, purged_rows, residual, retained

    rows_before, purged_rows, residual, retained = artifact(spark, ("purge", sf_dir), build)
    return local_df(spark, 
        [(
            int(rows_before),
            int(purged_rows),
            int(rows_before - purged_rows),
            int(residual),
            int(retained),
        )],
        "rows_before long, purged_rows long, rows_after long,"
        " residual_rows_any_file long, retained_versions long",
    )


# ------------------------------------- GDPR purge CASCADE (r14)

_CASCADE_SUBJECT = 13   # the erased user; docs/vectors owned via % mod
_CASCADE_MOD = 50       # owner(doc) = doc_id % 50, owner(vec) = vec_id % 50
_CASCADE_NLIST = 64


def _cascade_oracle() -> str:
    """Predicts every audit field of the cascade from the BASE tables
    alone: rows_before/purged per artifact are deterministic functions
    of events/documents/embeddings (the derived-artifact builds are
    engine-portable by construction — tokenize, shingle, MinHash all
    replay in DuckDB), residual is pinned 0 (the forensic contract) and
    retained_versions 1 (history truncation)."""
    from hybrid_vector_search_spark.operators.dedup import (
        NUM_BANDS,
        SHINGLES_SQL,
        minhash_lsh_pairs_sql,
    )
    from hybrid_vector_search_spark.plans.registry_corpus import (
        JACCARD_THRESHOLD,
    )

    s, m = _CASCADE_SUBJECT, _CASCADE_MOD
    pairs = minhash_lsh_pairs_sql(JACCARD_THRESHOLD)
    return rf"""WITH ev AS (
  SELECT COUNT(*) AS nb,
         CAST(SUM(CASE WHEN user_id = {s} THEN 1 ELSE 0 END) AS BIGINT) AS p
  FROM events),
ivf AS (
  SELECT COUNT(*) AS nb,
         CAST(SUM(CASE WHEN vec_id % {m} = {s} THEN 1 ELSE 0 END) AS BIGINT) AS p
  FROM embeddings),
tok AS (
  SELECT doc_id, term FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
    FROM documents)
  WHERE term <> ''),
bm AS (
  SELECT COUNT(*) AS nb,
         CAST(SUM(CASE WHEN doc_id % {m} = {s} THEN 1 ELSE 0 END) AS BIGINT) AS p
  FROM (SELECT DISTINCT doc_id, term FROM tok)),
{SHINGLES_SQL},
dp AS (
  SELECT CAST(SUM({NUM_BANDS} + len(s)) AS BIGINT) AS nb,
         CAST(SUM(CASE WHEN doc_id % {m} = {s}
                  THEN {NUM_BANDS} + len(s) ELSE 0 END) AS BIGINT) AS p
  FROM sh),
lshpairs AS ({pairs}),
surv AS (
  SELECT doc_id FROM documents
  WHERE doc_id NOT IN (SELECT DISTINCT doc_b FROM lshpairs)),
ds AS (
  SELECT COUNT(*) AS nb,
         CAST(SUM(CASE WHEN doc_id % {m} = {s} THEN 1 ELSE 0 END) AS BIGINT) AS p
  FROM surv)
SELECT artifact, rows_before, purged_rows,
  rows_before - purged_rows AS rows_after,
  CAST(0 AS BIGINT) AS residual_rows_any_file,
  CAST(1 AS BIGINT) AS retained_versions
FROM (
  SELECT 'events_snapshot' AS artifact, nb AS rows_before, p AS purged_rows
  FROM ev
  UNION ALL SELECT 'ivf_lists', nb, p FROM ivf
  UNION ALL SELECT 'bm25_postings', nb, p FROM bm
  UNION ALL SELECT 'dedup_postings', nb, p FROM dp
  UNION ALL SELECT 'dedup_survivors', nb, p FROM ds
) ORDER BY artifact"""


@register("corpus_purge_cascade", _cascade_oracle(), side_effects=True)
def corpus_purge_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-TO-BE-FORGOTTEN, CASCADED (r13 verdict task 1):
    ``corpus_snapshot_purge_user`` proves physical erasure from ONE
    snapshot table — but a persisted lakehouse carries the subject in
    every DERIVED root, and an erasure that stops at the base table is
    cosmetic for anything indexed. This query builds five artifact
    kinds the engine actually persists, all manifest-committed —

    * ``events_snapshot`` — base table (2 appends, subject=user_id);
    * ``ivf_lists`` — per-row (vec_id, embedding, list_id) clustered by
      list, the persisted ANN layout; purged with the TARGETED
      ``commit_replace_values`` maintenance commit: only lists that
      provably contain the subject are rewritten, disjoint list files
      are carried as untouched bytes (at sf0.001: ≤10 of 64 lists);
    * ``bm25_postings`` — (doc_id, term, tf, dl) clustered by term
      bucket; a document's terms hash across EVERY bucket, so no file
      is provably disjoint and the honest cost is one clustered
      rewrite — same bound as the base-table purge;
    * ``dedup_postings`` — the band+gram posting index, built by the
      PRODUCTION ingest kernel (operators/dedup.py
      dedup_ingest_commit_batch, the same code path the streaming
      dedup commits with); clustered rewrite on ``ck``;
    * ``dedup_survivors`` — the keep-first survivor table from the same
      kernel; plain rewrite.

    — each build REGISTERS its root in the derived-root registry
    (sources/purge.py register_derived_root: location + the owner
    expression over the root's own columns + layout hints), and the
    purge is :func:`sources.purge.purge_user_cascade`: ENUMERATE the
    registry, then per root the cheapest erasing commit the layout
    allows, ``vacuum(keep_last=1)`` so no time-travel path back to the
    purged bytes survives, and a FORENSIC raw-parquet scan (manifest
    bypassed) pinning ``residual_rows_any_file = 0``. The oracle predicts every count from
    the base tables (tokenize/shingle/MinHash replay in DuckDB), so the
    hash gate covers the audit numbers, the forensic zeros, and the
    history truncation at once. Subject linkage in the derived roots is
    an expression over their own keys (owner = id % 50) — the stand-in
    for the owner column a production pipeline must carry for erasure to
    be resolvable at all. Beyond-reference (the reference persists no
    derived state; SURVEY.md §2.9 + governance family)."""
    import numpy as np

    from hybrid_vector_search_spark.operators import dedup as DD
    from hybrid_vector_search_spark.operators.bm25 import tokenize
    from hybrid_vector_search_spark.operators.ivf import assign_list_udf
    from hybrid_vector_search_spark.operators.sampling import (
        portable_hash_key,
    )
    from hybrid_vector_search_spark.plans.registry_corpus import (
        JACCARD_THRESHOLD,
    )
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M
    from hybrid_vector_search_spark.sources.purge import (
        purge_user_cascade,
        register_derived_root,
    )

    schema = (
        "artifact string, rows_before long, purged_rows long,"
        " rows_after long, residual_rows_any_file long,"
        " retained_versions long"
    )
    def build():
        s, m = _CASCADE_SUBJECT, _CASCADE_MOD
        base = scratch_path(
            "purge_cascade_" + sf_dir.strip("/").replace("/", "_")
        )
        # -- 1. base snapshot: two appends so the purge has history to kill
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type"
        )
        ev_root = os.path.join(base, "events_snapshot")
        M.commit_append(ev_root, ev.filter(F.col("user_id") % 2 == 0), n_files=2)
        M.commit_append(ev_root, ev.filter(F.col("user_id") % 2 == 1), n_files=2)
        # -- 2. persisted IVF lists: fixed seeded quantizer (the lowest
        # nlist vec_ids — deterministic, no KMeans iterations; the layout
        # and the maintenance-commit path are the production ones)
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        cents = np.vstack(
            [
                np.asarray(r["embedding"], dtype=np.float64)
                for r in emb.orderBy("vec_id").limit(_CASCADE_NLIST).collect()
            ]
        )
        ivf_root = os.path.join(base, "ivf_lists")
        M.commit_append_clustered(
            ivf_root,
            emb.withColumn(
                "list_id", assign_list_udf(cents)(F.col("embedding"))
            ),
            "list_id",
        )
        # -- 3. BM25 postings clustered by term bucket
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        tok = tokenize(docs, "doc_id", "text")
        dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
        postings = (
            tok.groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .join(dl, "doc_id")
            .withColumn(
                "ck", (portable_hash_key(F.col("term")) % 32).cast("int")
            )
        )
        bm_root = os.path.join(base, "bm25_postings")
        M.commit_append_clustered(bm_root, postings, "ck")
        # -- 4 + 5. dedup posting index + survivors via the production
        # ingest kernel (one batch = the whole corpus)
        idx_root = os.path.join(base, "dedup_postings")
        surv_root = os.path.join(base, "dedup_survivors")
        DD.dedup_ingest_commit_batch(
            spark, docs, 0, idx_root, surv_root, JACCARD_THRESHOLD
        )

        # each builder REGISTERS its root (owner = a SQL expression over
        # the root's own columns); the purge then ENUMERATES the registry —
        # erasure must not depend on the caller remembering every index
        register_derived_root(
            base, "events_snapshot", ev_root, "user_id", source=sf_dir
        )
        register_derived_root(
            base, "ivf_lists", ivf_root, f"vec_id % {m}",
            cluster_column="list_id", targeted=True, source=sf_dir,
        )
        register_derived_root(
            base, "bm25_postings", bm_root, f"doc_id % {m}",
            cluster_column="ck", source=sf_dir,
        )
        register_derived_root(
            base, "dedup_postings", idx_root, f"doc_id % {m}",
            cluster_column="ck", source=sf_dir,
        )
        register_derived_root(
            base, "dedup_survivors", surv_root, f"doc_id % {m}",
            source=sf_dir,
        )
        audit = purge_user_cascade(spark, base, s)
        return [tuple(r) for r in audit.collect()]

    rows = artifact(spark, ("cascade", sf_dir), build)
    return local_df(spark, rows, schema).orderBy("artifact")


# ------------------------------- snapshot drift monitoring (r14)


def _drift_oracle() -> str:
    from hybrid_vector_search_spark.functions.portable import (
        grid_avg_sql,
        round_portable_sql,
    )

    g = round_portable_sql("(embedding[1])::DOUBLE", 6)
    m = grid_avg_sql(f"SUM({g})", "COUNT(*)", 6, 6)
    p1 = "((COALESCE(c1.n1, 0) + 1)::DOUBLE / (t.t1 + t.k))"
    p2 = "((c2.n2 + 1)::DOUBLE / (t.t2 + t.k))"
    psi = round_portable_sql(f"({p2} - {p1}) * ln({p2} / {p1})", 6)
    shift = round_portable_sql("c2.m2 - c1.m1", 6)
    return f"""WITH v1 AS (
  SELECT label, embedding FROM embeddings WHERE vec_id % 5 <> 0),
v2 AS (SELECT label, embedding FROM embeddings),
t AS (SELECT (SELECT COUNT(*) FROM v1) AS t1,
             (SELECT COUNT(*) FROM v2) AS t2,
             (SELECT COUNT(DISTINCT label) FROM v2) AS k),
c1 AS (SELECT label, COUNT(*) AS n1, {m} AS m1 FROM v1 GROUP BY label),
c2 AS (SELECT label, COUNT(*) AS n2, {m} AS m2 FROM v2 GROUP BY label)
SELECT c2.label, COALESCE(c1.n1, 0) AS n_v1, c2.n2 AS n_v2,
  {psi} AS psi_term, {shift} AS dim0_mean_shift
FROM c2 LEFT JOIN c1 USING (label) CROSS JOIN t
ORDER BY c2.label"""


@register("corpus_snapshot_drift_psi", _drift_oracle(), side_effects=True)
def corpus_snapshot_drift_psi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DATA-DRIFT MONITORING between two PINNED snapshot versions —
    the model-ops check only a versioned lakehouse can make
    reproducible: v1 (the corpus a model trained on) and v2 (the corpus
    after the next ingest) are immutable manifest versions, so the
    drift report can be recomputed bit-for-bit forever, long after the
    underlying table moved on. Per label bucket: population stability
    (the per-bucket PSI term with +1 smoothing, (p2−p1)·ln(p2/p1) —
    Σ terms is the classic PSI; the per-bucket rows localize WHICH
    stratum moved) and a feature-mean shift on the first embedding
    component (per-row values snapped to the 1e-6 grid, grid_avg so the
    cross-engine sum-order ULP can't flip the rounding — the
    functions/portable.py rule). Both versions are read through the
    manifest with the file lists pinned at plan time; counts, PSI, and
    shifts are value-hash gated against the DuckDB replay. Cost shape
    at 100 TB: two grouped aggregates over pinned scans + a |labels|
    join — one pass per version, no shuffle wider than the label
    cardinality. Beyond-reference (monitoring family; SURVEY.md §2.9
    adjacent)."""
    from hybrid_vector_search_spark.functions.portable import (
        grid_avg,
        round_portable,
    )
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def build():
        root = scratch_path(
            "snap_drift_" + sf_dir.strip("/").replace("/", "_")
        )
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding"
        )
        M.commit_append(root, emb.filter(F.col("vec_id") % 5 != 0), n_files=2)
        M.commit_append(root, emb.filter(F.col("vec_id") % 5 == 0), n_files=2)
        # snapshot totals and label cardinality are properties of the
        # two PINNED versions just committed — immutable for the life
        # of the root, so they are derived once here (one aggregate
        # per version) instead of re-running three count jobs on every
        # pass (r15, guide §1.2 — the same builder-only-value rule as
        # the pruned-scan family's cached max id)
        t1 = M.read_snapshot(spark, root, 1).count()
        row = (
            M.read_snapshot(spark, root, 2)
            .agg(
                F.count(F.lit(1)).alias("t2"),
                F.countDistinct("label").alias("k"),
                F.count(F.when(F.col("label").isNull(), 1)).alias("nulls"),
            )
            .first()
        )
        if row["nulls"]:
            # countDistinct drops NULL, so k would silently miss a bin
            from hybrid_vector_search_spark.errors import ValidationError

            raise ValidationError(
                f"corpus_snapshot_drift_psi: {row['nulls']} embeddings "
                f"row(s) in '{sf_dir}' have a NULL label; PSI bins need "
                f"every row labelled"
            )
        return root, t1, row["t2"], row["k"]

    root, t1, t2, k = artifact(spark, ("drift", sf_dir), build)
    s1 = M.read_snapshot(spark, root, 1)
    s2 = M.read_snapshot(spark, root, 2)
    g = round_portable(
        F.element_at("embedding", 1).cast("double"), 6
    )

    def _grouped(s, n_name, m_name):
        return s.groupBy("label").agg(
            F.count(F.lit(1)).alias(n_name),
            grid_avg(F.sum(g), F.count(F.lit(1)), 6, 6).alias(m_name),
        )

    c1 = _grouped(s1, "n1", "m1")
    c2 = _grouped(s2, "n2", "m2")
    p1 = (F.coalesce(F.col("n1"), F.lit(0)) + 1).cast("double") / F.lit(
        float(t1 + k)
    )
    p2 = (F.col("n2") + 1).cast("double") / F.lit(float(t2 + k))
    return (
        c2.join(c1, "label", "left")
        .select(
            "label",
            F.coalesce(F.col("n1"), F.lit(0)).alias("n_v1"),
            F.col("n2").alias("n_v2"),
            round_portable((p2 - p1) * F.log(p2 / p1), 6).alias(
                "psi_term"
            ),
            round_portable(F.col("m2") - F.col("m1"), 6).alias(
                "dim0_mean_shift"
            ),
        )
        .orderBy("label")
    )


# --------------------------- purge-registry completeness audit (r15)

_REG_AUDIT_SUBJECT = 13


def _reg_audit_oracle() -> str:
    s = _REG_AUDIT_SUBJECT
    return f"""SELECT * FROM (
  SELECT 'anon_counts' AS artifact, FALSE AS registered,
         CAST(-1 AS BIGINT) AS subject_rows
  UNION ALL
  SELECT 'doc_lengths', TRUE, CAST(0 AS BIGINT)
  UNION ALL
  SELECT 'events_snapshot', TRUE, CAST(0 AS BIGINT)
  UNION ALL
  SELECT 'tmp_export', FALSE,
         (SELECT COUNT(*) FROM events WHERE user_id = {s})
) ORDER BY artifact"""


@register(
    "corpus_purge_registry_audit", _reg_audit_oracle(), side_effects=True
)
def corpus_purge_registry_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PURGE-COMPLETENESS AUDIT (r14 verdict, next #4): the cascade
    erases every REGISTERED root, so the remaining failure mode at
    100 TB is a builder that persisted a derived artifact and FORGOT to
    register it — erasure then silently misses that root. The audit
    closes the loop from the STORAGE side:
    ``sources.purge.audit_purge_registry`` walks every manifest root
    actually persisted under the namespace (ground truth = the
    filesystem, not the registry), joins each against the registry, and
    counts subject-owned rows in its current snapshot (recorded
    ``owner_sql`` for registered roots; ordered owner PROBES resolved
    against the root's schema for unregistered ones).

    The fixture exercises every polarity the detector must separate:
    two registered roots (events by ``user_id``, per-document lengths
    by ``doc_id % 50``) cascade-purged to zero; a DELIBERATELY
    unregistered ``tmp_export`` copy of events still holding the
    subject — the detector fires with the exact surviving row count
    (the oracle recomputes it from the base table); and an
    ``anon_counts`` aggregate no probe can attribute, reported as
    ``subject_rows = -1`` (unattributable is itself a finding: erasure
    cannot even be verified there). Mirrors the two-polarity pattern of
    ``orders_quality_expectations``. Beyond-reference (governance
    family)."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M
    from hybrid_vector_search_spark.sources.purge import (
        audit_purge_registry,
        purge_user_cascade,
        register_derived_root,
    )

    schema = "artifact string, registered boolean, subject_rows long"
    def build():
        s = _REG_AUDIT_SUBJECT
        base = scratch_path(
            "purge_registry_audit_" + sf_dir.strip("/").replace("/", "_")
        )
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type"
        )
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.length("text").alias("n_chars_doc")
        )
        ev_root = os.path.join(base, "events_snapshot")
        dl_root = os.path.join(base, "doc_lengths")
        M.commit_append(ev_root, ev, n_files=2)
        M.commit_append(dl_root, docs, n_files=2)
        register_derived_root(
            base, "events_snapshot", ev_root, "user_id", source=sf_dir
        )
        register_derived_root(
            base, "doc_lengths", dl_root, "doc_id % 50", source=sf_dir
        )
        # the forgotten builder: a persisted export NOBODY registered
        M.commit_append(os.path.join(base, "tmp_export"), ev, n_files=1)
        # and an aggregate no owner probe can attribute
        M.commit_append(
            os.path.join(base, "anon_counts"),
            ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
            n_files=1,
        )
        purge_user_cascade(spark, base, s)
        audit = audit_purge_registry(
            spark, base, s, ["user_id", "doc_id % 50"]
        )
        return [tuple(r) for r in audit.collect()]

    rows = artifact(spark, ("reg_audit", sf_dir), build)
    return local_df(spark, rows, schema).orderBy("artifact")
