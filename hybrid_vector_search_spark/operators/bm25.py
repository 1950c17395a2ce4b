"""Persisted BM25 inverted index as a partitioned parquet layout.

The lexical twin of the vector-side layout story (IVF lists →
``partitionBy("list_id")``, LSH buckets → ``partitionBy("bucket")``): a
full-text index is postings — ``(term, doc, tf)`` — and at scale the
index IS the layout. Terms are hashed into a fixed number of bucket
partitions; querying scans ONLY the buckets of the query's terms (native
partition pruning), filters to the exact terms, and scores BM25 with the
per-term document frequencies broadcast from a tiny stats table.

Build once at ingest (one tokenize pass, two aggregations); per query the
plan reads |query terms| bucket directories regardless of corpus size —
the same bytes-∝-probes property the IVF probe has. Document length is
DENORMALIZED into the postings rows, so scoring needs no corpus-wide
join at query time; (N, total-token-count) live in a JSON sidecar like
the vector corpus meta (sources/loaders.py write_corpus_meta).

BM25 constants (k1 = 1.2, b = 0.75) and the exact expression shape match
plans/registry.py's RRF lexical leg, which is what lets a DuckDB oracle
replay scores to the rounding grid. No reference analogue — the
reference has no lexical retrieval at all (SURVEY.md §2.5 absent).
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hybrid_vector_search_spark.errors import ValidationError
from hybrid_vector_search_spark.scratch import (
    recover_staged,
    scratch_path,
    staged_commit,
    swap_directory,
)

DEFAULT_BUCKETS = 32
K1 = 1.2
B = 0.75


def tokenize(docs: DataFrame, id_col: str = "id", text_col: str = "text") -> DataFrame:
    """Whitespace tokenization over lower-cased trimmed text — one explode
    pass, identical on both engines (regexp split on ``\\s+``)."""
    return (
        docs.select(
            id_col,
            F.explode(
                F.split(F.lower(F.trim(text_col)), "\\s+")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
    )


def term_bucket(term: str, n_buckets: int = DEFAULT_BUCKETS) -> int:
    """Driver-side twin of the layout's bucket column: first 8 md5 hex
    chars of the term, mod n_buckets (operators/sampling.py portable
    hash — reproducible on any cluster shape and in SQL)."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def _bucket_col(n_buckets: int) -> F.Column:
    from hybrid_vector_search_spark.operators.sampling import portable_hash_key

    return (portable_hash_key(F.col("term")) % n_buckets).cast("int")


def _id_bucket_col(n_buckets: int, id_col: str) -> F.Column:
    """Partition key of the ``docids/`` registry: portable hash of the
    DOC id (the postings buckets hash terms — a doc's postings scatter
    across term buckets, so they can't answer "does this id exist?"
    without a full scan; the id-hashed registry can, reading only the
    batch's id buckets)."""
    from hybrid_vector_search_spark.operators.sampling import portable_hash_key

    return (portable_hash_key(F.col(id_col)) % n_buckets).cast("int")


def build_postings_layout(
    docs: DataFrame,
    path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    id_col: str = "id",
    text_col: str = "text",
) -> dict:
    """Write the inverted-index layout under ``path``:

    * ``postings/`` — ``(term, id, tf, dl)`` partitioned by the term's
      hash bucket, ONE file per bucket (pre-write ``repartition`` — the
      r7 IVF layout lesson: write-slivers, not bytes, dominate pruned
      point reads);
    * ``termstats/`` — tiny ``(term, df)`` table (broadcast at query
      time);
    * ``docids/`` — one-column doc-id registry partitioned by the ID's
      hash bucket; appends read ONLY the batch's id buckets to enforce
      the ids-must-be-NEW contract (:func:`append_postings_batch`);
    * ``meta.json`` — ``{"n": N docs, "t": total tokens, "n_buckets"}``.

    One tokenize pass feeds everything — literally: ``tok`` is cached
    for the build's four consumers (token count, per-doc lengths,
    postings, df stats; without the cache each would re-run the
    explode-tokenize scan, the build's dominant cost) and unpersisted
    before returning. Returns the meta dict.
    """
    tok = tokenize(docs, id_col, text_col).cache()
    try:
        n = docs.count()
        t = tok.count()
        dl = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
        postings = (
            tok.groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .join(dl, id_col)
            .withColumn("bucket", _bucket_col(n_buckets))
        )
        postings.repartition(n_buckets, "bucket").write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(os.path.join(path, "postings"))
        tok.groupBy("term").agg(
            F.countDistinct(id_col).alias("df")
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "termstats")
        )
        docs.select(
            id_col, _id_bucket_col(n_buckets, id_col).alias("idb")
        ).repartition(n_buckets, "idb").write.mode(
            "overwrite"
        ).partitionBy("idb").parquet(os.path.join(path, "docids"))
    finally:
        tok.unpersist()
    meta = {"n": int(n), "t": int(t), "n_buckets": int(n_buckets)}
    with open(os.path.join(path, "meta.json"), "w", encoding="utf-8") as f:
        json.dump(meta, f)
    return meta


def bm25_score_expr(n: int, t: int) -> F.Column:
    """The BM25 per-(doc, term) contribution over postings columns
    (tf, dl, df) — expression shape IDENTICAL to the RRF lexical leg
    (plans/registry.py) so float64 results match the SQL replay to the
    last ULP before rank-stabilizing rounds."""
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(K1) * (
        F.lit(1.0 - B)
        + (F.lit(B) * F.col("dl") * F.lit(n)) / F.lit(t)
    )
    return idf * ((F.col("tf") * F.lit(1.0 + K1)) / denom)


def bm25_topk_plan(
    spark: SparkSession,
    path: str,
    terms: list[str],
    k: int = 20,
    id_col: str = "id",
) -> DataFrame:
    """Query the persisted layout: partition-prune the postings scan to
    the query terms' buckets, filter to the exact terms, broadcast-join
    the per-term df, sum BM25 per doc, top-K on the 6-decimal-rounded
    score (rank-stable across engines). Reads |distinct term buckets|
    directories — corpus size never enters the I/O bound."""
    if not terms:
        raise ValidationError("bm25_topk_plan requires at least one term")
    # readers never see a half-committed append: complete (or refuse on
    # a lost stage) any pending commit first — the open_partitioned
    # contract, lexical edition
    recover_staged(path, lambda info: _commit_append(path, info))
    with open(os.path.join(path, "meta.json"), encoding="utf-8") as f:
        meta = json.load(f)
    buckets = sorted({term_bucket(tm, meta["n_buckets"]) for tm in terms})
    postings = spark.read.parquet(os.path.join(path, "postings"))
    stats = spark.read.parquet(os.path.join(path, "termstats")).filter(
        F.col("term").isin(list(terms))
    )
    hits = (
        postings.filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(list(terms)))
        .join(F.broadcast(stats), "term")
    )
    # explicit-count repartition on the agg key: this stage is the
    # byte-light CPU-heavy regime (a few hundred KB of posting rows,
    # each scoring a transcendental-laden expression), where AQE's
    # advisory-size rule coalesces the agg to ONE partition and runs it
    # single-threaded (~150 ms vs ~86 ms at the parity shape,
    # BASELINE_PARITY.md r9 diagnosis). A user-specified partition
    # count is exempt from AQE coalescing, so the agg keeps the
    # session's parallelism; the shuffle stays bounded by the probed
    # term buckets' rows (query-term-set-bounded, corpus-independent),
    # so forgoing the map-side combine costs nothing that scales.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    scored = hits.repartition(n_part, id_col).groupBy(id_col).agg(
        F.round(
            F.sum(bm25_score_expr(meta["n"], meta["t"])), 6
        ).alias("score")
    )
    from hybrid_vector_search_spark.operators.topk import topk

    return topk(scored, k, id_col=id_col)


def _commit_append(path: str, info: dict) -> None:
    """The append's staged-commit apply: (1) move each staged file
    (postings AND docids — ``info["files"]`` paths are
    layout-root-relative) into its live partition dir (``os.replace`` —
    atomic per file; a file already moved is absent from the stage, so
    replay skips it), (2) swap in the staged pre-merged termstats (the
    staged table IS the final state; a swap that already landed is a
    no-op), (3) rewrite meta from the marker."""
    stage = info["stage"]
    for rel in info["files"]:
        src = os.path.join(stage, rel)
        dst = os.path.join(path, rel)
        if os.path.exists(src):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
    swap_directory(
        os.path.join(stage, "termstats"), os.path.join(path, "termstats")
    )
    with open(os.path.join(path, "meta.json"), "w", encoding="utf-8") as f:
        json.dump(info["meta"], f)


def _assert_ids_new(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    id_col: str,
    n_buckets: int,
) -> None:
    """Enforce the append's ids-must-be-NEW contract: first that the
    batch itself carries no duplicate ids (one aggregate over the
    batch — a doc twice in one batch inflates tf/df/N exactly like a
    re-append), then against the ``docids/`` registry: read ONLY the
    id-hash buckets the batch
    touches (partition-pruned — the registry is hashed by ID precisely
    so this check never scans the corpus), inner-join with the batch
    ids, and raise on any hit. Layouts predating the registry (no
    ``docids/`` dir) skip the check — the contract is then docstring-
    only, as before."""
    n_total, n_distinct = new_docs.select(
        F.count(F.lit(1)), F.countDistinct(id_col)
    ).first()
    if int(n_total or 0) != int(n_distinct or 0):
        raise ValidationError(
            f"append_postings_batch: batch contains duplicate ids "
            f"({int(n_total or 0)} rows, {int(n_distinct or 0)} "
            f"distinct). A doc appearing twice in one batch would "
            f"silently inflate tf/df/N exactly like a re-append; "
            f"deduplicate the batch first."
        )
    docids_root = os.path.join(path, "docids")
    if not os.path.isdir(docids_root):
        return
    batch_ids = new_docs.select(
        F.col(id_col), _id_bucket_col(n_buckets, id_col).alias("idb")
    )
    touched = [
        int(r["idb"])
        for r in batch_ids.select("idb").distinct().collect()
    ]
    if not touched:
        return
    dups = (
        spark.read.parquet(docids_root)
        .filter(F.col("idb").isin(touched))
        .join(batch_ids.select(id_col).distinct(), id_col)
        .limit(5)
        .collect()
    )
    if dups:
        sample = sorted(r[id_col] for r in dups)
        raise ValidationError(
            f"append_postings_batch: batch contains ids already in the "
            f"layout at '{path}' (e.g. {sample}). Appends are ADD-only "
            f"— re-appending an existing doc would silently inflate "
            f"tf/df/N. Deduplicate the batch (anti-join against "
            f"docids/) or rebuild the layout."
        )


def append_postings_batch(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
) -> dict:
    """APPEND-ONLY incremental maintenance for the postings layout — the
    lexical side of the index-maintenance story (IVF has partition-local
    upsert + compaction, the streaming sink has drain-and-swap; BM25
    postings are the easy case because new documents only ADD rows):

    * new postings ``(term, id, tf, dl)`` land in their term-bucket
      directories (one new file per touched bucket per batch, bounded
      by batch cadence);
    * per-term df is ADDITIVE over disjoint doc sets, so the tiny
      termstats table is pre-merged (``old ∪ delta → sum``) into the
      staged batch and swapped in whole;
    * ``meta.json`` rewrites with ``n += |batch|, t += batch tokens``.

    CRASH SAFETY: everything is computed into an immutable staged
    directory, then the pure file-move commit goes through
    :func:`scratch.staged_commit` (the protocol is described there); a
    crash is repaired on the next append or query — a naive retry after
    a mid-append crash would double-append the batch's postings and
    silently inflate tf/df/N.

    CONTRACT — ENFORCED: ``new_docs`` ids must be NEW (no updates/
    deletes — those need a rewrite of the affected term buckets, which
    for text means effectively all of them; production text engines
    answer updates with segment tombstones + merges, out of scope
    here). A batch containing an id already in the layout raises
    ``ValidationError`` BEFORE anything is staged: a re-append would
    silently inflate tf/df/N — exactly the corruption class the
    staged commit closes for crashes, reachable here by
    simple misuse (VERDICT r8 what's-wrong #2). The check reads only
    the ``docids/`` id-hash buckets the batch touches (a pruned scan of
    a one-column table — an id WATERMARK would be cheaper still, but
    would wrongly reject legitimate interleaved-id appends like the
    80/20 split retrieval_bm25_incremental_topk certifies). BM25
    scores for OLD docs change after an append (N, avgdl, df move) —
    that is correct semantics, not staleness: the query plan always
    reads current stats.

    Returns the updated meta dict.
    """
    # never stack on a crash
    recover_staged(path, lambda info: _commit_append(path, info))
    with open(os.path.join(path, "meta.json"), encoding="utf-8") as f:
        meta = json.load(f)
    n_buckets = int(meta["n_buckets"])
    _assert_ids_new(spark, path, new_docs, id_col, n_buckets)
    tok = tokenize(new_docs, id_col, text_col).cache()
    try:
        n_delta = new_docs.count()
        t_delta = tok.count()
        dl = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
        postings_new = (
            tok.groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .join(dl, id_col)
            .withColumn("bucket", _bucket_col(n_buckets))
        )
        stage = scratch_path("bm25_append_stage")
        touched = postings_new.select("bucket").distinct().count()
        postings_new.repartition(max(touched, 1), "bucket").write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(os.path.join(stage, "postings"))
        (
            spark.read.parquet(os.path.join(path, "termstats"))
            .unionByName(
                tok.groupBy("term").agg(
                    F.countDistinct(id_col).alias("df")
                )
            )
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(stage, "termstats"))
        )
        new_docs.select(
            id_col, _id_bucket_col(n_buckets, id_col).alias("idb")
        ).repartition(1, "idb").write.mode("overwrite").partitionBy(
            "idb"
        ).parquet(os.path.join(stage, "docids"))
    finally:
        tok.unpersist()
    files = []
    for sub, part_prefix in (("postings", "bucket="), ("docids", "idb=")):
        subroot = os.path.join(stage, sub)
        if not os.path.isdir(subroot):
            continue
        for entry in os.scandir(subroot):
            if entry.name.startswith(part_prefix):
                for fn in os.listdir(entry.path):
                    if fn.endswith(".parquet"):
                        files.append(os.path.join(sub, entry.name, fn))
    meta = {
        **meta,
        "n": int(meta["n"]) + int(n_delta),
        "t": int(meta["t"]) + int(t_delta),
    }
    info = {"stage": stage, "files": sorted(files), "meta": meta}
    staged_commit(path, info, lambda i: _commit_append(path, i))
    return meta
