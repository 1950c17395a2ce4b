"""Strategy dispatch evidence, streaming ANN-index ingest, bucketed/day-partitioned storage layouts.

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
from hybrid_vector_search_spark.functions.portable import (
    round_portable,
    round_portable_sql,
)
from hybrid_vector_search_spark.functions.predicates import (
    filters_to_sql,
)
from hybrid_vector_search_spark.operators.topk import topk
from hybrid_vector_search_spark.queryvecs import query_vector, sql_array_literal
from hybrid_vector_search_spark.session import artifact
from hybrid_vector_search_spark.sources.loaders import (
    load_table,
)
from hybrid_vector_search_spark.streaming.pipeline import _drain

from hybrid_vector_search_spark.plans.registry import (  # noqa: E402
    local_df,
    CORPUS_CTE,
    ORACLES,
    load_corpus,
    register,
)
from hybrid_vector_search_spark.plans.registry_hybrid_ann import (  # noqa: E402
    ANN_IVF_K,
    ANN_IVF_NPROBE,
    _ann_ivf_centroids,
    _ann_ivf_fixed_index,
    _ann_ivf_oracle,
    _ann_ivf_probed,
)
from hybrid_vector_search_spark.plans.registry_relational import (  # noqa: E402
    _STREAM_PARTS,
    _landing,
    _sink_sorted,
    _stream_parts,
)
from hybrid_vector_search_spark.plans.registry_lakehouse import (  # noqa: E402
    _changelog_root,
)

# --------------------------- S2 / P5 / K6 driver-checked evidence (r5) --


@register(
    "corpus_meta_sidecar",
    """SELECT COUNT(*) AS n, MIN(len(embedding)) AS d,
  (MAX(ABS(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) - 1.0))
     < 0.002) AS normalized
FROM embeddings""",
side_effects=True,
)
def corpus_meta_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 end-to-end through the driver gate: write the vector-corpus
    JSON sidecar (one aggregation pass over the corpus — N, D, and the
    unit-L2 check at the reference's tolerance; sources/loaders.py
    write_corpus_meta, reference vectors.meta.json src/dataio/
    loaders.py:60-70), then LOAD it back through the validating reader
    (required-keys hard error, :66-69) and return what the sidecar
    says. The oracle recomputes N/D/normalized straight from the
    parquet, so a wrong count, a ragged dim, or a broken norm check
    hash-mismatches."""
    import os as _os

    from hybrid_vector_search_spark.scratch import scratch_root
    from hybrid_vector_search_spark.sources.loaders import (
        load_corpus_meta,
        write_corpus_meta,
    )

    corpus = load_corpus(spark, sf_dir, with_documents=False)
    path = _os.path.join(
        scratch_root(),
        "hvs_meta_" + sf_dir.strip("/").replace("/", "_") + ".json",
    )
    write_corpus_meta(corpus, path)
    back = load_corpus_meta(path)
    return local_df(spark, 
        [(int(back["N"]), int(back["D"]), bool(back["normalized"]))],
        "n LONG, d LONG, normalized BOOLEAN",
    )


@register(
    "strategy_dispatch_params",
    """SELECT * FROM (VALUES
  ('exact', 'exact', CAST(NULL AS BIGINT)),
  ('post_filter', 'ivfflat',
   (SELECT GREATEST(1, LEAST(GREATEST(CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT),
                                      64), 4096, COUNT(*)))
    FROM embeddings)),
  ('post_filter_lsh', 'lsh', CAST(4 AS BIGINT)),
  ('pre_filter', 'exact', CAST(NULL AS BIGINT)),
  ('random', 'exact', CAST(NULL AS BIGINT))
) AS t(backend, index_type, param)
ORDER BY backend""",
side_effects=True,
)
def strategy_dispatch_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 dispatch × K7 introspection through the driver gate: every
    name in the strategy registry (reference src/harness/run.py:71-87)
    is dispatched through ``get_backend`` and introspected with
    ``get_index_params`` (reference src/dataio/loaders.py:220-232).
    The oracle's expectations are DATA-DEPENDENT where the contract is:
    the IVF row's nlist must equal the auto-size formula √N clamped to
    [64, 4096] (never null before the first build — ADVICE r3 #2)
    recomputed by SQL from the corpus count, so dispatching the wrong
    class, a lazy-build regression, or a formula drift all
    hash-mismatch. param carries the backend's primary knob (nlist /
    nbits), NULL for the exact-scan strategies."""
    from hybrid_vector_search_spark.operators.strategies import (
        get_backend,
        get_index_params,
    )

    corpus = load_corpus(spark, sf_dir, with_documents=False)
    n = corpus.count()
    rows = []
    for name in ("exact", "post_filter", "post_filter_lsh", "pre_filter", "random"):
        params = get_index_params(get_backend(name, corpus, n=n))
        param = params.get("nlist", params.get("nbits"))
        rows.append(
            (name, params["type"], int(param) if param is not None else None)
        )
    return local_df(spark, 
        rows, "backend STRING, index_type STRING, param LONG"
    ).orderBy("backend")


_FALLBACK_CASE = {"seed": 31, "filters": {"lang": {"in": ["en", "de"]}}, "k": 10}


def _fallback_oracle() -> str:
    from pyspark.sql import types as T

    qlit = sql_array_literal(query_vector(_FALLBACK_CASE["seed"]))
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("lang", T.StringType())]
    )
    where = filters_to_sql(schema, _FALLBACK_CASE["filters"])
    return f"""{CORPUS_CTE}
SELECT id, ROUND(list_dot_product(embedding::DOUBLE[], {qlit}), 6) AS score,
       'ivf skipped (prefer_ivf=False) to hnsw' AS fallback_note
FROM corpus WHERE {where}
ORDER BY list_dot_product(embedding::DOUBLE[], {qlit}) DESC, id ASC
LIMIT {_FALLBACK_CASE["k"]}"""


@register("strategy_fallback_topk", _fallback_oracle())
def strategy_fallback_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 fallback chain through the driver gate (reference
    ``load_vectors_index``, src/dataio/loaders.py:176-218): with the
    preferred IVF rung declined (``prefer_ivf=False``), the chain must
    land on the HNSW rung and record how it got there — the
    ``fallback_note`` the §2.10 stats surface carries is returned as a
    column and hash-checked against the literal the chain promises. The
    landed backend then answers a filtered top-K; at driver scales
    (N ≤ max(k_ladder) = 1000) the HNSW candidate stage is degenerate-
    exact (same argument as ann_hnsw_topk), so the oracle is the exact
    filtered top-K — a wrong rung, a broken note, or a broken search
    all hash-mismatch."""
    from hybrid_vector_search_spark.operators.strategies import (
        load_corpus_index,
    )

    corpus = load_corpus(spark, sf_dir, with_documents=True)
    backend = load_corpus_index(corpus, prefer_ivf=False)
    plan, _obs = backend.plan(
        query_vector(_FALLBACK_CASE["seed"]),
        _FALLBACK_CASE["filters"],
        _FALLBACK_CASE["k"],
    )
    return plan.select(
        "id",
        F.round("score", 6).alias("score"),
        F.lit(backend.fallback_note).alias("fallback_note"),
    )


_EMBED_N = 200


@register(
    "etl_embed_stub_profile",
    f"""SELECT doc_id, CAST(384 AS BIGINT) AS dim, CAST(1.0 AS DOUBLE) AS l2
FROM documents WHERE doc_id < {_EMBED_N} ORDER BY doc_id""",
)
def etl_embed_stub_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1's UDF surface through the driver gate: the batched text-
    embedding pandas UDF (sources/etl.py embed_text_udf — reference
    src/harness/run.py:131-141 runtime SentenceTransformer encode),
    exercised end-to-end on the documents table via the explicitly
    opted-in deterministic stub (no model weights in this container;
    the real path loads the model once per executor in the same
    iterator shape). What the hash check proves about the UDF contract:
    one vector per row with the declared 384-dim shape, unit-L2 within
    float32 tolerance (norm rounds to 1.0 at 6 dp), for every row —
    shape or normalization regressions hash-mismatch. The vector
    VALUES are intentionally not oracle-replayable (numpy RNG); their
    determinism is pinned by tests/test_etl.py."""
    from hybrid_vector_search_spark.sources.etl import embed_text_udf

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _EMBED_N
    )
    emb = docs.select(
        "doc_id", embed_text_udf(allow_stub=True)(F.col("text")).alias("e")
    )
    sq = F.aggregate(
        F.transform("e", lambda x: x.cast("double") * x),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return emb.select(
        "doc_id",
        F.size("e").cast("long").alias("dim"),
        F.round(F.sqrt(sq), 6).alias("l2"),
    ).orderBy("doc_id")


_STATS_CASE = {"seed": 43, "filters": {"label": {"in": [0, 4, 9]}}, "k": 10}


def _stats_oracle() -> str:
    from pyspark.sql import types as T

    qlit = sql_array_literal(query_vector(_STATS_CASE["seed"]))
    schema = T.StructType([T.StructField("label", T.IntegerType())])
    where = filters_to_sql(schema, _STATS_CASE["filters"])
    k = _STATS_CASE["k"]
    return f"""{CORPUS_CTE},
allowed AS (SELECT id, ROUND(list_dot_product(embedding::DOUBLE[], {qlit}), 6) AS s
            FROM corpus WHERE {where}),
top AS (SELECT id, s, ROW_NUMBER() OVER (ORDER BY s DESC, id ASC) AS rn
        FROM allowed)
SELECT 'exact' AS method, CAST({k} AS BIGINT) AS k,
       (SELECT COUNT(*) FROM allowed) AS scored_vectors,
       (SELECT id FROM top WHERE rn = 1) AS top_id,
       (SELECT s FROM top WHERE rn = {k}) AS kth_score"""


@register("harness_stats_exact", _stats_oracle(), side_effects=True)
def harness_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10's stats-row assembly through the driver gate: a REAL
    ``backend.search()`` call (driver-side collect, the harness path —
    reference src/backend_interface.py:7-31 + the 14-field results row
    of src/harness/run.py) whose deterministic stats fields come back
    as a 1-row DataFrame. The registry corpus is resident, so the
    search answers from the driver-resident serve tier and
    scored_vectors is the count of the tier's filter mask; on an
    uncached handle it flows through the plan's ``Observation`` (the
    row count of the filtered corpus measured by the SAME job that
    scored it — U7's instrumentation shape). Both routes drop the
    wall-clock fields the oracle cannot replay; the k-th score and top
    id pin the ids/scores arrays. A broken mask or Observation, a
    dropped filter, or a tie-break regression all hash-mismatch."""
    from hybrid_vector_search_spark.operators.strategies import get_backend

    corpus = load_corpus(spark, sf_dir)
    backend = get_backend("exact", corpus)
    ids, stats = backend.search(
        query_vector(_STATS_CASE["seed"]),
        _STATS_CASE["filters"],
        _STATS_CASE["k"],
    )
    return local_df(spark, 
        [
            (
                stats["method"],
                int(stats["K"]),
                int(stats["scored_vectors"]),
                int(ids[0]),
                round(float(stats["scores"][_STATS_CASE["k"] - 1]), 6),
            )
        ],
        "method STRING, k LONG, scored_vectors LONG, top_id LONG, kth_score DOUBLE",
    )


@register(
    "streaming_view_purchase_join",
    f"""SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
  (epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS gap_sec,
  {round_portable_sql('p.value', 2)} AS purchase_value
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
ORDER BY view_id, purchase_id""",
    side_effects=True,
)
def streaming_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM event-time-bounded inner join (the attribution
    join): two live streams over the same landing zone — views and
    purchases — paired per user within a 30-minute conversion window,
    with watermarks on BOTH sides bounding the join state (a buffered
    row is evicted once the other side's watermark passes its reach).
    The seventh streaming operator family: windows, sessions, dedup,
    stream-static enrich, custom state, and now the two-stream join.
    Inner matches emit as soon as both sides arrive, so the availableNow
    drain emits exactly the batch join's pairs — the oracle is the plain
    SQL time-bounded join, value-hash checked."""
    from hybrid_vector_search_spark.streaming.pipeline import (
        read_events_stream,
        run_available_now,
        view_purchase_join_stream,
    )

    land = _landing(spark, sf_dir, "events")
    views = read_events_stream(spark, land).filter(
        F.col("event_type") == "view"
    )
    buys = read_events_stream(spark, land).filter(
        F.col("event_type") == "purchase"
    )
    joined = view_purchase_join_stream(views, buys)
    table = "stream_view_purchase"
    run_available_now(
        joined,
        table,
        output_mode="append",
        # the batch-join oracle equality assumes ONE data micro-batch: a
        # split drain advances both watermarks at batch 0 and silently
        # drops later-batch rows as late input (same hazard class as the
        # stateful-totals query; ADVICE r2 #5)
        expect_single_data_batch=True,
        # FIXED sizing, deliberately exempt from the volume-adaptive
        # _stream_parts: a stream-stream join keeps TWO state stores per
        # partition and its per-row work is a hash probe, so the
        # per-partition constant dominates — the r7 ×8 probe A/B measured
        # 2.5 s at 4 partitions vs 4.8 s at 32 on the same data. The
        # stateful AGGREGATIONS scale the opposite way (heavy per-group
        # state work) and stay adaptive.
        shuffle_partitions=_STREAM_PARTS,
        # inner matches emit eagerly in their arrival batch; the trailing
        # zero-row flush batch only evicts expired join-state buffers and
        # re-runs the whole plan to do it (r6 A/B: 2.05→1.22 s, output
        # identical — see run_available_now docstring for the safety rule)
        flush_no_data_batch=False,
    )
    return _sink_sorted(
        spark, table, "view_id", "purchase_id"
    ).select(
        "view_id",
        "purchase_id",
        "user_id",
        "gap_sec",
        round_portable("value", 2).alias("purchase_value"),
    )


# ----------------------------------------- streaming ANN-index ingest

STREAM_IVF_QSEED = 31


def _session_root(spark: SparkSession, kind: str, sf_dir: str) -> str:
    """A fresh scratch root ``<kind>_<sf>`` per session: the sink and
    checkpoint dirs of one streaming query's drains."""
    from hybrid_vector_search_spark.scratch import scratch_path

    return artifact(
        spark, (kind, sf_dir),
        lambda: scratch_path(f"{kind}_" + sf_dir.strip("/").replace("/", "_")),
    )


@register(
    "streaming_ivf_ingest",
    _ann_ivf_oracle(STREAM_IVF_QSEED),
    side_effects=True,
)
def streaming_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS ANN-index ingest — the streaming twin of the persisted
    IVF layout (ann_ivf_persisted_topk): embeddings land as a file
    stream, each micro-batch assigns ``list_id`` with the fixed coarse
    quantizer (operators/ivf.py assign_list_udf — a STATELESS map, no
    state store, no watermark), and the exactly-once file sink writes
    ``partitionBy("list_id")`` parquet through its write-ahead commit
    log. The index never needs a rebuild because the index IS the
    partitioned layout: FAISS keeps a mutable in-memory structure the
    reference must re-add into (src/dataio/loaders.py:106-120); here
    append-only ingest keeps the layout fresh and a restarted drain
    re-ingests nothing (the sink's exactly-once contract, pinned in
    tests/test_streaming.py). The returned plan is the standard probe
    over the freshly-ingested layout — partition-pruned to the probed
    lists — and the oracle replays assignment, probe, and top-K over the
    same rows, so the hash certifies the whole ingest→probe loop."""
    import os

    from hybrid_vector_search_spark.operators.ivf import IVFIndex
    from hybrid_vector_search_spark.streaming.pipeline import sink_to_parquet

    land = _landing(spark, sf_dir, "embeddings")
    root = _session_root(spark, "stream_ivf", sf_dir)
    out = os.path.join(root, "index")
    ckpt = os.path.join(root, "ckpt")

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    cents = _ann_ivf_centroids()
    from hybrid_vector_search_spark.operators.ivf import assign_list_udf

    stream = (
        spark.readStream.schema(schema)
        .parquet(land)
        .withColumn("list_id", assign_list_udf(cents)(F.col("embedding")))
        .withColumnRenamed("vec_id", "id")
    )
    sink_to_parquet(stream, out, ckpt, partition_by="list_id")

    index = IVFIndex(
        spark.read.parquet(out), cents, partitioned_path=out
    )
    plan, _probed = index.search_plan(
        query_vector(STREAM_IVF_QSEED), k=ANN_IVF_K, nprobe=ANN_IVF_NPROBE
    )
    return plan.select("id", F.round("score", 6).alias("score"))


STREAM_TOPK_QSEED = 61


@register(
    "streaming_topk_view",
    f"""SELECT vec_id AS id,
  ROUND(list_dot_product(embedding::DOUBLE[], {sql_array_literal(query_vector(STREAM_TOPK_QSEED))}), 6) AS score
FROM embeddings
ORDER BY list_dot_product(embedding::DOUBLE[], {sql_array_literal(query_vector(STREAM_TOPK_QSEED))}) DESC, vec_id ASC
LIMIT {ANN_IVF_K}""",
    side_effects=True,
)
def streaming_topk_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS top-K materialized view — incremental view maintenance
    for the query every dashboard wants ("current best K matches for X,
    live"): each micro-batch computes its own bounded top-K candidates
    (TakeOrderedAndProject inside ``foreachBatch``), merges them with
    the ≤K-row persisted view state, and swaps the refreshed view in
    through ``scratch.swap_directory`` (the staged-commit protocol is
    described at ``scratch.staged_commit``; a crashed swap is recovered
    before the next batch reads the view) — so per-batch cost is
    O(batch + K·log K) and the view is always a K-row parquet any
    reader can scan without touching the stream. Top-K is an algebraic
    aggregate (merge of two top-Ks is the top-K of their union), which
    is what makes the incremental maintenance EXACT, not approximate:
    the oracle computes the batch top-K over everything landed, and the
    hash certifies the incrementally-maintained view equals it."""
    import os as _os

    from pyspark.sql import types as T

    from hybrid_vector_search_spark.functions.vector import dot_score_column
    from hybrid_vector_search_spark.scratch import (
        recover_swap,
        swap_directory,
        swap_stage,
    )

    land = _landing(spark, sf_dir, "embeddings")
    root = _session_root(spark, "stream_topk", sf_dir)
    state = _os.path.join(root, "view")
    ckpt = _os.path.join(root, "ckpt")

    qvec = query_vector(STREAM_TOPK_QSEED)

    def merge_batch(batch_df, _batch_id):
        cand = topk(
            batch_df.select(
                F.col("vec_id").alias("id"),
                dot_score_column(qvec).alias("score"),
            ),
            ANN_IVF_K,
        )
        recover_swap(state)  # a crash between renames leaves no view
        if _os.path.isdir(state):
            # dedup by id BEFORE the cut: the foreachBatch contract is
            # at-least-once — a replayed micro-batch (crash between the
            # state swap and the checkpoint commit) re-merges rows the
            # view already holds, and without this a duplicate id would
            # occupy two of the K slots and evict a legitimate row.
            # max(score) == the score (deterministic per id), so the
            # dedup is exact, and the merge becomes idempotent.
            cand = topk(
                batch_df.sparkSession.read.parquet(state)
                .unionByName(cand)
                .groupBy("id")
                .agg(F.max("score").alias("score")),
                ANN_IVF_K,
            )
        stage = swap_stage(state)
        cand.coalesce(1).write.mode("overwrite").parquet(stage)
        swap_directory(stage, state)

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    _drain(
        spark.readStream.schema(schema)
        .parquet(land)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt),
        "streaming_topk_view",
    )
    return (
        spark.read.parquet(state)
        .select("id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("id").asc())
    )


@register(
    "streaming_incremental_rollup",
    f"""SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
  COUNT(*) AS n_events,
  {round_portable_sql('SUM(value)', 2)} AS total_value
FROM events GROUP BY day, event_type
ORDER BY day, event_type""",
    side_effects=True,
)
def streaming_incremental_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTINUOUSLY-MAINTAINED rollup table — the streaming face of
    events_incremental_rollup (operators/rollup.py): each micro-batch
    of the events landing stream merges its algebraic partials into
    the day-partitioned table inside ``foreachBatch``, rewriting only
    the batch's touched days, so the table is always serving-fresh
    without any full recompute. EXACTLY-ONCE under foreachBatch's
    at-least-once replay contract: the micro-batch id is committed to
    ``rollup_meta.json`` INSIDE the merge's marker window (the same
    staged commit that moves the partitions), so a replayed batch sees
    ``batch_id <= last_batch_id`` and skips — a crash on either side
    of the commit resolves to exactly one application, the recipe
    Structured Streaming documents for idempotent foreachBatch sinks.
    The oracle aggregates everything landed from scratch: a hash match
    proves stream-maintained ≡ recomputed, double-count-free."""
    import os as _os

    from pyspark.sql import types as T

    from hybrid_vector_search_spark.operators.rollup import (
        open_rollup,
        streaming_merge_batch,
    )

    land = _landing(spark, sf_dir, "events")
    root = _session_root(spark, "stream_rollup", sf_dir)
    table = _os.path.join(root, "table")
    ckpt = _os.path.join(root, "ckpt")

    def merge_batch(batch_df, batch_id):
        # exactly-once body lives in operators/rollup.py (meta-gated
        # bootstrap + batch-id watermark), unit-tested in
        # tests/test_rollup.py
        streaming_merge_batch(table, batch_df, batch_id)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    _drain(
        spark.readStream.schema(schema)
        # several files per micro-batch: the drain exercises bootstrap
        # AND repeated partition-local merges, not one bulk build
        .option("maxFilesPerTrigger", 2)
        .parquet(land)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt),
        "streaming_incremental_rollup",
    )
    return (
        open_rollup(spark, table)
        .select(
            F.col("day").cast("string").alias("day"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("sum_value").alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


@register(
    "streaming_snapshot_ingest",
    "SELECT vec_id AS id, label FROM embeddings ORDER BY id",
    side_effects=True,
)
def streaming_snapshot_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The versioned-manifest layout as an EXACTLY-ONCE STREAMING SINK
    (sources/manifest.py meets foreachBatch): each micro-batch of the
    embeddings landing commits one snapshot version — O(batch), no
    existing bytes move — with the micro-batch id riding IN the
    manifest, so the watermark and the data are one atomic rename and
    an at-least-once replay (batch_id ≤ last committed) skips instead
    of double-appending. What this buys over the plain parquet
    streaming sink's _spark_metadata log: ordinary BATCH readers get
    both isolation and time travel for free — any mid-stream version
    is a pinned, reproducible corpus snapshot (the \"train on the
    corpus as of batch N\" read), no commit-log-aware reader required.
    The oracle compares the LATEST snapshot against the full raw
    table: a hash match proves the stream of commits lost and
    duplicated nothing."""
    import os as _os

    from pyspark.sql import types as T

    from hybrid_vector_search_spark.sources import manifest as M

    land = _landing(spark, sf_dir, "embeddings")
    root = _session_root(spark, "stream_snap", sf_dir)
    table = _os.path.join(root, "table")
    ckpt = _os.path.join(root, "ckpt")

    def commit_batch(batch_df, batch_id):
        last = M.last_committed_meta(table, "batch_id", -1)
        if batch_id <= last:
            return  # at-least-once replay of a committed batch
        M.commit_append(
            table,
            batch_df.select("vec_id", "label"),
            meta={"batch_id": int(batch_id)},
        )
        # every micro-batch is one commit: keep the descriptor bounded
        M.maybe_compact_sidecars(table)

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    _drain(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)  # several commits, not one bulk
        .parquet(land)
        .writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", ckpt),
        "streaming_snapshot_ingest",
    )
    return (
        M.read_snapshot(spark, table)
        .select(F.col("vec_id").alias("id"), "label")
        .orderBy("id")
    )


@register(
    "streaming_cdc_replica",
    """WITH b AS (SELECT vec_id AS id, label FROM embeddings),
m AS (SELECT MAX(id) + 1 AS n FROM b),
final AS (
  SELECT id, label FROM b WHERE id % 5 <> 0
  UNION ALL
  SELECT id + n AS id, label FROM b, m WHERE id % 4 = 0)
SELECT 3 AS applied_version, 2 AS replica_data_files,
  1 AS replica_delete_files, id, label
FROM final ORDER BY id""",
    side_effects=True,
)
def streaming_cdc_replica(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAIL THE COMMIT LOG AS A STREAM — Delta's change-data-feed shape
    on the versioned-manifest layout: the source table's
    ``manifest-*.json`` files ARE a streaming source (each commit is
    one new immutable file — the exact contract Spark's file stream
    wants), so a continuously-running replica subscribes to the table
    itself, no side-channel queue. Per micro-batch the replica pulls
    every not-yet-applied version's op-aware delta
    (sources/manifest.py snapshot_changelog) and applies it
    MERGE-ON-READ: insert-only deltas land as an O(batch) append,
    delete-only deltas as an O(keys) equality-delete commit — the
    replica never rewrites itself — with the applied source version
    riding IN the replica's own manifest commit, so an at-least-once
    replay skips atomically (the same marker-in-commit trick as
    streaming_snapshot_ingest, but per source VERSION, finer than per
    micro-batch). Row-preserving rewrites on the source emit an empty
    delta and are skipped without a commit. The structural proof rides
    in the hash contract: after v1-bootstrap + v2-append + v3-delete +
    v4-compaction the replica must hold exactly 2 data files and 1
    LIVE delete file (a replica that rewrote itself, double-applied a
    replay, or resurrected deleted rows mismatches the literals or
    the rows). Mixed insert+delete deltas are out of this replica's
    scope (two commits cannot be atomic) and raise. Beyond-reference
    (SURVEY.md §2.9 + streaming family)."""
    import os as _os

    from pyspark.sql import types as T

    from hybrid_vector_search_spark.errors import ValidationError
    from hybrid_vector_search_spark.sources import manifest as M

    src = _changelog_root(spark, sf_dir)
    root = _session_root(spark, "stream_cdc", sf_dir)
    replica = _os.path.join(root, "replica")
    ckpt = _os.path.join(root, "ckpt")

    def apply_versions(batch_df, batch_id):
        # the batch's rows only SIGNAL that new commits exist; the
        # replica pulls pending versions from the source root itself,
        # so delivery order and batching cannot misapply a delta
        seen = max(
            (int(r["version"]) for r in batch_df.collect()), default=-1
        )  # bounded: one row per source commit
        if seen < 0:
            return
        last = int(M.last_committed_meta(replica, "applied_version", 0))
        for v in range(max(last + 1, 1), seen + 1):
            if v == 1:  # bootstrap: the pinned v1 snapshot, one commit
                M.commit_append(
                    replica,
                    M.read_snapshot(spark, src, 1),
                    n_files=1,
                    meta={"applied_version": 1},
                )
                continue
            delta = M.snapshot_changelog(spark, src, v - 1, v)
            ins = delta.filter(F.col("change") == "insert").select(
                "id", "label"
            )
            dels = delta.filter(F.col("change") == "delete").select("id")
            n_ins, n_del = ins.count(), dels.count()
            if n_ins and n_del:
                raise ValidationError(
                    "streaming_cdc_replica: mixed insert+delete delta "
                    f"at source version {v} — two commits cannot be "
                    "atomic; out of this replica's scope"
                )
            if n_ins:
                M.commit_append(
                    replica, ins, n_files=1, meta={"applied_version": v}
                )
            elif n_del:
                M.commit_delete_where(
                    replica, dels, "id", meta={"applied_version": v}
                )
            # replica follows the source forever: bound its descriptor
            M.maybe_compact_sidecars(replica)
            # empty delta (row-preserving rewrite): no commit, no
            # marker advance — re-deriving it on replay is a no-op

    _drain(
        spark.readStream.schema(
            T.StructType([T.StructField("version", T.LongType())])
        )
        .option("maxFilesPerTrigger", 1)  # one commit per micro-batch
        .json(_os.path.join(src, "manifest-*.json"))
        .writeStream.foreachBatch(apply_versions)
        .option("checkpointLocation", ckpt),
        "streaming_cdc_replica",
    )
    applied = int(M.last_committed_meta(replica, "applied_version", -1))
    n_data = len(M.snapshot_files(replica)[1])
    n_del_files = len(M.snapshot_delete_files(replica))
    return M.read_snapshot(spark, replica).select(
        F.lit(applied).alias("applied_version"),
        F.lit(n_data).alias("replica_data_files"),
        F.lit(n_del_files).alias("replica_delete_files"),
        "id",
        "label",
    ).orderBy("id")


ANN_RANGE_QSEED = 53
ANN_RANGE_TAU = 0.2


def _ann_ivf_range_oracle() -> str:
    dots = ", ".join(
        f"list_dot_product(e, {sql_array_literal(c)})"
        for c in _ann_ivf_centroids()
    )
    qlit = sql_array_literal(query_vector(ANN_RANGE_QSEED))
    probed = ", ".join(str(i) for i in _ann_ivf_probed(ANN_RANGE_QSEED))
    return f"""WITH assigned AS (
  SELECT id, e, list_position(d, list_max(d)) - 1 AS list_id
  FROM (SELECT vec_id AS id, embedding::DOUBLE[] AS e, [{dots}] AS d
        FROM embeddings))
SELECT id, ROUND(list_dot_product(e, {qlit}), 6) AS score
FROM assigned
WHERE list_id IN ({probed})
  AND list_dot_product(e, {qlit}) >= {ANN_RANGE_TAU}
ORDER BY score DESC, id ASC"""


@register("ann_ivf_range_search", _ann_ivf_range_oracle())
def ann_ivf_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE search through the IVF index — vector_range_search's scale
    path: partition-prune to the probed lists, then the K-free
    threshold scan within them (FAISS ``range_search`` on an IVF index
    has exactly this shape). Still heap-free and merge-free — every
    pruned partition emits its qualifying rows independently — and
    bytes read stay ∝ nprobe/nlist. ANN semantics: rows above τ in
    unprobed lists are (deliberately) not visited; the oracle replays
    assignment, probe, and threshold, so the hash certifies the pruned
    semantics exactly."""
    from hybrid_vector_search_spark.functions.vector import dot_score_column

    index = _ann_ivf_fixed_index(spark, sf_dir, persist=True)
    probed = index.probe(query_vector(ANN_RANGE_QSEED), ANN_IVF_NPROBE)
    pruned = index.assigned.filter(F.col("list_id").isin(probed))
    scored = pruned.select(
        "id",
        dot_score_column(query_vector(ANN_RANGE_QSEED)).alias("score"),
    ).filter(F.col("score") >= ANN_RANGE_TAU)
    return scored.select(
        "id", F.round("score", 6).alias("score")
    ).orderBy(F.col("score").desc(), F.col("id").asc())


STREAM_RANGE_QSEED = 59
STREAM_RANGE_TAU = 0.2


@register(
    "streaming_range_alerts",
    f"""SELECT vec_id AS id,
  ROUND(list_dot_product(embedding::DOUBLE[], {sql_array_literal(query_vector(STREAM_RANGE_QSEED))}), 6) AS score
FROM embeddings
WHERE list_dot_product(embedding::DOUBLE[], {sql_array_literal(query_vector(STREAM_RANGE_QSEED))}) >= {STREAM_RANGE_TAU}
ORDER BY score DESC, id ASC""",
    side_effects=True,
)
def streaming_range_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS similarity alerting — range search as a stream: each
    arriving embedding is scored against the standing query with the
    JVM kernel and emitted iff it clears τ. Completely STATELESS (a
    map + filter per micro-batch: no state store, no watermark, no
    shuffle), which is why the streaming form is exactly the batch
    range scan run incrementally — and the oracle IS the batch range
    search over the same landed rows, so the hash certifies
    batch/stream parity. The production shape for "page me when
    something too close to X lands" (dedup guards, contamination
    tripwires, abuse fingerprints) at any ingest rate: per-batch cost
    is the batch's rows × one fused projection."""
    from pyspark.sql import types as T

    from hybrid_vector_search_spark.functions.vector import dot_score_column
    from hybrid_vector_search_spark.streaming.pipeline import (
        run_available_now,
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    alerts = (
        spark.readStream.schema(schema)
        .parquet(_landing(spark, sf_dir, "embeddings"))
        .select(
            F.col("vec_id").alias("id"),
            dot_score_column(
                query_vector(STREAM_RANGE_QSEED)
            ).alias("score"),
        )
        .filter(F.col("score") >= STREAM_RANGE_TAU)
    )
    table = "stream_range_alerts"
    run_available_now(
        alerts,
        table,
        output_mode="append",
        shuffle_partitions=4,
        flush_no_data_batch=False,  # stateless map: nothing emits late
    )
    return (
        spark.table(table)
        .select("id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("id").asc())
    )


STREAM_COMPACT_QSEED = 47


@register(
    "streaming_ivf_compacted_topk",
    _ann_ivf_oracle(STREAM_COMPACT_QSEED),
    side_effects=True,
)
def streaming_ivf_compacted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming ingest's MAINTENANCE path, hash-checked end-to-end
    (VERDICT r7 next #3): drain the ``streaming_ivf_ingest`` sink
    through its exactly-once commit log into a compacted ONE-file-per-
    list probe root (operators/ivf.py compact_streaming_layout — the
    sink keeps accumulating a file per touched list per micro-batch;
    the probe root pays file-opens ∝ probed lists, however long the
    stream has run), then answer the standard partition-pruned probe
    over the swapped-in root. The oracle replays assignment, probe, and
    top-K over the raw embeddings — a hash match certifies that
    ingest → drain → swap → probe lost and duplicated nothing. The
    file-count bound and repeat-swap behavior are pinned in
    tests/test_ivf_upsert.py::test_streaming_layout_drain_and_swap."""
    import os

    from hybrid_vector_search_spark.operators.ivf import (
        IVFIndex,
        compact_streaming_layout,
        open_streaming_probe_root,
    )

    # ensure the streaming sink exists and is drained (idempotent:
    # re-draining unchanged input is a commit-log no-op)
    streaming_ivf_ingest(spark, sf_dir)
    root = _session_root(spark, "stream_ivf", sf_dir)
    sink = os.path.join(root, "index")
    probe_root = os.path.join(root, "probe")
    compact_streaming_layout(spark, sink, probe_root)
    cents = _ann_ivf_centroids()
    # recovery-aware open: a swap crashed by a previous process replays
    # here instead of surfacing as a missing probe root
    index = IVFIndex(
        open_streaming_probe_root(spark, probe_root),
        cents,
        partitioned_path=probe_root,
    )
    plan, _probed = index.search_plan(
        query_vector(STREAM_COMPACT_QSEED), k=ANN_IVF_K, nprobe=ANN_IVF_NPROBE
    )
    return plan.select("id", F.round("score", 6).alias("score"))


# ------------------------------------------------------------ bucketed layout

def _bucketed_layout(
    spark: SparkSession, name: str, source, sf_dir: str, sides
) -> None:
    """Publish a persistent co-bucketed layout in this session's catalog.
    ``sides`` holds (table name, bucket key, DataFrame factory) triples
    sharing ONE bucket count — volume-derived over every side
    (sources/bucketing.py derive_bucket_count), since shuffle elision
    requires matching specs.

    r15: the bucketed FILES persist content-addressed across processes
    (scratch.persistent_artifact, keyed by the bucketing module, the
    calling builder's ``source`` and the parameters); only the catalog
    entries are per-session, so every session (re-)registers the layout
    with two DDL statements per table: an external CLUSTERED BY table
    over the existing location, and the view. derive_bucket_count
    depends on defaultParallelism, so the fingerprint includes it — a
    different core count builds its own layout rather than inheriting a
    mismatched bucket count."""
    import json

    from hybrid_vector_search_spark.scratch import persistent_artifact
    from hybrid_vector_search_spark.sources import bucketing as _bkt_mod
    from hybrid_vector_search_spark.sources.bucketing import (
        derive_bucket_count,
        write_bucketed,
    )

    def write(base: str) -> None:
        dfs = [(tbl, key, make()) for tbl, key, make in sides]
        nb = derive_bucket_count(spark, *(df for _tbl, _key, df in dfs))
        for tbl, key, df in dfs:
            write_bucketed(df, tbl, key, nb, path=os.path.join(base, tbl))
        ddl = {
            tbl: ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in df.schema.fields
            )
            for tbl, _key, df in dfs
        }
        with open(os.path.join(base, "meta.json"), "w", encoding="utf-8") as fh:
            json.dump({"n_buckets": int(nb), "ddl": ddl}, fh)

    try:
        parallelism = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no SparkContext handle
        parallelism = 0
    base = persistent_artifact(
        name, [_bkt_mod, source], f"|par={parallelism}|v1", sf_dir, write
    )
    with open(os.path.join(base, "meta.json"), encoding="utf-8") as fh:
        meta = json.load(fh)
    nb = int(meta["n_buckets"])
    for tbl, key, _make in sides:
        phys = f"{tbl}__b{nb}"
        spark.sql(f"DROP TABLE IF EXISTS {phys}")
        spark.sql(
            f"CREATE TABLE {phys} ({meta['ddl'][tbl]}) "
            f"USING parquet CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {nb} BUCKETS LOCATION '{os.path.join(base, tbl)}'"
        )
        spark.sql(f"CREATE OR REPLACE VIEW {tbl} AS SELECT * FROM {phys}")


def _sf_slug(sf_dir: str) -> str:
    import re

    return re.sub(r"\W+", "_", sf_dir).strip("_")


# Bucketed orders/lineitem layout on orderkey, a session artifact keyed by
# sf_dir. Paying the shuffle ONCE at write time (bucketBy + sortBy through
# the session catalog) is the 100 TB answer to the fact⋈fact join: after
# it, every equi-join and groupBy on the bucket key plans with ZERO
# shuffle Exchange — task i zips bucket i of one table with bucket i of
# the other.
def _bucketed_tpch_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write (once per session × sf_dir) orders and lineitem bucketed on
    their orderkey and return the catalog table names. The bucket count
    is VOLUME-DERIVED over both sides (sources/bucketing.py:
    derive_bucket_count) — one shared count, since shuffle elision
    requires matching specs; a pinned count capped the ×16 probe at 8
    tasks (r10 verdict's scale-killer). Was 8.8 s of every bench warmup
    before the files persisted across processes."""

    def build() -> tuple[str, str]:
        slug = _sf_slug(sf_dir)
        names = (f"hvs_bkt_orders_{slug}", f"hvs_bkt_lineitem_{slug}")
        _bucketed_layout(
            spark, "bkt_tpch", _bucketed_tpch_tables, sf_dir,
            [
                (names[0], "o_orderkey",
                 lambda: load_table(spark, sf_dir, "orders")),
                (names[1], "l_orderkey",
                 lambda: load_table(spark, sf_dir, "lineitem")),
            ],
        )
        return names

    return artifact(spark, ("bucketed_tpch", sf_dir), build)


@register("tpch_q18_bucketed", ORACLES["tpch_q18_large_orders"])
def tpch_q18_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 over the BUCKETED layout — identical results to
    ``tpch_q18_large_orders`` (same oracle SQL), different storage plan:
    both fact tables are pre-bucketed on orderkey, so the lineitem
    groupBy AND the orders⋈big sort-merge join (forced with a merge hint
    — at test scale broadcast would otherwise hide the point) run with
    zero shuffle Exchange; the only Exchange in the plan is the
    broadcast of the customer dim. This is the storage-layout variant of
    the persisted-index pattern (ann_ivf_persisted_topk): pay the
    partitioning once at ingest, never per query."""
    ord_tbl, li_tbl = _bucketed_tpch_tables(spark, sf_dir)
    orders = spark.table(ord_tbl)
    li = spark.table(li_tbl)
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    return (
        orders.hint("merge")
        .join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey").asc())
        .limit(50)
    )


# Day-partitioned events layout (the hypertable pattern), a session
# artifact keyed by sf_dir. Bucketing (above) buys shuffle-free JOINS;
# hive partitioning buys PRUNED SCANS — at 100 TB an event log is written
# partitioned by arrival day, and a bounded time-range query must read
# only the matching partition dirs, never the rest of the history.
def _events_day_partitioned(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per session × sf_dir) events hive-partitioned by event
    day and return the path. The pre-write ``repartition(day)`` gives
    each write task whole days, so every partition dir is a single file
    instead of one shard per upstream task.

    r15: content-addressed persistent artifact (scratch.persistent_
    artifact — the streaming-dedup prebuild pattern): the layout is a
    pure function of the testdata and this builder's source, so a warm
    process reuses it and the 3.4 s write drops out of bench warmup."""
    from hybrid_vector_search_spark.scratch import persistent_artifact

    def write(path: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
            .repartition(F.col("day"))
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(path)
        )

    def build() -> str:
        return persistent_artifact(
            "events_by_day", [_events_day_partitioned], "", sf_dir, write
        )

    return artifact(spark, ("events_by_day", sf_dir), build)


@register(
    "events_hypertable_day_range",
    """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
  COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
FROM events
WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-10'
GROUP BY 1, 2 ORDER BY 1, 2""",
)
def events_hypertable_day_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded time-range rollup over the DAY-PARTITIONED events layout —
    the hypertable scan path. The ``day`` predicate is a partition
    filter: Spark plans the scan with ``PartitionFilters`` and lists
    only the 3 matching partition dirs of 30 (10% of files touched, and
    the fraction is constant as history grows — the pruning, not the
    filter, is what survives 100× more days). Oracle recomputes from the
    unpartitioned table. The layout is written once per session like
    the bucketed tables; on a cluster it is the ingest format itself."""
    path = _events_day_partitioned(spark, sf_dir)
    ev = spark.read.parquet(path)
    return (
        ev.filter(F.col("day").between("2024-01-08", "2024-01-10"))
        # partition-column type inference reads `day` back as DATE; the
        # filter above prunes on that native type, the cast only renders
        # the output as the oracle's string
        .groupBy(F.col("day").cast("string").alias("day"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


@register(
    "corpus_bucketed_profile",
    f"""{CORPUS_CTE}
SELECT label, lang, COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS sum_chars
FROM corpus GROUP BY label, lang ORDER BY label, lang""",
)
def corpus_bucketed_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's OWN corpus join (S1/J1: embeddings⋈metadata,
    src/dataio/loaders.py join) through the BUCKETED layout
    (sources/bucketing.py): both sides pre-hashed on id, so the wide
    join plans with zero shuffle Exchange — only the final tiny
    (label, lang) aggregation shuffles. Driver-hash evidence for the
    corpus-layout claim the bucketing tests make; the oracle recomputes
    the same profile from the raw tables. SUM over int n_chars keeps
    the aggregate exact in any order."""

    def build() -> DataFrame:
        # same persistent layout as _bucketed_tpch_tables (this build was
        # 9.8 s of every bench warmup); the zero-shuffle join plan holds
        # over the re-registered tables
        prefix = f"hvs_corpus_{_sf_slug(sf_dir)}"
        _bucketed_layout(
            spark, "bktcorpus", corpus_bucketed_profile, sf_dir,
            [
                (f"{prefix}_embeddings", "id",
                 lambda: load_table(spark, sf_dir, "embeddings")
                 .withColumnRenamed("vec_id", "id")),
                (f"{prefix}_documents", "id",
                 lambda: load_table(spark, sf_dir, "documents")
                 .withColumnRenamed("doc_id", "id")),
            ],
        )
        return spark.table(f"{prefix}_embeddings").join(
            spark.table(f"{prefix}_documents"), "id", "left"
        )

    joined = artifact(spark, ("bucketed_corpus", sf_dir), build)
    return (
        joined.groupBy("label", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("label", "lang")
    )


# -------------------------------------------- streaming near-dup dedup ingest

_SD_BATCHES = 3


def _seed_landing(root: str, df: DataFrame, key_col: str, n_batches: int):
    """Land ``df`` under ``root/landing`` as ``n_batches`` single-file
    parquet micro-batches (batch b = rows with ``key_col % n_batches ==
    b``), arrival order pinned by strictly-increasing file mtimes —
    ``maxFilesPerTrigger=1`` delivers files in mtime order, so stream
    batch ids equal the landing batch numbers. Shared by every
    file-stream ingest entry (dedup, media) so replay/ordering semantics
    can only be fixed in one place."""
    import shutil as _sh
    import time as _time

    land = os.path.join(root, "landing")
    os.makedirs(land, exist_ok=True)
    t0 = _time.time() - 1000
    for b in range(n_batches):
        tmp = os.path.join(root, f"stage_{b}")
        df.filter(F.col(key_col) % n_batches == b).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(land, f"batch-{b}.parquet")
        _sh.move(os.path.join(tmp, part), dst)
        _sh.rmtree(tmp, ignore_errors=True)
        os.utime(dst, (t0 + 10 * b, t0 + 10 * b))


def _drain_file_stream(spark: SparkSession, root: str, schema, commit_fn):
    """One ``availableNow`` drain of ``root/landing`` through
    ``foreachBatch(commit_fn)``, checkpointed under ``root/ckpt`` (the
    at-least-once half of the ingest entries' exactly-once story; the
    other half is each commit body's batch-id guard)."""
    _drain(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(root, "landing"))
        .writeStream.foreachBatch(commit_fn)
        .option("checkpointLocation", os.path.join(root, "ckpt")),
        f"_drain_file_stream: drain of '{root}'",
    )


def _stream_dedup_oracle() -> str:
    """Replays keep-first near-dup ingest: the banded+verified pair set
    (the exact minhash_lsh_pairs machinery — shingles, affine MinHash,
    band keys, true-Jaccard verification), symmetrized, and a document
    survives iff NO verified partner precedes it in arrival order
    (batch = doc_id % 3, then doc_id within a batch)."""
    from hybrid_vector_search_spark.operators.dedup import (
        minhash_lsh_pairs_sql,
    )
    from hybrid_vector_search_spark.plans.registry_corpus import (
        JACCARD_THRESHOLD,
    )

    P = _SD_BATCHES
    # the ingest runs on a deterministic half-corpus slice (doc_id % 2
    # = 0): the FULL per-round drain is ingest infrastructure paid once
    # per deployment, and halving bounds the per-round benchmark cost
    # without touching any semantics — the oracle's pair machinery
    # filters the same slice inside SHINGLES_SQL's source
    body = minhash_lsh_pairs_sql(JACCARD_THRESHOLD).replace(
        "FROM documents", "FROM (SELECT * FROM documents"
        " WHERE doc_id % 2 = 0) documents", 1
    )
    return f"""WITH pairs AS ({body}),
sym AS (SELECT doc_a AS d, doc_b AS p FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs)
SELECT d.doc_id, d.doc_id % {P} AS batch
FROM documents d
WHERE d.doc_id % 2 = 0 AND NOT EXISTS (
  SELECT 1 FROM sym
  WHERE sym.d = d.doc_id
    AND ((sym.p % {P}) < (d.doc_id % {P})
         OR ((sym.p % {P}) = (d.doc_id % {P}) AND sym.p < d.doc_id)))
ORDER BY doc_id"""


@register(
    "streaming_dedup_ingest",
    _stream_dedup_oracle(),
    side_effects=True,
)
def streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS NEAR-DUP DEDUP INGEST — the streaming half of the
    MinHash dedup family (operators/dedup.py), keep-first semantics:
    documents arrive in micro-batches; each batch is deduplicated
    (1) against every previously-seen document via a PERSISTED index —
    band-key postings generate candidates, shingle postings verify true
    Jaccard, both manifest-committed — and (2) within itself (smaller
    doc_id wins). Survivors and the index appends land as manifest
    commits with the micro-batch id riding in each root's own manifest,
    so at-least-once replays skip per root (the exactly-once guard of
    streaming_snapshot_ingest, applied to THREE roots). The index holds
    ALL seen docs, not just survivors — keep-first rejects a duplicate
    of a rejected duplicate too. Per-batch cost is O(batch × matching
    postings), never O(corpus): the candidate join prunes on band keys
    and the verify join touches only candidate pairs — the same
    incremental-vs-corpus shape dedup_incremental_batch certifies for
    batch mode. The oracle replays the whole thing order-faithfully
    (batch = doc_id % 3 by construction of the landing, arrival order
    pinned by per-file mtimes): shingles → MinHash → band candidates →
    true-Jaccard verification → the keep-first fold. Beyond-reference
    (SURVEY.md §2.9 + dedup family)."""
    from hybrid_vector_search_spark.sources import manifest as M

    root = _sd_root(spark, sf_dir)
    _sd_drain(spark, root)
    return (
        M.read_snapshot(spark, os.path.join(root, "survivors"))
        .select("doc_id", "batch")
        .orderBy("doc_id")
    )


def _sd_drain(spark: SparkSession, root: str) -> None:
    """One drain of the seeded landing under ``root`` through the shared
    ingest kernel (operators/dedup.py dedup_ingest_commit_batch —
    extracted r12 so the scale probe measures EXACTLY the code path this
    streaming query commits with: band+gram postings, in-batch +
    vs-index keep-first, per-root exactly-once batch-id guard)."""
    from pyspark.sql import types as T

    from hybrid_vector_search_spark.operators import dedup as DD
    from hybrid_vector_search_spark.plans.registry_corpus import (
        JACCARD_THRESHOLD,
    )

    def commit_batch(batch_df, batch_id):
        DD.dedup_ingest_commit_batch(
            spark, batch_df, batch_id,
            os.path.join(root, "index"),  # band + shingle postings
            os.path.join(root, "survivors"),
            JACCARD_THRESHOLD,
            # r14: the ingest registers its derived roots for the GDPR
            # cascade at build time (sources/purge.py derived-root
            # registry) — erasure over the streaming index is
            # enumerable, not runbook-remembered
            erasure_registry_dir=root,
        )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    _drain_file_stream(spark, root, schema, commit_batch)


def _sd_root(spark: SparkSession, sf_dir: str) -> str:
    """Content-addressed PERSISTENT ingest root (r14 verdict, next #3):
    the seeded landing + 3-batch drain is a pure function of (corpus,
    ingest-kernel code, params) — 27 s of every bench warmup when
    rebuilt per process. Same fingerprint → reuse across
    processes/rounds; any dedup-kernel or param change → new
    fingerprint, fresh build, stale generation swept. The build drains
    once, so only a fully drained root presents as reusable."""
    from hybrid_vector_search_spark.scratch import persistent_artifact

    def seed(root: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        ).filter(F.col("doc_id") % 2 == 0)  # bounded ingest slice
        _seed_landing(root, docs, "doc_id", _SD_BATCHES)
        _sd_drain(spark, root)

    return artifact(
        spark, ("stream_dedup", sf_dir),
        lambda: persistent_artifact("sdingest", *_sd_key(), sf_dir, seed),
    )


def _sd_key() -> tuple[list, str]:
    """(sources, params) of the persisted streaming-dedup artifacts: the
    full dedup-kernel module source, every builder on the ingest path,
    and every parameter the build depends on. With the input-data
    identity that persistent_artifact folds in, any code, param, or
    testdata change rotates the cache key."""
    from hybrid_vector_search_spark.operators import dedup as DD
    from hybrid_vector_search_spark.plans.registry_corpus import (
        JACCARD_THRESHOLD,
    )

    return (
        [DD, _seed_landing, _drain_file_stream, _sd_drain, _sd_root,
         streaming_dedup_compacted],
        f"|P={_SD_BATCHES}|J={JACCARD_THRESHOLD}|v1",
    )


def _stream_dedup_compacted_oracle() -> str:
    """Replays the probe batch's keep-first dedup against the FULL seen
    corpus: pairs over (even ingest slice ∪ odd probe slice); a probe
    document survives iff no verified partner is an already-seen even
    doc, nor a smaller-id member of its own batch."""
    from hybrid_vector_search_spark.operators.dedup import (
        minhash_lsh_pairs_sql,
    )
    from hybrid_vector_search_spark.plans.registry_corpus import (
        JACCARD_THRESHOLD,
    )

    slice_sql = (
        "doc_id % 2 = 0 OR (doc_id % 2 = 1 AND doc_id % 5 = 1)"
    )
    body = minhash_lsh_pairs_sql(JACCARD_THRESHOLD).replace(
        "FROM documents",
        f"FROM (SELECT * FROM documents WHERE {slice_sql}) documents",
        1,
    )
    return f"""WITH pairs AS ({body}),
sym AS (SELECT doc_a AS d, doc_b AS p FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs)
SELECT d.doc_id, 0 AS batch
FROM documents d
WHERE d.doc_id % 2 = 1 AND d.doc_id % 5 = 1 AND NOT EXISTS (
  SELECT 1 FROM sym
  WHERE sym.d = d.doc_id
    AND (sym.p % 2 = 0 OR sym.p < d.doc_id))
ORDER BY doc_id"""


@register(
    "streaming_dedup_compacted",
    _stream_dedup_compacted_oracle(),
    side_effects=True,
)
def streaming_dedup_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX MAINTENANCE IS ANSWER-PRESERVING (r13): clone the dedup
    ingest's posting index, run `compact_dedup_index` — the data-file
    rewrite that re-clusters every accumulated per-commit band slice at
    a whole-index-derived bucket modulus (files stay ~64 keys narrow so
    blooms stay selective; driver admission resets to O(one commit ×
    probes)) — then dedup a NEVER-SEEN probe batch against the
    compacted index through the exact streaming kernel. The oracle
    replays the probe's keep-first outcome against the full seen
    corpus from first principles, so a hash match certifies the
    rewrite changed LAYOUT and nothing else (candidates, verification,
    survivors all flow through the compacted files). The replay guard
    also rides through: the rewrite carries the highest committed
    batch_id into its own meta, so the cloned index refuses the
    probe's postings (batch 0 ≤ 2) while the fresh survivors root
    accepts them — exactly-once across maintenance."""
    import shutil

    from hybrid_vector_search_spark.operators import dedup as DD
    from hybrid_vector_search_spark.plans.registry_corpus import (
        JACCARD_THRESHOLD,
    )
    from hybrid_vector_search_spark.scratch import persistent_artifact
    from hybrid_vector_search_spark.sources import manifest as M

    def build(root2: str) -> None:
        # persistent content-addressed clone (same fingerprint family as
        # the ingest root — see _sd_key): reuse across processes unless
        # the dedup kernel or params changed
        shutil.copytree(
            os.path.join(_sd_root(spark, sf_dir), "index"),
            os.path.join(root2, "index"),
        )
        DD.compact_dedup_index(spark, os.path.join(root2, "index"))
        probe = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 5 == 1))
        )
        DD.dedup_ingest_commit_batch(
            spark,
            probe,
            0,
            os.path.join(root2, "index"),
            os.path.join(root2, "survivors"),
            JACCARD_THRESHOLD,
        )

    root2 = artifact(
        spark, ("stream_dedup_compact", sf_dir),
        lambda: persistent_artifact("sdcmp", *_sd_key(), sf_dir, build),
    )
    return (
        M.read_snapshot(spark, os.path.join(root2, "survivors"))
        .select("doc_id", "batch")
        .orderBy("doc_id")
    )


# ------------------------------------------- streaming media (phash) ingest

_SM_BATCHES = 3
_SM_LIMIT = 256  # 8-bit phash over <=256 media: collisions guaranteed


def _stream_media_oracle() -> str:
    """Replays keep-first media dedup by exact phash match: a media row
    survives iff no same-phash row precedes it in arrival order
    (batch = media_id % P by construction of the landing, media_id
    within a batch)."""
    from hybrid_vector_search_spark.plans.registry_corpus import (
        phash_oracle_cte,
    )

    P = _SM_BATCHES
    return f"""{phash_oracle_cte(_SM_LIMIT)},
k AS (
  SELECT media_id, phash, media_id % {P} AS batch,
    row_number() OVER (PARTITION BY phash
                       ORDER BY media_id % {P}, media_id) AS rn
  FROM h)
SELECT media_id, phash, batch FROM k WHERE rn = 1 ORDER BY media_id"""


@register(
    "streaming_media_ingest",
    _stream_media_oracle(),
    side_effects=True,
)
def streaming_media_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS MEDIA DEDUP INGEST — the multimodal twin of
    streaming_dedup_ingest: media rows (opaque binary payloads) arrive
    in micro-batches; each batch is perceptual-hashed (stub kernel,
    operators/multimodal.py phash_stub) and kept-first against the
    persisted survivors table — which for exact-hash semantics IS the
    seen-hash index (first holder per hash; a dup of a rejected dup
    still rejects via that first holder) — and against itself (smaller
    media_id wins). Survivors land as manifest commits with the
    micro-batch id riding in the manifest — exactly-once under
    at-least-once replay (the streaming_snapshot_ingest guard).
    Per-batch cost is O(batch + |distinct hashes seen|): one Arrow
    phash pass over the batch, then an anti-join against ≤ 2^bits
    survivor rows — FLAT in corpus size; payload bytes never enter the
    index. The oracle replays the fold order-faithfully (batch =
    media_id % P by construction, arrival order pinned by per-file
    mtimes)."""
    from pyspark.sql import types as T

    from hybrid_vector_search_spark.operators import multimodal as MM
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    P = _SM_BATCHES

    def build():
        root = scratch_path(
            "stream_media_" + sf_dir.strip("/").replace("/", "_")
        )
        os.makedirs(root, exist_ok=True)
        media = MM.media_from_documents(
            load_table(spark, sf_dir, "documents"), limit=_SM_LIMIT
        ).select("media_id", "data")
        _seed_landing(root, media, "media_id", P)
        return root

    root = artifact(spark, ("stream_media", sf_dir), build)
    surv_root = os.path.join(root, "survivors")

    def commit_batch(batch_df, batch_id):
        MM.media_ingest_commit_batch(spark, batch_df, batch_id, surv_root)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
        ]
    )
    _drain_file_stream(spark, root, schema, commit_batch)
    # media payloads are subject data too: the survivors root joins the
    # erasure registry so a GDPR cascade reaches stored binaries (r14)
    from hybrid_vector_search_spark.sources.purge import (
        register_derived_root,
    )

    register_derived_root(root, "media_survivors", surv_root, "media_id")
    return (
        M.read_snapshot(spark, surv_root)
        .select("media_id", "phash", "batch")
        .orderBy("media_id")
    )


# ---- moved from registry_lakehouse (r12 trim): session windows + custom state

# --------------------------------- streaming: session windows + custom state

_SESS_GAP_MIN = 30
_SESS_WM = "1 hour"


@register(
    "streaming_session_windows",
    f"""WITH wm AS (
  SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 1 HOUR AS w
  FROM events),
lagged AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN LAG(ts) OVER win IS NULL
           OR ts - LAG(ts) OVER win >= INTERVAL {_SESS_GAP_MIN * 60} SECOND
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts, value,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS sid
  FROM lagged)
SELECT user_id,
  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  COUNT(*) AS n_events,
  {round_portable_sql('SUM(value)', 2)} AS sum_value
FROM sess
GROUP BY user_id, sid
HAVING MAX(ts) + INTERVAL {_SESS_GAP_MIN} MINUTE < (SELECT w FROM wm)
ORDER BY user_id, session_start""",
side_effects=True,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming SESSION windows (``F.session_window`` + watermark,
    streaming/pipeline.py session_window_stream): gap-merged per-user
    sessions whose state is evicted by the watermark; append mode emits a
    session once the watermark passes its end (last event + gap).

    The oracle replays the identical semantics as batch gaps-and-islands
    at full microsecond precision — new session iff the inter-event gap
    is ≥ the session gap (session_window merges only strictly-overlapping
    [ts, ts+gap) windows) — and keeps exactly the sessions the stream
    can have closed: end + gap < max(ts)@millis − watermark delay."""
    from hybrid_vector_search_spark.streaming.pipeline import (
        read_events_stream,
        run_available_now,
        session_window_stream,
    )

    ev = read_events_stream(spark, _landing(spark, sf_dir, "events"))
    agg = session_window_stream(ev, f"{_SESS_GAP_MIN} minutes", _SESS_WM)
    table = "stream_sessions"
    # heavier state than the windowed aggs (~95k session-window rows at
    # sf0.1 vs ~2k groups): r5 sweep 4/8/16/32 -> 1.38/1.14/1.49/2.47s,
    # 8 is this operator's knee
    run_available_now(
        agg,
        table,
        output_mode="append",
        shuffle_partitions=_stream_parts(spark, sf_dir, factor=2),
    )
    return _sink_sorted(spark, table, "user_id", "session_start")


@register(
    "streaming_stateful_user_totals",
    f"""SELECT user_id, COUNT(*) AS n_events,
  {round_portable_sql('SUM(value)', 2)} AS sum_value
FROM events GROUP BY user_id ORDER BY user_id""",
side_effects=True,
)
def streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``,
    streaming/pipeline.py stateful_user_totals_stream): per-user running
    totals in explicit GroupState — the API surface for stateful logic
    beyond built-in windows (counters, custom eviction, online models).
    An availableNow drain without maxFilesPerTrigger consumes the whole
    landing directory in one micro-batch (regardless of file count), so
    each user's one update-mode emission IS its final total; the oracle
    is the batch GROUP BY, and the drain asserts the single-data-batch
    assumption so a future source rate limit fails loudly instead of
    emitting intermediate totals."""
    from hybrid_vector_search_spark.streaming.pipeline import (
        read_events_stream,
        run_available_now,
        stateful_user_totals_stream,
    )

    ev = read_events_stream(spark, _landing(spark, sf_dir, "events"))
    tot = stateful_user_totals_stream(ev)
    table = "stream_user_totals"
    # the per-group Python kernel parallelizes across state partitions
    # (Arrow transfer + GroupState updates for 100k rows): r5 isolated
    # sweep 4/8/16 -> 1.87/1.35/1.26s, but 16 regressed to 5.4s inside
    # the full 112-query bench (16 stateful Python workers × a loaded
    # executor) — 8 is the setting that wins in both contexts
    run_available_now(
        tot,
        table,
        output_mode="update",
        expect_single_data_batch=True,
        shuffle_partitions=_stream_parts(spark, sf_dir, factor=2),
    )
    return (
        _sink_sorted(spark, table, "user_id")
        .select(
            "user_id",
            "n_events",
            round_portable(F.col("sum_value"), 2).alias("sum_value"),
        )
    )


# ------------------------------------ ingest dead-letter routing (r13)

_DLQ_VALUE_MAX = 450.0
_DLQ_LATE_DAY = "2024-01-28"


@register(
    "streaming_ingest_quarantine",
    f"""WITH routed AS (SELECT
  CASE WHEN value > {_DLQ_VALUE_MAX!r} THEN 'quarantine'
       WHEN strftime(ts, '%Y-%m-%d') > '{_DLQ_LATE_DAY}' THEN 'quarantine'
       ELSE 'main' END AS route,
  CASE WHEN value > {_DLQ_VALUE_MAX!r} THEN 'value_out_of_range'
       WHEN strftime(ts, '%Y-%m-%d') > '{_DLQ_LATE_DAY}' THEN 'late_arrival'
       ELSE 'ok' END AS reason
  FROM events)
SELECT route, reason, COUNT(*) AS n FROM routed
GROUP BY route, reason ORDER BY route, reason""",
    side_effects=True,
)
def streaming_ingest_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DEAD-LETTER ROUTING at ingest: every arriving event is routed
    row-level to the main table or a quarantine table carrying a
    machine-readable reason (value out of range / late arrival, checked
    in priority order) — the two-sink foreachBatch shape every
    production landing zone runs so bad rows never poison the main
    table yet are never dropped (they stay queryable for triage and
    replay after a fix). Row-level predicates make the routing
    independent of micro-batch boundaries, so the drained counts equal
    the batch GROUP BY the oracle computes — batch/stream parity for
    the gate itself. Both sinks are real parquet writes per micro-batch
    (append mode, the idempotent-by-path pattern of the ingest family);
    the returned audit is read back from the SINKS, not the stream, so
    the hash also certifies nothing was lost or double-routed in the
    fan-out."""
    import uuid as _uuid

    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.streaming.pipeline import (
        read_events_stream,
    )

    ev = read_events_stream(spark, _landing(spark, sf_dir, "events"))
    reason = F.when(
        F.col("value") > _DLQ_VALUE_MAX, F.lit("value_out_of_range")
    ).when(
        F.date_format("ts", "yyyy-MM-dd") > _DLQ_LATE_DAY,
        F.lit("late_arrival"),
    )
    routed = ev.withColumn("reason", reason)
    base = scratch_path("dlq_" + _uuid.uuid4().hex[:8])
    main_dir, quar_dir = base + "/main", base + "/quarantine"

    def _route(bdf, _bid):
        bdf = bdf.persist()
        bdf.filter(F.col("reason").isNull()).drop("reason").write.mode(
            "append"
        ).parquet(main_dir)
        bdf.filter(F.col("reason").isNotNull()).write.mode(
            "append"
        ).parquet(quar_dir)
        bdf.unpersist()

    _drain(
        routed.writeStream.foreachBatch(_route)
        .option("checkpointLocation", base + "/ckpt"),
        "streaming_ingest_quarantine",
    )

    from pyspark.errors import AnalysisException

    def _read_route(path: str, route: str) -> DataFrame:
        try:
            df = spark.read.parquet(path)
        except AnalysisException:
            # zero rows took this route on this corpus, so the sink dir
            # was never created (data-dependent): an honest zero-count
            # frame, not an AnalysisException out of the audit
            return local_df(spark, 
                [], "route string, reason string"
            )
        if route == "main":
            return df.select(
                F.lit("main").alias("route"), F.lit("ok").alias("reason")
            )
        return df.select(F.lit("quarantine").alias("route"), "reason")

    main = _read_route(main_dir, "main")
    quar = _read_route(quar_dir, "quarantine")
    return (
        main.unionByName(quar)
        .groupBy("route", "reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("route", "reason")
    )


_DLQ_SNAP_BATCHES = 3


@register(
    "streaming_ingest_quarantine_snapshot",
    f"""WITH routed AS (SELECT event_id % {_DLQ_SNAP_BATCHES} AS b,
  CASE WHEN value > {_DLQ_VALUE_MAX!r} THEN 'quarantine'
       WHEN strftime(ts, '%Y-%m-%d') > '{_DLQ_LATE_DAY}' THEN 'quarantine'
       ELSE 'main' END AS route,
  CASE WHEN value > {_DLQ_VALUE_MAX!r} THEN 'value_out_of_range'
       WHEN strftime(ts, '%Y-%m-%d') > '{_DLQ_LATE_DAY}' THEN 'late_arrival'
       ELSE 'ok' END AS reason
  FROM events),
commits AS (SELECT route, COUNT(DISTINCT b) AS route_commits
            FROM routed GROUP BY route)
SELECT route, reason, COUNT(*) AS n, MIN(route_commits) AS route_commits
FROM routed JOIN commits USING (route)
GROUP BY route, reason ORDER BY route, reason""",
    side_effects=True,
)
def streaming_ingest_quarantine_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DEAD-LETTER ROUTING INTO THE TABLE FORMAT: the two-sink fan-out
    of ``streaming_ingest_quarantine``, landed as MANIFEST COMMITS
    instead of bare parquet appends — each micro-batch routes row-level
    (machine-readable reasons, priority order) and commits each route
    to its own snapshot root guarded by THAT root's own batch-id meta,
    so an at-least-once replay after a crash between the two commits
    re-lands exactly the missing route (the dedup-ingest exactly-once
    pattern, applied to the quarantine shape). What the plain-parquet
    variant cannot offer, this one gets for free: readers see batch
    boundaries atomically (no half-routed batch), time travel pins any
    triage state, and BOTH roots are registered in the derived-root
    registry at build time (owner = user_id), so a GDPR cascade reaches
    quarantined rows too — the bad-rows table is exactly where a
    subject's malformed events hide. ``route_commits`` rides in the
    hash contract: number of versions per route root = micro-batches
    that carried ≥1 row for that route (batch = event_id % 3, pinned by
    the landing's mtime order). Beyond-reference (SURVEY.md §2.9 +
    governance/streaming families)."""
    from pyspark.sql import types as T

    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M
    from hybrid_vector_search_spark.sources.purge import (
        register_derived_root,
    )

    P = _DLQ_SNAP_BATCHES

    def build():
        root = scratch_path(
            "dlq_snap_" + sf_dir.strip("/").replace("/", "_")
        )
        os.makedirs(root, exist_ok=True)
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "value"
        )
        _seed_landing(root, ev, "event_id", P)
        return root

    root = artifact(spark, ("dlq_snap", sf_dir), build)
    main_root = os.path.join(root, "main")
    quar_root = os.path.join(root, "quarantine")

    reason = F.when(
        F.col("value") > _DLQ_VALUE_MAX, F.lit("value_out_of_range")
    ).when(
        F.date_format("ts", "yyyy-MM-dd") > _DLQ_LATE_DAY,
        F.lit("late_arrival"),
    )

    def commit_batch(bdf, batch_id):
        bdf = bdf.persist()
        try:
            routed = bdf.withColumn("reason", reason)
            for route_root, rows in (
                (main_root, routed.filter(F.col("reason").isNull()).drop(
                    "reason"
                )),
                (quar_root, routed.filter(F.col("reason").isNotNull())),
            ):
                if batch_id > M.last_committed_meta(
                    route_root, "batch_id", -1
                ) and rows.limit(1).count():
                    M.commit_append(
                        route_root, rows, meta={"batch_id": int(batch_id)}
                    )
                    M.maybe_compact_sidecars(route_root)
        finally:
            bdf.unpersist()

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    _drain_file_stream(spark, root, schema, commit_batch)
    register_derived_root(root, "dlq_main", main_root, "user_id")
    register_derived_root(root, "dlq_quarantine", quar_root, "user_id")

    def _route_df(route_root, route):
        if M.current_version(route_root) < 0:
            return local_df(spark, 
                [], "route string, reason string"
            )
        snap = M.read_snapshot(spark, route_root)
        if route == "main":
            return snap.select(
                F.lit("main").alias("route"), F.lit("ok").alias("reason")
            )
        return snap.select(
            F.lit("quarantine").alias("route"), "reason"
        )

    out = (
        _route_df(main_root, "main")
        .unionByName(_route_df(quar_root, "quarantine"))
        .groupBy("route", "reason")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    def _batch_commits(route_root) -> int:
        # count DISTINCT committed batch ids, not raw versions: a
        # sidecar compaction publishes a version too
        # (maybe_compact_sidecars) and CARRIES the last batch_id meta
        # forward, so both "len(list_versions)" and "versions with a
        # batch_id" would inflate route_commits past the micro-batch
        # count once groups exceed the compaction threshold (r14
        # advice — latent at the pinned 3 batches)
        return len(
            {
                b
                for v in M.list_versions(route_root)
                for b in (
                    M.committed_meta(route_root, "batch_id", v, None),
                )
                if b is not None
            }
        )

    commits = local_df(spark, 
        [
            ("main", _batch_commits(main_root)),
            ("quarantine", _batch_commits(quar_root)),
        ],
        "route string, route_commits long",
    )
    return (
        out.join(commits, "route")
        .select("route", "reason", "n", "route_commits")
        .orderBy("route", "reason")
    )
