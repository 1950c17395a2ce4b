"""Hybrid filtered search, canonical batches, batch similarity search + IVF ANN.

r11 mechanical split of plans/registry.py (r10 verdict task 7): this is a
contiguous slice of the original file, imported by the registry hub in
original order, so registration order, query names, and oracle SQL are
byte-identical to the single-file registry. Shared infra (register,
QUERIES/ORACLES, load_corpus, caches) stays in the hub; cross-family
helpers are imported explicitly below.
"""

from __future__ import annotations

from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hybrid_vector_search_spark.functions.predicates import (
    compile_filters,
    filters_to_sql,
)
from hybrid_vector_search_spark.functions.vector import dot_score_pandas_udf
from hybrid_vector_search_spark.operators.topk import grouped_topk, topk
from hybrid_vector_search_spark.queryvecs import query_vector, sql_array_literal
from hybrid_vector_search_spark.session import artifact, clear_artifacts
from hybrid_vector_search_spark.sources.loaders import (
    load_table,
)

from hybrid_vector_search_spark.plans.registry import (  # noqa: E402
    local_df,
    CORPUS_CTE,
    ORACLES,
    load_corpus,
    register,
)

# ---------------------------------------------------------------- hybrid search

# Canonical query-vector/filters pairs (selectivity-stratified like the
# reference's 10 canonical queries, artifacts/artifacts.py:197-208, but
# over the driver's synthetic corpus — FIXTURES.md §4).
HYBRID_CASES: dict[str, dict] = {
    "hybrid_topk_exact": {
        "seed": 7,
        "filters": {"label": {"in": [1, 2, 3]}, "lang": {"eq": "en"}},
        "k": 10,
    },
    "hybrid_topk_unfiltered": {"seed": 11, "filters": {}, "k": 10},
    "hybrid_topk_strict": {
        "seed": 13,
        "filters": {
            "label": {"eq": 4},
            "n_chars": {"between": [0, 400]},
            "lang": {"in": ["en", "de"]},
        },
        "k": 10,
    },
    "hybrid_topk_like": {
        "seed": 17,
        "filters": {"text": {"like": "the"}, "n_chars": {"ge": 100}},
        "k": 10,
    },
    # F2 (ne NULL-fail) and F3's gt through the driver gate — both were
    # pytest-only before r4. ne on a LEFT-JOIN-nullable column (text/lang
    # are NULL for embeddings without a document row) exercises the
    # NULL-fail branch: a NULL lang must NOT satisfy lang != 'en'.
    "hybrid_topk_ne": {
        "seed": 19,
        "filters": {"lang": {"ne": "en"}, "n_chars": {"gt": 50}},
        "k": 10,
    },
}


def _hybrid_spark(case: dict) -> Callable[[SparkSession, str], DataFrame]:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from hybrid_vector_search_spark.functions.vector import (
            dot_score_column,
        )

        corpus = load_corpus(spark, sf_dir)
        qvec = query_vector(case["seed"])
        pred = compile_filters(corpus.schema, case["filters"])
        # single-query scoring: JVM codegen dot product — the pandas-UDF
        # kernel's Arrow transfer of the embedding column dominates at
        # one query per scanned row (dot_score_column regime rule)
        scored = corpus.filter(pred).select(
            "id", dot_score_column(qvec).alias("score")
        )
        return topk(scored, case["k"]).select(
            "id", F.round("score", 6).alias("score")
        )

    return q


def _hybrid_oracle(case: dict) -> str:
    # Build the WHERE fragment from the same filter dict via the engine's
    # own SQL renderer — one semantics, two engines.
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    where = filters_to_sql(schema, case["filters"])
    qlit = sql_array_literal(query_vector(case["seed"]))
    return f"""{CORPUS_CTE}
SELECT id, ROUND(list_dot_product(embedding::DOUBLE[], {qlit}), 6) AS score
FROM corpus
WHERE {where}
ORDER BY list_dot_product(embedding::DOUBLE[], {qlit}) DESC, id ASC
LIMIT {case['k']}"""


for _name, _case in HYBRID_CASES.items():
    register(_name, _hybrid_oracle(_case))(_hybrid_spark(_case))


@register(
    "vector_topk_per_label",
    f"""SELECT label, id, score FROM (
  SELECT label, vec_id AS id,
         ROUND(list_dot_product(embedding::DOUBLE[], {sql_array_literal(query_vector(23))}), 6) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY label
           ORDER BY list_dot_product(embedding::DOUBLE[], {sql_array_literal(query_vector(23))}) DESC, vec_id ASC
         ) AS rn
  FROM embeddings) t
WHERE rn <= 3""",
)
def vector_topk_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-at-a-time grouped top-K: best 3 matches within every label group
    in one windowed job (SURVEY.md §2.7 — our idiomatic batch form)."""
    emb = load_table(spark, sf_dir, "embeddings").withColumnRenamed("vec_id", "id")
    qvec = query_vector(23)
    scored = emb.select(
        "label", "id", dot_score_pandas_udf(qvec)(F.col("embedding")).alias("score")
    )
    return grouped_topk(scored, ["label"], 3).select(
        "label", "id", F.round("score", 6).alias("score")
    )


@register(
    "corpus_column_stats",
    """SELECT c AS col, n, nulls, ndv, min_v, max_v FROM (
  SELECT 'label' AS c, COUNT(*) AS n, COUNT(*) - COUNT(label) AS nulls,
         COUNT(DISTINCT label) AS ndv,
         CAST(MIN(label) AS DOUBLE) AS min_v,
         CAST(MAX(label) AS DOUBLE) AS max_v
  FROM corpus
  UNION ALL
  SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang),
         COUNT(DISTINCT lang), NULL, NULL FROM corpus
  UNION ALL
  SELECT 'source', COUNT(*), COUNT(*) - COUNT(source),
         COUNT(DISTINCT source), NULL, NULL FROM corpus
  UNION ALL
  SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars),
         COUNT(DISTINCT n_chars),
         CAST(MIN(n_chars) AS DOUBLE), CAST(MAX(n_chars) AS DOUBLE)
  FROM corpus) t
ORDER BY col""".replace("FROM corpus", "FROM (SELECT e.vec_id AS id, e.label, d.lang, d.source, d.n_chars FROM embeddings e LEFT JOIN documents d ON e.vec_id = d.doc_id)"),
    side_effects=True,  # the aggregation collect runs driver-side in the builder
)
def corpus_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANALYZE surface as a user query: per-column (count, nulls,
    exact ndv, numeric min/max) for the corpus's filterable columns in
    ONE aggregation pass (functions/colstats.py collect_column_stats —
    the same artifact that feeds the costed ladder's stats-fed entry,
    post_filter_costed_stats). One scan, partial aggs, a 4-row result:
    the profile every CBO substitutes for a count at 100 TB."""
    from hybrid_vector_search_spark.functions.colstats import (
        collect_column_stats,
    )

    corpus = load_corpus(spark, sf_dir)
    cols = ["label", "lang", "source", "n_chars"]
    stats = collect_column_stats(corpus, cols, exact_ndv=True)
    rows = [
        (
            c,
            int(stats[c]["count"]),
            int(stats[c]["nulls"]),
            int(stats[c]["ndv"]),
            float(stats[c]["min"]) if stats[c]["min"] is not None else None,
            float(stats[c]["max"]) if stats[c]["max"] is not None else None,
        )
        for c in sorted(cols)
    ]
    return local_df(spark, 
        rows,
        "col STRING, n LONG, nulls LONG, ndv LONG, "
        "min_v DOUBLE, max_v DOUBLE",
    )


RANGE_QSEED = 53
RANGE_TAU = 0.3


@register(
    "vector_range_search",
    f"""SELECT vec_id AS id,
  ROUND(list_dot_product(embedding::DOUBLE[], {sql_array_literal(query_vector(RANGE_QSEED))}), 6) AS score
FROM embeddings
WHERE list_dot_product(embedding::DOUBLE[], {sql_array_literal(query_vector(RANGE_QSEED))}) >= {RANGE_TAU}
ORDER BY score DESC, id ASC""",
)
def vector_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE search: every vector whose inner product with the query
    clears a threshold — the other half of the vector-search API (FAISS
    ``range_search``; the reference exposes only top-K). The K-free
    shape matters operationally: duplicate sweeps and recall audits ask
    "everything above τ", not "the best 10". As a plan this is BETTER
    than top-K at scale — a pure scan + JVM predicate with no heap, no
    driver merge, no shuffle: every partition emits its qualifying rows
    independently, so it parallelizes perfectly and composes with
    partition pruning (run it over probed lists for the ANN variant).
    Result size is data-dependent by design; the oracle replays the
    same threshold over the same scan."""
    from hybrid_vector_search_spark.functions.vector import dot_score_column

    emb = load_table(spark, sf_dir, "embeddings").withColumnRenamed(
        "vec_id", "id"
    )
    scored = emb.select(
        "id", dot_score_column(query_vector(RANGE_QSEED)).alias("score")
    ).filter(F.col("score") >= RANGE_TAU)
    return scored.select(
        "id", F.round("score", 6).alias("score")
    ).orderBy(F.col("score").desc(), F.col("id").asc())


# ---------------------------------------- set-at-a-time canonical batch run


def _canonical_batch_oracle() -> str:
    from pyspark.sql import types as T

    from hybrid_vector_search_spark.plans.canonical import CANONICAL_QUERIES

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    parts = []
    for cq in CANONICAL_QUERIES:
        where = filters_to_sql(schema, cq.filters)
        qlit = sql_array_literal(query_vector(cq.seed))
        dot = f"list_dot_product(embedding::DOUBLE[], {qlit})"
        parts.append(
            f"(SELECT {cq.qid} AS qid, id, ROUND({dot}, 6) AS score\n"
            f" FROM corpus WHERE {where}\n"
            f" ORDER BY {dot} DESC, id ASC LIMIT {cq.k})"
        )
    return CORPUS_CTE + "\n" + "\nUNION ALL\n".join(parts)


@register("hybrid_batch_canonical", _canonical_batch_oracle())
def hybrid_batch_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL 10 canonical hybrid queries in ONE job — the set-at-a-time plan
    the reference's per-query loop cannot express (SURVEY.md §7):

    1. one corpus scan evaluates every query's predicate per row and fans
       the row out to the qids it matches (explode of the non-null whens —
       output is Σ selectivity·N rows, filters applied BEFORE fanout);
    2. one Arrow pass scores each (row, qid) against that qid's vector;
    3. one window shuffle on qid computes every query's top-K.

    Per-query latency becomes throughput: query count no longer multiplies
    scan cost."""
    from hybrid_vector_search_spark.functions.vector import per_qid_dot_scores
    from hybrid_vector_search_spark.plans.canonical import CANONICAL_QUERIES

    corpus = load_corpus(spark, sf_dir)
    qvecs = {cq.qid: query_vector(cq.seed) for cq in CANONICAL_QUERIES}
    match = F.array(
        *[
            F.when(
                compile_filters(corpus.schema, cq.filters), F.lit(cq.qid)
            ).otherwise(F.lit(None).cast("int"))
            for cq in CANONICAL_QUERIES
        ]
    )
    fanned = corpus.select(
        "id",
        "embedding",
        F.explode(F.filter(match, lambda x: x.isNotNull())).alias("qid"),
    )
    scored = per_qid_dot_scores(fanned, qvecs)
    return (
        grouped_topk(scored, ["qid"], 10)
        .select("qid", "id", F.round("score", 6).alias("score"))
        .orderBy("qid", F.col("score").desc(), "id")
    )


# ----------------------------------- canonical batch at the PARITY shape

_PARITY_COPIES = 76
_PARITY_TILE = 6
_PARITY_ID_SHIFT = 10_000_000


def _parity_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference-shape corpus derived from the testdata (the
    tools/parity_probe.py derivation, session-cached as scratch parquet):
    embeddings copy-shifted ×76 (id + c·10⁷) and dimension-tiled ×6 with
    a 1/√6 rescale so vectors stay unit-norm, documents metadata tiled
    with the same shift. At sf0.1 this is 152,000×384 — the shape
    BASELINE.md's numbers were measured on (reference N=150,346×384).
    Tiled components stay DOUBLE (no float32 re-quantization), so the
    tiled inner product equals the base inner product up to summation
    order and the DuckDB oracle can score the base vectors directly.
    Materialized once per (session, sf_dir); queries over it time the
    query, not the corpus build — the reference's own measurement rule
    (corpus resident before timing).

    r15: the parquet artifact is CONTENT-ADDRESSED and persistent across
    processes (scratch.persistent_artifact, the streaming-dedup
    prebuild pattern — r14 verdict next #3): rows are a pure function of
    (testdata, this builder's source — which embeds every tile/shift
    constant — and the fixed 32-way split), so a warm process reuses the
    existing files and the 4.6 s build drops out of bench warmup."""
    from hybrid_vector_search_spark.scratch import persistent_artifact

    def write(path: str) -> None:
        base = load_corpus(spark, sf_dir)
        scale = 1.0 / (_PARITY_TILE ** 0.5)
        copies = F.broadcast(
            spark.range(_PARITY_COPIES).select(F.col("id").alias("__c"))
        )
        tiled = (
            base.crossJoin(copies)
            .select(
                (F.col("id") + F.col("__c") * _PARITY_ID_SHIFT).alias("id"),
                F.flatten(
                    F.array_repeat(
                        F.transform(
                            "embedding",
                            lambda x: x.cast("double") * F.lit(scale),
                        ),
                        _PARITY_TILE,
                    )
                ).alias("embedding"),
                "label",
                "text",
                "lang",
                "source",
                "n_chars",
            )
        )
        tiled.repartition(32).write.mode("overwrite").parquet(path)

    return artifact(spark, ("parity_corpus", sf_dir), lambda: spark.read.parquet(
        persistent_artifact("parity_corpus", [_parity_corpus], "", sf_dir, write)
    ))


def _parity_qvec(seed: int) -> list[float]:
    scale = 1.0 / (_PARITY_TILE ** 0.5)
    return [x * scale for x in list(query_vector(seed)) * _PARITY_TILE]


def _parity_batch_oracle() -> str:
    """Same per-qid SQL as _canonical_batch_oracle over the REPLICATED
    corpus CTE. The oracle scores the BASE 64-d vectors: the ×6 tile with
    1/√6 rescale preserves the inner product exactly (Σ over 6 copies of
    (1/6)·e·q), so scores are copy-invariant and ties across the 76
    copies resolve by id ASC identically in both engines."""
    from pyspark.sql import types as T

    from hybrid_vector_search_spark.plans.canonical import CANONICAL_QUERIES

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("label", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    cte = f"""WITH copies AS (SELECT c FROM range({_PARITY_COPIES}) t(c)),
corpus AS (
  SELECT e.vec_id + {_PARITY_ID_SHIFT} * c AS id, e.embedding, e.label,
         d.text, d.lang, d.source, d.n_chars
  FROM embeddings e LEFT JOIN documents d ON e.vec_id = d.doc_id
  CROSS JOIN copies)"""
    parts = []
    for cq in CANONICAL_QUERIES:
        where = filters_to_sql(schema, cq.filters)
        qlit = sql_array_literal(query_vector(cq.seed))
        dot = f"list_dot_product(embedding::DOUBLE[], {qlit})"
        parts.append(
            f"(SELECT {cq.qid} AS qid, id, ROUND({dot}, 6) AS score\n"
            f" FROM corpus WHERE {where}\n"
            f" ORDER BY {dot} DESC, id ASC LIMIT {cq.k})"
        )
    return cte + "\n" + "\nUNION ALL\n".join(parts)


@register("hybrid_batch_parity", _parity_batch_oracle())
def hybrid_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10-query canonical batch AT THE REFERENCE'S CORPUS SHAPE
    (r6 VERDICT task #5): the same one-scan fanout plan as
    hybrid_batch_canonical, over the ×76/×384 parity corpus
    (_parity_corpus — the BASELINE_PARITY.md derivation as a registered,
    hash-checked query). This makes the probe's headline
    batch-throughput claim (~11× the reference's per-query pre_filter
    rate at N≈150k×384) driver-reproducible: the BENCH line times this
    exact plan, the DuckDB oracle re-derives the replicated corpus and
    all 10 top-Ks. Scale shape: filters prune BEFORE the fanout, one
    Arrow scoring pass, one qid-window shuffle — query count multiplies
    output rows, never corpus scans."""
    from hybrid_vector_search_spark.functions.vector import per_qid_dot_scores
    from hybrid_vector_search_spark.plans.canonical import CANONICAL_QUERIES

    corpus = _parity_corpus(spark, sf_dir)
    qvecs = {cq.qid: _parity_qvec(cq.seed) for cq in CANONICAL_QUERIES}
    match = F.array(
        *[
            F.when(
                compile_filters(corpus.schema, cq.filters), F.lit(cq.qid)
            ).otherwise(F.lit(None).cast("int"))
            for cq in CANONICAL_QUERIES
        ]
    )
    fanned = corpus.select(
        "id",
        "embedding",
        F.explode(F.filter(match, lambda x: x.isNotNull())).alias("qid"),
    )
    scored = per_qid_dot_scores(fanned, qvecs)
    return (
        grouped_topk(scored, ["qid"], 10)
        .select("qid", "id", F.round("score", 6).alias("score"))
        .orderBy("qid", F.col("score").desc(), "id")
    )


# ------------------------------------------------- batch similarity search

# Set-at-a-time multi-query KNN: ALL queries answered in ONE job — broadcast
# the tiny query table across the corpus, score JVM-side, window top-K per
# qid (SURVEY.md §7 "run the whole query table in one job"). At scale this
# is one corpus scan regardless of query count.
KNN_BATCH_SEEDS = (101, 103, 107)
KNN_BATCH_K = 5


@register("knn_batch_topk", None)  # oracle attached below (needs literals)
def knn_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch KNN join: ONE corpus scan scores every query per Arrow batch
    (GEMM against the stacked query matrix), then one window shuffle on
    qid runs all top-Ks."""
    from hybrid_vector_search_spark.functions.vector import multi_dot_scores

    emb = load_table(spark, sf_dir, "embeddings").withColumnRenamed("vec_id", "id")
    qvecs = {int(s): query_vector(s) for s in KNN_BATCH_SEEDS}
    scored = multi_dot_scores(emb, qvecs, normalize=True)
    return grouped_topk(scored, ["qid"], KNN_BATCH_K).select(
        F.col("qid").cast("int").alias("qid"),
        "id",
        F.round("score", 6).alias("score"),
    )


def _knn_batch_oracle() -> str:
    vals = ", ".join(
        f"({s}, {sql_array_literal(query_vector(s))})" for s in KNN_BATCH_SEEDS
    )
    return f"""WITH q(qid, qvec) AS (VALUES {vals}),
scored AS (
  SELECT q.qid, e.vec_id AS id,
    list_dot_product(e.embedding::DOUBLE[], q.qvec)
      / GREATEST(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
               * sqrt(list_dot_product(q.qvec, q.qvec)), 1e-12) AS score
  FROM embeddings e CROSS JOIN q
)
SELECT qid, id, ROUND(score, 6) AS score FROM (
  SELECT qid, id, score,
    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
  FROM scored) t
WHERE rn <= {KNN_BATCH_K}"""


ORACLES["knn_batch_topk"] = _knn_batch_oracle()


# Built IVF indexes, keyed by (sf_dir, quantizer, persisted). Index
# construction is an OFFLINE step (the reference builds FAISS artifacts
# ahead of time and loads them at query time — src/dataio/loaders.py:
# 176-216); queries measure probe + pruned scan, not quantizer training.
# (The KMeans build path stays exercised by tests/test_ivf.py and the
# load_corpus_index fallback chain; the registry's ANN queries use the
# fixed seeded quantizer below for oracle determinism.)


ANN_IVF_K = 10
ANN_IVF_NLIST = 16
ANN_IVF_NPROBE = 4
ANN_IVF_CENTROID_SEEDS = tuple(range(210, 210 + ANN_IVF_NLIST))
ANN_IVF_QSEED = 29


def _ann_ivf_centroids():
    import numpy as np

    return np.vstack([query_vector(s) for s in ANN_IVF_CENTROID_SEEDS])


def _ann_ivf_probed(qseed: int = ANN_IVF_QSEED) -> list[int]:
    """Probed list ids — a compile-time constant: centroids and the query
    vector are both seed-derived, so the probe plan is known at import."""
    import numpy as np

    scores = _ann_ivf_centroids() @ query_vector(qseed)
    order = np.argsort(-scores, kind="stable")[:ANN_IVF_NPROBE]
    return sorted(int(i) for i in order)


def _ann_ivf_oracle(qseed: int = ANN_IVF_QSEED) -> str:
    qlit = sql_array_literal(query_vector(qseed))
    dots = ", ".join(
        f"list_dot_product(e, {sql_array_literal(c)})"
        for c in _ann_ivf_centroids()
    )
    probed = ", ".join(str(i) for i in _ann_ivf_probed(qseed))
    return f"""WITH assigned AS (
  SELECT id, e, list_position(d, list_max(d)) - 1 AS list_id
  FROM (SELECT vec_id AS id, embedding::DOUBLE[] AS e, [{dots}] AS d
        FROM embeddings))
SELECT id, ROUND(list_dot_product(e, {qlit}), 6) AS score
FROM assigned
WHERE list_id IN ({probed})
ORDER BY list_dot_product(e, {qlit}) DESC, id ASC
LIMIT {ANN_IVF_K}"""


def _ann_ivf_fixed_index(spark: SparkSession, sf_dir: str, persist: bool = False):
    """Session-cached fixed-quantizer IVF index (offline build stage, like
    the reference's prebuilt FAISS artifacts — src/dataio/loaders.py:
    176-216). ``persist=True`` builds the partitionBy("list_id") parquet
    layout whose probe step is native partition pruning."""
    from hybrid_vector_search_spark.operators.ivf import IVFIndex

    def build():
        emb = load_table(spark, sf_dir, "embeddings").withColumnRenamed(
            "vec_id", "id"
        )
        path = None
        if persist:
            from hybrid_vector_search_spark.scratch import scratch_path

            # unique per process (and tracked for exit cleanup): a shared
            # deterministic name would be rebuilt with mode(overwrite) by
            # every process anyway (the cache is per-process), and a
            # concurrent process's overwrite would delete part files out
            # from under this session's live plan. A production deployment
            # publishes the index ONCE to a versioned shared path instead.
            path = scratch_path(
                "ivf_fixed_" + sf_dir.strip("/").replace("/", "_")
            )
        return IVFIndex.build_fixed(
            emb, _ann_ivf_centroids(), persist_path=path
        )

    return artifact(spark, ("ivf", sf_dir, "fixed", persist), build)


def _quantized_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached QUANTIZED corpus — the ingest-time materialization
    a serving layout keeps next to the raw vectors (FAISS stores codes,
    not floats; reference src/dataio/loaders.py builds its IVF artifacts
    offline for the same reason): per row, the int8 codes, the sign-pack
    word, the LSH bucket, and the IVF list assignment — each a pure
    function of the embedding, so computing them per evaluation query
    would re-run ingest work. The cross-strategy evaluation queries
    (metrics_recall_by_method, metrics_hamming_c_sweep) read this cache;
    expressions are byte-for-byte the ones the registered per-strategy
    queries use (quantize_int8_col / sign_pack_column / bucket_udf /
    the fixed-quantizer assignment), so derived candidate sets cannot
    drift from the strategies they evaluate."""
    from hybrid_vector_search_spark.functions import vector as _vec_mod
    from hybrid_vector_search_spark.functions.vector import (
        quantize_int8_col,
        sign_pack_column,
    )
    from hybrid_vector_search_spark.operators import lsh as LSH
    from hybrid_vector_search_spark.scratch import persistent_artifact

    def write(path: str) -> None:
        index = _ann_ivf_fixed_index(spark, sf_dir)
        planes = LSH.hyperplanes(LSH.DEFAULT_NBITS, dim=64)
        (
            index.assigned.select(
                "id",
                "embedding",
                "list_id",
                quantize_int8_col("embedding")
                .cast("array<long>")
                .alias("i8"),
                sign_pack_column("embedding").alias("pk"),
                LSH.bucket_udf(planes)(F.col("embedding")).alias("bucket"),
            )
            .write.mode("overwrite")
            .parquet(path)
        )

    def build() -> DataFrame:
        # r15: the codes are pure functions of (embedding, quantizer/LSH
        # code, fixed centroids) — content-address the parquet so a warm
        # process skips the 2.9 s recompute (streaming-dedup prebuild
        # pattern); the session still serves it RAM-resident via persist().
        path = persistent_artifact(
            "quant_corpus",
            [_vec_mod, LSH, _quantized_corpus, _ann_ivf_centroids],
            "",
            sf_dir,
            write,
        )
        df = spark.read.parquet(path).persist()
        df.count()  # materialize once (ingest stage)
        return df

    return artifact(spark, ("quant_corpus", sf_dir), build)


@register("ann_ivf_topk", _ann_ivf_oracle())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-K (reference K4/P3: src/dataio/loaders.py:106-151):
    coarse-quantizer list assignment, driver-side centroid probe, exact
    scoring restricted to the probed lists.

    Registered with a FIXED seeded coarse quantizer (IVFIndex.build_fixed)
    instead of the KMeans default: the assignment is then a pure function
    of (embedding, centroid literals), so the DuckDB oracle replays the
    identical argmax assignment + probe + top-K in SQL and the ANN result
    itself is value-hash checked — closing r1's no_oracle gap with a
    stronger check than a recall property row (which the isotropic
    synthetic testdata cannot meaningfully support: measured KMeans-IVF
    recall at 50% lists probed is ~chance). The KMeans quantizer remains
    the default build path, recall-property-tested in tests/test_ivf.py."""
    index = _ann_ivf_fixed_index(spark, sf_dir)
    plan, _probed = index.search_plan(
        query_vector(ANN_IVF_QSEED), k=ANN_IVF_K, nprobe=ANN_IVF_NPROBE
    )
    return plan.select("id", F.round("score", 6).alias("score"))


@register("ann_ivf_persisted_topk", _ann_ivf_oracle())
def ann_ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same IVF probe over the PERSISTED index layout: lists written
    as ``partitionBy("list_id")`` parquet (IVFIndex.build with
    persist_path — reference loaders.py:142-151), probe = ``list_id IN
    (...)`` over the partition column. At scale the probed fraction
    (nprobe/nlist) is exactly the fraction of bytes read: Catalyst's
    PartitionFilters prune unprobed list directories before I/O (plan
    evidence committed in PLANS.md §partition-pruning)."""
    index = _ann_ivf_fixed_index(spark, sf_dir, persist=True)
    plan, _probed = index.search_plan(
        query_vector(ANN_IVF_QSEED), k=ANN_IVF_K, nprobe=ANN_IVF_NPROBE
    )
    return plan.select("id", F.round("score", 6).alias("score"))


@register(
    "ann_ivf_local_serve_topk",
    _ann_ivf_oracle(),
    # side_effects: the serve work (Arrow block read + GEMM) happens at
    # build time and returns a literal — memoizing would make later
    # timings measure a cached createDataFrame (r13 review finding)
    side_effects=True,
)
def ann_ivf_local_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q=1 SERVING FAST PATH (r13): the single standing weak row in
    BASELINE_PARITY is the point-query ANN probe, bounded below by
    Spark's per-job launch floor — an in-process FAISS probe pays no
    such floor. This query answers the same probe the way FAISS does:
    the driver reads ONLY the probed ``list_id=`` parquet directories
    via Arrow (nprobe/nlist of the corpus — a few small files) and
    GEMMs in numpy float64, no Spark job at all. Same persisted
    artifacts, same probe planner, same scoring and tiebreak — pinned
    by sharing ann_ivf_topk's DuckDB oracle verbatim. The result is a
    driver-materialized K-row table (createDataFrame), which is the
    honest shape: a serving answer IS driver-resident. Spark remains
    the build path (the layout is written by a distributed job) and
    the serving path for q ≥ 2 (micro-batch amortization) or when the
    serving node cannot mount the storage."""
    index = _ann_ivf_fixed_index(spark, sf_dir, persist=True)
    rows = index.serve_local_topk(
        query_vector(ANN_IVF_QSEED), k=ANN_IVF_K, nprobe=ANN_IVF_NPROBE
    )
    out = local_df(spark, 
        [(i, s) for i, s in rows], "id long, score double"
    )
    return out.select("id", F.round("score", 6).alias("score"))


ANN_UPSERT_QSEED = 43


def _ann_ivf_upsert_oracle() -> str:
    """Replays the WHOLE upsert: the modified corpus (deletes by id mod
    17, in-place updates — reversed embeddings, permutation keeps unit
    norm — by id mod 13, inserts at id+5·10⁷ by id mod 19), then
    assignment, probe, and top-K over it. A hash match certifies that
    partition-local rewrites produced exactly the state a full rebuild
    over the modified corpus would."""
    qlit = sql_array_literal(query_vector(ANN_UPSERT_QSEED))
    dots = ", ".join(
        f"list_dot_product(e, {sql_array_literal(c)})"
        for c in _ann_ivf_centroids()
    )
    probed = ", ".join(str(i) for i in _ann_ivf_probed(ANN_UPSERT_QSEED))
    return f"""WITH base AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
kept AS (SELECT id, e FROM base WHERE id % 17 <> 0 AND id % 13 <> 0),
updated AS (SELECT id, list_reverse(e) AS e FROM base
            WHERE id % 13 = 0 AND id % 17 <> 0),
inserts AS (SELECT id + 50000000 AS id, e FROM base WHERE id % 19 = 0),
corpus2 AS (SELECT * FROM kept UNION ALL SELECT * FROM updated
            UNION ALL SELECT * FROM inserts),
assigned AS (
  SELECT id, e, list_position(d, list_max(d)) - 1 AS list_id
  FROM (SELECT id, e, [{dots}] AS d FROM corpus2))
SELECT id, ROUND(list_dot_product(e, {qlit}), 6) AS score
FROM assigned WHERE list_id IN ({probed})
ORDER BY list_dot_product(e, {qlit}) DESC, id ASC
LIMIT {ANN_IVF_K}"""


@register(
    "ann_ivf_upsert_topk", _ann_ivf_upsert_oracle(), side_effects=True
)
def ann_ivf_upsert_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-local UPSERT/DELETE on the persisted IVF index
    (operators/ivf.py upsert_partitioned) — the maintenance operation
    FAISS answers with a full rebuild: a deterministic batch deletes ids
    ≡0 (mod 17), replaces ids ≡0 (mod 13) with reversed embeddings (a
    norm-preserving permutation that MOVES rows across lists), and
    inserts shifted copies of ids ≡0 (mod 19); only the touched list
    partitions are rewritten (dynamic partition overwrite), untouched
    lists are untouched bytes. The probe then runs over the mutated
    layout, and the oracle rebuilds the modified corpus from scratch in
    SQL — a hash match proves partition-local maintenance ≡ full
    rebuild. ``side_effects=True``: the builder mutates (once per
    session) a scratch layout."""
    from hybrid_vector_search_spark.operators.ivf import (
        IVFIndex,
        upsert_partitioned,
    )
    from hybrid_vector_search_spark.scratch import scratch_path

    cents = _ann_ivf_centroids()

    def build():
        emb = (
            load_table(spark, sf_dir, "embeddings")
            .withColumnRenamed("vec_id", "id")
            .select("id", "embedding")
        )
        path = scratch_path(
            "ivf_upsert_" + sf_dir.strip("/").replace("/", "_")
        )
        IVFIndex.build_fixed(emb, cents, persist_path=path)
        deletes = emb.filter(F.col("id") % 17 == 0).select("id")
        updates = emb.filter(
            (F.col("id") % 13 == 0) & (F.col("id") % 17 != 0)
        ).select("id", F.reverse("embedding").alias("embedding"))
        inserts = emb.filter(F.col("id") % 19 == 0).select(
            (F.col("id") + 50_000_000).alias("id"), "embedding"
        )
        upsert_partitioned(
            spark, path, cents, updates.unionByName(inserts), deletes
        )
        return path

    path = artifact(spark, ("upsert_layout", sf_dir), build)
    index = IVFIndex(
        spark.read.parquet(path), cents, partitioned_path=path
    )
    plan, _probed = index.search_plan(
        query_vector(ANN_UPSERT_QSEED), k=ANN_IVF_K, nprobe=ANN_IVF_NPROBE
    )
    return plan.select("id", F.round("score", 6).alias("score"))


ANN_SNAP_QSEED = 47


def _ann_ivf_upsert_snapshot_oracle() -> str:
    """Both sides of the versioned upsert, replayed from scratch: the
    version-1 probe over the BASE corpus and the version-2 probe over
    the modified corpus (same mutation rules as ann_ivf_upsert_topk),
    each assignment + probe + top-K in SQL."""
    qlit = sql_array_literal(query_vector(ANN_SNAP_QSEED))
    dots = ", ".join(
        f"list_dot_product(e, {sql_array_literal(c)})"
        for c in _ann_ivf_centroids()
    )
    probed = ", ".join(str(i) for i in _ann_ivf_probed(ANN_SNAP_QSEED))
    return f"""WITH base AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
assigned1 AS (
  SELECT id, e, list_position(d, list_max(d)) - 1 AS list_id
  FROM (SELECT id, e, [{dots}] AS d FROM base)),
kept AS (SELECT id, e FROM base WHERE id % 17 <> 0 AND id % 13 <> 0),
updated AS (SELECT id, list_reverse(e) AS e FROM base
            WHERE id % 13 = 0 AND id % 17 <> 0),
inserts AS (SELECT id + 50000000 AS id, e FROM base WHERE id % 19 = 0),
corpus2 AS (SELECT * FROM kept UNION ALL SELECT * FROM updated
            UNION ALL SELECT * FROM inserts),
assigned2 AS (
  SELECT id, e, list_position(d, list_max(d)) - 1 AS list_id
  FROM (SELECT id, e, [{dots}] AS d FROM corpus2))
SELECT * FROM (
  (SELECT 1 AS version, id,
          ROUND(list_dot_product(e, {qlit}), 6) AS score
   FROM assigned1 WHERE list_id IN ({probed})
   ORDER BY list_dot_product(e, {qlit}) DESC, id ASC
   LIMIT {ANN_IVF_K})
  UNION ALL
  (SELECT 2 AS version, id,
          ROUND(list_dot_product(e, {qlit}), 6) AS score
   FROM assigned2 WHERE list_id IN ({probed})
   ORDER BY list_dot_product(e, {qlit}) DESC, id ASC
   LIMIT {ANN_IVF_K}))
ORDER BY version, score DESC, id"""


@register(
    "ann_ivf_upsert_snapshot",
    _ann_ivf_upsert_snapshot_oracle(),
    side_effects=True,
)
def ann_ivf_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF upsert routed through the VERSIONED-MANIFEST layout
    (sources/manifest.py commit_append_clustered / commit_replace_values
    — the r9 verdict's #1 ask): the index build commits one immutable
    file per list as snapshot v1, and the SAME deterministic mutation
    batch as ann_ivf_upsert_topk (deletes %17, reversed-embedding
    updates %13 that MOVE rows across lists, shifted inserts %19)
    commits as v2 — touched lists rewritten into new files, untouched
    lists carried as untouched BYTES. What the manifest buys over the
    hive-partitioned upsert (operators/ivf.py): readers keep serving v1
    with full isolation WHILE the upsert commits (no half-applied
    dynamic-overwrite window), and v1 stays pinned afterwards — a
    serving fleet drains to the new version at its own pace, a training
    run keeps its reproducible corpus. The query probes BOTH versions
    through stats-pruned snapshot reads (probe = manifest file skipping
    on the per-file list_id min==max stats; a runtime guard asserts
    files were actually skipped) and the oracle rebuilds each version's
    corpus from scratch in SQL: a hash match proves pinned-v1 ≡
    pre-upsert rebuild AND v2 ≡ post-upsert rebuild."""
    from hybrid_vector_search_spark.operators.ivf import (
        IVFIndex,
        assign_list_udf,
    )
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    cents = _ann_ivf_centroids()

    def build():
        emb = (
            load_table(spark, sf_dir, "embeddings")
            .withColumnRenamed("vec_id", "id")
            .select("id", "embedding")
        )
        assign = assign_list_udf(cents)
        assigned = emb.withColumn("list_id", assign(F.col("embedding")))
        root = scratch_path(
            "ivf_snap_" + sf_dir.strip("/").replace("/", "_")
        )
        M.commit_append_clustered(root, assigned, "list_id")  # v1
        # the persisted index is a derived root holding subject vectors:
        # register it for the GDPR cascade at build, targeted (a
        # subject's vectors live in a bounded set of lists) — r14
        from hybrid_vector_search_spark.sources.purge import (
            register_derived_root,
        )

        register_derived_root(
            root, "ivf_lists", root, "id",
            cluster_column="list_id", targeted=True,
        )

        removed = assigned.filter(
            (F.col("id") % 17 == 0) | (F.col("id") % 13 == 0)
        ).select("id", "list_id")
        updates = (
            emb.filter((F.col("id") % 13 == 0) & (F.col("id") % 17 != 0))
            .select("id", F.reverse("embedding").alias("embedding"))
            .withColumn("list_id", assign(F.col("embedding")))
        )
        inserts = assigned.filter(F.col("id") % 19 == 0).select(
            (F.col("id") + 50_000_000).alias("id"),
            "embedding",
            "list_id",  # unchanged embedding keeps its assignment
        )
        incoming = updates.unionByName(inserts)
        # touched = lists losing rows (deletes + update sources) ∪
        # lists gaining rows — bounded by nlist, tiny driver state
        touched = sorted(
            {
                int(r["list_id"])
                for r in removed.select("list_id")
                .distinct()
                .unionByName(incoming.select("list_id").distinct())
                .distinct()
                .collect()
            }
        )
        survivors = M.read_snapshot_pruned_in(
            spark, root, "list_id", touched, version=1
        ).join(removed.select("id"), "id", "left_anti")
        M.commit_replace_values(
            root,
            survivors.unionByName(incoming),
            "list_id",
            touched,
        )  # v2
        return root

    root = artifact(spark, ("ivf_snap", sf_dir), build)

    qvec = query_vector(ANN_SNAP_QSEED)
    probed = _ann_ivf_probed(ANN_SNAP_QSEED)

    def probe_version(version: int) -> DataFrame:
        _v, kept, total = M.snapshot_files_pruned_in(
            root, "list_id", probed, version=version
        )
        from hybrid_vector_search_spark.errors import ValidationError

        if not len(kept) < total:  # pragma: no cover - guard
            raise ValidationError(
                f"snapshot probe of v{version} read every file "
                f"({len(kept)}/{total}) — manifest stats pruning broke"
            )
        pruned = M.read_snapshot_pruned_in(
            spark, root, "list_id", probed, version=version
        )
        index = IVFIndex(pruned, cents)
        plan, _p = index.search_plan(
            qvec, k=ANN_IVF_K, nprobe=ANN_IVF_NPROBE
        )
        return plan.select(
            F.lit(version).alias("version"),
            "id",
            F.round("score", 6).alias("score"),
        )

    return (
        probe_version(1)
        .unionByName(probe_version(2))
        .orderBy("version", F.col("score").desc(), "id")
    )


ANN_BATCH_SEEDS = tuple(range(201, 211))


def _ann_ivf_batch_oracle() -> str:
    dots = ", ".join(
        f"list_dot_product(e, {sql_array_literal(c)})"
        for c in _ann_ivf_centroids()
    )
    parts = []
    for i, seed in enumerate(ANN_BATCH_SEEDS):
        qlit = sql_array_literal(query_vector(seed))
        probed = ", ".join(str(p) for p in _ann_ivf_probed(seed))
        parts.append(
            f"(SELECT {i + 1} AS qid, id,"
            f" ROUND(list_dot_product(e, {qlit}), 6) AS score\n"
            f" FROM assigned WHERE list_id IN ({probed})\n"
            f" ORDER BY list_dot_product(e, {qlit}) DESC, id ASC"
            f" LIMIT {ANN_IVF_K})"
        )
    return (
        f"""WITH assigned AS (
  SELECT id, e, list_position(d, list_max(d)) - 1 AS list_id
  FROM (SELECT vec_id AS id, embedding::DOUBLE[] AS e, [{dots}] AS d
        FROM embeddings))
"""
        + "\nUNION ALL\n".join(parts)
    )


@register("ann_ivf_batch_topk", _ann_ivf_batch_oracle())
def ann_ivf_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH ANN through the IVF layout — the 100 TB serving shape that
    amortizes the per-query job floor away: all queries answered in ONE
    job over one partition-pruned scan of the UNION of their probed
    lists. Each scanned row fans out only to the qids that probed its
    list (explode of the non-null whens, the hybrid_batch_canonical
    pattern), then ONE Arrow pass scores every (row, qid) pair with the
    einsum GEMM (per_qid_dot_scores — the multi-query regime where the
    Arrow transfer amortizes across the query set, the documented
    complement of the single-query JVM kernel), and one qid-window
    computes every top-K. Bytes read = |∪ probed lists| regardless of
    query count; FAISS's loop pays its per-probe cost per query forever.
    The oracle replays assignment, each query's probe set, and each
    top-K."""
    from hybrid_vector_search_spark.functions.vector import per_qid_dot_scores

    index = _ann_ivf_fixed_index(spark, sf_dir, persist=True)
    qvecs = {
        i + 1: query_vector(seed) for i, seed in enumerate(ANN_BATCH_SEEDS)
    }
    probes = {
        qid: index.probe(v, ANN_IVF_NPROBE) for qid, v in qvecs.items()
    }
    union = sorted({li for p in probes.values() for li in p})
    pruned = index.assigned.filter(F.col("list_id").isin(union))
    match = F.array(
        *[
            F.when(
                F.col("list_id").isin(probes[qid]), F.lit(qid)
            ).otherwise(F.lit(None).cast("int"))
            for qid in sorted(qvecs)
        ]
    )
    fanned = pruned.select(
        "id",
        "embedding",
        F.explode(F.filter(match, lambda x: x.isNotNull())).alias("qid"),
    )
    scored = per_qid_dot_scores(fanned, qvecs)
    return (
        grouped_topk(scored, ["qid"], ANN_IVF_K)
        .select("qid", "id", F.round("score", 6).alias("score"))
        .orderBy("qid", F.col("score").desc(), "id")
    )


ANN_MICROBATCH_SEEDS = (231, 233)


def _ann_ivf_microbatch_oracle() -> str:
    dots = ", ".join(
        f"list_dot_product(e, {sql_array_literal(c)})"
        for c in _ann_ivf_centroids()
    )
    parts = []
    for i, seed in enumerate(ANN_MICROBATCH_SEEDS):
        qlit = sql_array_literal(query_vector(seed))
        probed = ", ".join(str(p) for p in _ann_ivf_probed(seed))
        parts.append(
            f"(SELECT {i + 1} AS qid, id,"
            f" ROUND(list_dot_product(e, {qlit}), 6) AS score\n"
            f" FROM assigned WHERE list_id IN ({probed})\n"
            f" ORDER BY list_dot_product(e, {qlit}) DESC, id ASC"
            f" LIMIT {ANN_IVF_K})"
        )
    return (
        f"""WITH assigned AS (
  SELECT id, e, list_position(d, list_max(d)) - 1 AS list_id
  FROM (SELECT vec_id AS id, embedding::DOUBLE[] AS e, [{dots}] AS d
        FROM embeddings))
"""
        + "\nUNION ALL\n".join(parts)
    )


@register("ann_ivf_microbatch_topk", _ann_ivf_microbatch_oracle())
def ann_ivf_microbatch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MICRO-BATCHED ANN SERVING — the regime between the floor-bound
    per-query probe (ann_ivf_persisted_topk: one Spark job per query,
    ~job-launch-floor latency) and the q=10 batch (ann_ivf_batch_topk):
    a serving tier that coalesces whatever arrived in its dispatch
    window — here q=2, the smallest batch that already amortizes the
    job floor below 2× the FAISS per-query rate at the parity shape
    (BASELINE_PARITY.md micro-batch table) — into ONE job over the
    union of the probed lists. Same fan-out/GEMM/window shape as the
    batch query; the only serving-policy knob is q. The oracle replays
    both queries' probe sets and top-Ks."""
    from hybrid_vector_search_spark.functions.vector import per_qid_dot_scores

    index = _ann_ivf_fixed_index(spark, sf_dir, persist=True)
    qvecs = {
        i + 1: query_vector(seed)
        for i, seed in enumerate(ANN_MICROBATCH_SEEDS)
    }
    probes = {
        qid: index.probe(v, ANN_IVF_NPROBE) for qid, v in qvecs.items()
    }
    union = sorted({li for p in probes.values() for li in p})
    pruned = index.assigned.filter(F.col("list_id").isin(union))
    match = F.array(
        *[
            F.when(
                F.col("list_id").isin(probes[qid]), F.lit(qid)
            ).otherwise(F.lit(None).cast("int"))
            for qid in sorted(qvecs)
        ]
    )
    fanned = pruned.select(
        "id",
        "embedding",
        F.explode(F.filter(match, lambda x: x.isNotNull())).alias("qid"),
    )
    scored = per_qid_dot_scores(fanned, qvecs)
    return (
        grouped_topk(scored, ["qid"], ANN_IVF_K)
        .select("qid", "id", F.round("score", 6).alias("score"))
        .orderBy("qid", F.col("score").desc(), "id")
    )


@register(
    "ann_ivf_local_serve_batch",
    _ann_ivf_microbatch_oracle(),
    side_effects=True,  # same literal-result rule as the q=1 form
)
def ann_ivf_local_serve_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver-local serving tier's MULTI-QUERY form (r13): the same
    two coalesced queries as ann_ivf_microbatch_topk, answered without
    a Spark job — Arrow-read hot list blocks (LRU-cached in-process),
    one GEMM per block, per-query merge. Shares the micro-batch
    query's oracle VERBATIM, so a hash match certifies both executions
    of the serving tier return identical answers; the dispatcher picks
    by locality (can this node mount the storage?) and load, never by
    semantics."""
    index = _ann_ivf_fixed_index(spark, sf_dir, persist=True)
    qvecs = {
        i + 1: query_vector(seed)
        for i, seed in enumerate(ANN_MICROBATCH_SEEDS)
    }
    rows = index.serve_local_batch(
        qvecs, k=ANN_IVF_K, nprobe=ANN_IVF_NPROBE
    )
    out = local_df(spark, 
        [(q, i, sc) for q, i, sc in rows],
        "qid int, id long, score double",
    )
    return out.select(
        "qid", "id", F.round("score", 6).alias("score")
    ).orderBy("qid", F.col("score").desc(), "id")


#: (seed, filter dict) per batch query — post-filter semantics: each
#: query's predicate prunes ITS candidates from the probed lists
ANN_BATCH_FILTERED = (
    (201, {"lang": {"eq": "en"}}),
    (203, {"label": {"in": [1, 2, 3]}}),
    (205, {"n_chars": {"ge": 200}}),
    (207, {}),
    (209, {"source": {"in": ["src1", "src3"]}, "n_chars": {"le": 800}}),
)


def _ann_ivf_batch_filtered_oracle() -> str:
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("label", T.IntegerType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    dots = ", ".join(
        f"list_dot_product(emb, {sql_array_literal(c)})"
        for c in _ann_ivf_centroids()
    )
    parts = []
    for i, (seed, filters) in enumerate(ANN_BATCH_FILTERED):
        qlit = sql_array_literal(query_vector(seed))
        probed = ", ".join(str(p) for p in _ann_ivf_probed(seed))
        where = filters_to_sql(schema, filters) if filters else "TRUE"
        parts.append(
            f"(SELECT {i + 1} AS qid, id,"
            f" ROUND(list_dot_product(e, {qlit}), 6) AS score\n"
            f" FROM assigned WHERE list_id IN ({probed}) AND ({where})\n"
            f" ORDER BY list_dot_product(e, {qlit}) DESC, id ASC"
            f" LIMIT {ANN_IVF_K})"
        )
    return (
        f"""WITH corpus AS (
  SELECT e.vec_id AS id, e.embedding::DOUBLE[] AS emb, e.label,
         d.lang, d.source, d.n_chars
  FROM embeddings e LEFT JOIN documents d ON e.vec_id = d.doc_id),
assigned AS (
  SELECT id, emb AS e, label, lang, source, n_chars,
         list_position(d, list_max(d)) - 1 AS list_id
  FROM (SELECT *, [{dots}] AS d FROM corpus))
"""
        + "\nUNION ALL\n".join(parts)
    )


@register("ann_ivf_batch_filtered_topk", _ann_ivf_batch_filtered_oracle())
def ann_ivf_batch_filtered_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FILTERED batch ANN — the full hybrid serving shape at the batch
    regime: every query carries its own metadata predicate, and all of
    them are answered in ONE job over one partition-pruned scan of the
    union of probed lists. The per-row fanout condition is (list ∈
    qid's probe set) AND (row passes qid's predicate), so a row reaches
    a qid's Arrow GEMM lane only when it is a live candidate for that
    query — post-filter semantics per query, identical to the ladder
    backends' final rung, without a per-query job. Metadata joins the
    pruned candidates (|∪ probed lists| rows), never the full corpus,
    so join traffic is bounded by the probe union regardless of query
    count. The oracle replays assignment, each probe set, each
    predicate, and each top-K."""
    from hybrid_vector_search_spark.functions.vector import per_qid_dot_scores

    index = _ann_ivf_fixed_index(spark, sf_dir, persist=True)
    qvecs = {
        i + 1: query_vector(seed)
        for i, (seed, _) in enumerate(ANN_BATCH_FILTERED)
    }
    probes = {
        qid: index.probe(v, ANN_IVF_NPROBE) for qid, v in qvecs.items()
    }
    union = sorted({li for p in probes.values() for li in p})
    pruned = index.assigned.filter(F.col("list_id").isin(union))
    docs = load_table(spark, sf_dir, "documents").withColumnRenamed(
        "doc_id", "id"
    )
    wide = pruned.join(docs, "id", "left")
    match = F.array(
        *[
            F.when(
                F.col("list_id").isin(probes[i + 1])
                & compile_filters(wide.schema, filters),
                F.lit(i + 1),
            ).otherwise(F.lit(None).cast("int"))
            for i, (_, filters) in enumerate(ANN_BATCH_FILTERED)
        ]
    )
    fanned = wide.select(
        "id",
        "embedding",
        F.explode(F.filter(match, lambda x: x.isNotNull())).alias("qid"),
    )
    scored = per_qid_dot_scores(fanned, qvecs)
    return (
        grouped_topk(scored, ["qid"], ANN_IVF_K)
        .select("qid", "id", F.round("score", 6).alias("score"))
        .orderBy("qid", F.col("score").desc(), "id")
    )


# ---- product quantization (PQ) — moved from registry_lakehouse (r12 trim)

from hybrid_vector_search_spark.operators import pq as PQ  # noqa: E402

_PQ_DIM = 64  # testdata embedding dim (TESTDATA.md); oracle literals match
_PQ_QSEED = 37


@register(
    "vector_pq_codes",
    "SELECT vec_id AS id, "
    + ", ".join(
        f"{e} AS c{i}" for i, e in enumerate(PQ.pq_code_exprs(dim=_PQ_DIM))
    )
    + "\nFROM embeddings ORDER BY id",
)
def vector_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding (operators/pq.py): 64-d float32 → 4 × 4-bit codes
    (64× storage cut). One Arrow pass, one GEMM per subspace; the seeded
    codebooks make assignment a pure function of (embedding, literals),
    so the oracle replays it and the codes are value-hash checked
    (exposed as scalar columns c0..c3 for the driver's comparer)."""
    emb = load_table(spark, sf_dir, "embeddings").withColumnRenamed(
        "vec_id", "id"
    )
    codes = PQ.pq_encode(emb, PQ.pq_codebooks(_PQ_DIM))
    return codes.select(
        "id", *[codes.codes[i].alias(f"c{i}") for i in range(PQ.PQ_M)]
    ).orderBy("id")


def _pq_adc_oracle() -> str:
    q = query_vector(_PQ_QSEED)
    adc = PQ.adc_score_sql(q, dim=_PQ_DIM)
    return f"""WITH codes AS (
  SELECT vec_id AS id, {PQ.pq_codes_sql(dim=_PQ_DIM)} AS codes
  FROM embeddings)
SELECT id, ROUND({adc}, 6) AS score
FROM codes
ORDER BY {adc} DESC, id ASC
LIMIT 10"""


@register("ann_pq_adc_topk", _pq_adc_oracle())
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-K over PQ codes (operators/pq.py adc_score_col): the query
    is tabulated against every centroid once (m × ks lookup tables as
    array literals) and each row's approximate score is m ``element_at``
    lookups summed — a whole-stage-codegen scan that reads ONLY the 4-int
    code column (the float embedding column is pruned away entirely: at
    100 TB this scan touches 1/64th of the bytes). Same tie discipline as
    every top-K: score DESC, id ASC."""
    emb = load_table(spark, sf_dir, "embeddings").withColumnRenamed(
        "vec_id", "id"
    )
    books = PQ.pq_codebooks(_PQ_DIM)
    codes = PQ.pq_encode(emb, books)
    scored = codes.select(
        "id", PQ.adc_score_col(books, query_vector(_PQ_QSEED)).alias("score")
    )
    return topk(scored, 10).select("id", F.round("score", 6).alias("score"))


_IVFPQ_QSEED = 103
_IVFPQ_C = 100


def _ivfpq_oracle() -> str:
    q = query_vector(_IVFPQ_QSEED)
    qlit = sql_array_literal(q)
    dots = ", ".join(
        f"list_dot_product(e, {sql_array_literal(c)})"
        for c in _ann_ivf_centroids()
    )
    probed = ", ".join(str(i) for i in _ann_ivf_probed(_IVFPQ_QSEED))
    adc = PQ.adc_score_sql(q, codes="codes", dim=_PQ_DIM)
    return f"""WITH assigned AS (
  SELECT id, embedding, e, list_position(d, list_max(d)) - 1 AS list_id
  FROM (SELECT vec_id AS id, embedding, embedding::DOUBLE[] AS e,
               [{dots}] AS d
        FROM embeddings)),
coded AS (
  SELECT id, e, {PQ.pq_codes_sql(dim=_PQ_DIM)} AS codes
  FROM assigned WHERE list_id IN ({probed})),
cand AS (
  SELECT id, e FROM coded
  ORDER BY {adc} DESC, id ASC LIMIT {_IVFPQ_C})
SELECT id, ROUND(list_dot_product(e, {qlit}), 6) AS score
FROM cand
ORDER BY list_dot_product(e, {qlit}) DESC, id ASC
LIMIT {ANN_IVF_K}"""


@register("ann_ivfpq_rerank_topk", _ivfpq_oracle())
def ann_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ COMPOSED — the canonical large-scale serving shape
    (FAISS ``IndexIVFPQ``: coarse lists prune I/O, PQ codes shrink what
    remains, exact rerank restores precision on the survivors), built
    from the engine's existing pieces exactly the way the layouts
    compose at 100 TB:

    * the probe prunes to nprobe/nlist of the lists (bytes ∝ probed
      fraction on the persisted layout);
    * within the probed lists the ADC stage reads ONLY the 4-int PQ
      code column (1/64th of the vector bytes) — m ``element_at``
      lookups per row, whole-stage codegen;
    * the top-{_IVFPQ_C} ADC candidates (bounded, broadcastable)
      semi-join back to the float vectors for the exact float64 rerank
      of the final top-K.

    Every stage is a pure function of (embedding, seeded centroids ×
    codebooks), so the oracle replays assignment, probe, encoding, ADC
    ranking, and rerank end-to-end — the composed pipeline gets the
    same value-hash certificate its three ingredients each have."""
    from hybrid_vector_search_spark.functions.vector import dot_score_column

    q = query_vector(_IVFPQ_QSEED)
    index = _ann_ivf_fixed_index(spark, sf_dir)
    probed = index.probe(q, ANN_IVF_NPROBE)
    pruned = index.assigned.filter(F.col("list_id").isin(probed))
    books = PQ.pq_codebooks(_PQ_DIM)
    codes = PQ.pq_encode(pruned, books)
    cand = (
        codes.select(
            "id", PQ.adc_score_col(books, q).alias("adc")
        )
        .orderBy(F.col("adc").desc(), F.col("id").asc())
        .limit(_IVFPQ_C)
    )
    rerank = index.assigned.select("id", "embedding").join(
        F.broadcast(cand.select("id")), "id"
    )
    scored = rerank.select(
        "id", dot_score_column(q).alias("score")
    )
    return topk(scored, ANN_IVF_K).select(
        "id", F.round("score", 6).alias("score")
    )


# --------------------------------------- local serving tier (r13)

def _local_serve(spark: SparkSession, sf_dir: str):
    """Session-cached LocalCorpusServe over the wide corpus — built once
    (one Arrow collect behind the distributed size gate), then every
    local query is in-process. The residency twin of the reference's
    startup load (artifacts/artifacts.py:165-194). It is the tier of the
    memoized ``serve_or_plan`` dispatch over the cached corpus, the one
    exact and pre_filter searches on that corpus answer from."""
    from hybrid_vector_search_spark.serving import (
        LocalCorpusServe,
        serve_or_plan,
    )

    def build():
        # a purge of the corpus root must reach RAM too: drop the resident
        # tier so the next query rebuilds from post-purge storage (r14)
        _on_purge(sf_dir, "local_serve")
        corpus = load_corpus(spark, sf_dir)
        served = serve_or_plan(corpus)
        if served.route == "resident":
            return served.tier
        return LocalCorpusServe.from_corpus(corpus)

    return artifact(spark, ("local_serve", sf_dir), build)


def _on_purge(sf_dir: str, kind: str) -> None:
    """Drop every ``kind`` session artifact, and every memoized
    ``serving.serve_or_plan`` tier, when ``sf_dir`` is purged."""
    from hybrid_vector_search_spark.sources.purge import (
        register_resident_invalidator,
    )

    def drop() -> None:
        clear_artifacts(kind)
        clear_artifacts("serve_or_plan")

    register_resident_invalidator(sf_dir, drop)


def _local_rows_df(spark: SparkSession, rows) -> DataFrame:
    out = local_df(spark, 
        [(int(i), float(s)) for i, s in rows], "id long, score double"
    )
    return out.select("id", F.round("score", 6).alias("score"))


@register(
    "hybrid_topk_local_exact",
    ORACLES["hybrid_topk_unfiltered"],
    # side_effects: the serving work (GEMM + merge) happens at BUILD
    # time and returns a literal — the prepared-plan memo would make
    # every later timing measure a cached 10-row createDataFrame
    # instead of the serve path (r13 review finding on bench.py)
    side_effects=True,
)
def hybrid_topk_local_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The EXACT strategy's q=1 serving fast path (serving.py): the
    resident matrix GEMVs against the query with no Spark job —
    the execution shape the reference's ~136 ms/query exact row assumes
    (whole corpus in one process's RAM). Shares
    ``hybrid_topk_unfiltered``'s DuckDB oracle verbatim: same scoring,
    same (score DESC, id ASC) tiebreak, so the fast path is value-hash
    pinned to the distributed plan's answer. The distributed exact scan
    remains the only path beyond the RAM gate; this tier exists because
    per-query Spark latency is floor-bound (BASELINE_PARITY.md), not
    because the plan is wrong."""
    serve = _local_serve(spark, sf_dir)
    case = HYBRID_CASES["hybrid_topk_unfiltered"]
    rows = serve.exact_topk(query_vector(case["seed"]), case["k"])
    return _local_rows_df(spark, rows)


@register(
    "hybrid_topk_local_prefilter",
    ORACLES["hybrid_topk_strict"],
    side_effects=True,  # same literal-result rule as local_exact
)
def hybrid_topk_local_prefilter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRE_FILTER strategy in-process: the engine's filter DSL
    evaluated by ``predicates.filters_mask_pandas`` over the resident
    metadata (one semantics with the Spark compiler and the SQL
    renderer — parity pytest-pinned), then a GEMM over only the
    surviving rows: cost ∝ selectivity, the reference's headline
    pre_filter property, now without the per-query job floor. Shares
    ``hybrid_topk_strict``'s oracle verbatim (strict three-conjunct
    filters), so the serving answer is hash-pinned to the distributed
    strategy's."""
    serve = _local_serve(spark, sf_dir)
    case = HYBRID_CASES["hybrid_topk_strict"]
    rows = serve.prefilter_topk(
        query_vector(case["seed"]), case["filters"], case["k"]
    )
    return _local_rows_df(spark, rows)


def _local_serve_sharded(spark: SparkSession, sf_dir: str):
    """Session-cached 4-way ShardedCorpusServe — the serving tier past
    the single-collect RAM gate (r14): same residency model as
    _local_serve, with the corpus hash-split so no single Arrow collect
    exceeds the per-shard budget and queries merge per-shard top-K.
    Four shards here EXERCISES the fan-out/merge on the test corpora
    (which fit one shard); past the 4 GiB gate the byte-derived shard
    count takes over (tools/shard_serve_probe.py measures that shape)."""
    from hybrid_vector_search_spark.serving import ShardedCorpusServe

    def build():
        _on_purge(sf_dir, "sharded_serve")
        return ShardedCorpusServe.from_corpus(
            load_corpus(spark, sf_dir), n_shards=4
        )

    return artifact(spark, ("sharded_serve", sf_dir), build)


@register(
    "hybrid_topk_sharded_exact",
    ORACLES["hybrid_topk_unfiltered"],
    side_effects=True,  # same literal-result rule as local_exact
)
def hybrid_topk_sharded_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT serving through the SHARDED tier (serving.py
    ShardedCorpusServe): per-shard GEMM + global (score DESC, id ASC)
    merge, hash-pinned to the same ``hybrid_topk_unfiltered`` oracle as
    the monolithic fast path and the distributed plan — three execution
    shapes, one answer. This is the r13 verdict's missing piece: the
    q=1 point-query serving path no longer dead-ends at the
    single-collect RAM gate; a corpus past 4 GiB shards instead of
    refusing (refusal now lives at the total-RAM budget, where the
    distributed plans genuinely are the only exact path)."""
    serve = _local_serve_sharded(spark, sf_dir)
    case = HYBRID_CASES["hybrid_topk_unfiltered"]
    rows = serve.exact_topk(query_vector(case["seed"]), case["k"])
    return _local_rows_df(spark, rows)


@register(
    "hybrid_topk_sharded_prefilter",
    ORACLES["hybrid_topk_strict"],
    side_effects=True,  # same literal-result rule as local_exact
)
def hybrid_topk_sharded_prefilter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRE_FILTER through the sharded tier: the DSL mask evaluates per
    shard over that shard's resident metadata (same pandas evaluator as
    the monolithic path), each shard GEMMs only its survivors, and the
    merge is the same dominated-candidates argument as exact (every
    shard returned its best k SURVIVORS, and the global filter is the
    union of per-shard filters). Shares ``hybrid_topk_strict``'s oracle
    verbatim with hybrid_topk_local_prefilter."""
    serve = _local_serve_sharded(spark, sf_dir)
    case = HYBRID_CASES["hybrid_topk_strict"]
    rows = serve.prefilter_topk(
        query_vector(case["seed"]), case["filters"], case["k"]
    )
    return _local_rows_df(spark, rows)


# --------------------------------------- costed serve dispatch (r15)

#: (route label, budget overrides as fractions of the measured
#: footprint, canonical case) — three synthetic footprint regimes over
#: the SAME corpus: the routing decision is footprint-vs-budget, so
#: shrinking the budgets below the measured bytes exercises exactly the
#: decision a growing corpus would against the fixed production budgets
_COSTED_SERVE_ROUTES = (
    ("resident", None, None, "hybrid_topk_unfiltered"),
    ("sharded", 2, None, "hybrid_topk_strict"),
    ("distributed", 4, 2, "hybrid_topk_exact"),
)


def _costed_serve_oracle() -> str:
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    parts = []
    for route, _sb, _tb, case_name in _COSTED_SERVE_ROUTES:
        case = HYBRID_CASES[case_name]
        where = filters_to_sql(schema, case["filters"])
        qlit = sql_array_literal(query_vector(case["seed"]))
        method = "pre_filter" if case["filters"] else "exact"
        multi = "TRUE" if route == "sharded" else "FALSE"
        parts.append(
            f"""SELECT '{route}' AS route, '{method}' AS method,
  {multi} AS multi_shard,
  (SELECT COUNT(*) FROM corpus WHERE {where}) AS scored_vectors,
  id,
  ROUND(list_dot_product(embedding::DOUBLE[], {qlit}), 6) AS score
FROM corpus
WHERE {where}
ORDER BY list_dot_product(embedding::DOUBLE[], {qlit}) DESC, id ASC
LIMIT {case['k']}"""
        )
    sel = "\nUNION ALL\n".join(f"SELECT * FROM ({p})" for p in parts)
    return (
        f"{CORPUS_CTE}\nSELECT * FROM ({sel})"
        " ORDER BY route, score DESC, id ASC"
    )


def _route_of(notes: str) -> str:
    """The route name of a ``notes`` field that leads with the route
    (``route=sharded(2); …`` → ``sharded``)."""
    return notes.split(";", 1)[0].partition("=")[2].split("(", 1)[0]


@register(
    "strategy_costed_serve",
    _costed_serve_oracle(),
    side_effects=True,  # serving work happens at build time (literal rows)
)
def strategy_costed_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE COSTED SERVE DISPATCH end-to-end (r14 verdict, next #1):
    ``serving.serve_or_plan`` measures the corpus footprint once and
    routes to the cheapest exact tier — resident under the
    single-collect budget, sharded under the total-RAM budget (shard
    count byte-derived), distributed Spark plans beyond — replacing the
    manually-chosen LocalCorpusServe / ShardedCorpusServe objects with
    the engine analog of the reference's ``get_backend``
    (src/harness/run.py:71-87): one name, the right physical plan.

    Three dispatches over the SAME corpus with budgets pinned at
    fractions of the measured footprint force each route in turn (the
    decision is footprint÷budget, so a shrunken budget is
    indistinguishable from a grown corpus), and each answers its
    canonical hybrid case through ``CostedServe.search``. The emitted
    ``route``/``method`` columns are parsed FROM the returned stats
    notes — not re-stated literals — so the hash gate pins the actual
    routing decision, the §2.10 ``scored_vectors`` number per route
    (N for exact, |allowed| for pre_filter — the oracle recomputes both
    in SQL), the multi-shard flag from the real tier object, and the
    value-identity of all three execution shapes against one DuckDB
    replay."""
    from hybrid_vector_search_spark.serving import (
        _resident_footprint,
        serve_or_plan,
    )

    schema = (
        "route string, method string, multi_shard boolean,"
        " scored_vectors long, id long, score double"
    )
    def build():
        corpus = load_corpus(spark, sf_dir)
        _n, _d, need = _resident_footprint(corpus, "embedding")
        dispatches = {}
        for route, sb_div, tb_div, _case in _COSTED_SERVE_ROUTES:
            kwargs = {}
            if sb_div:
                kwargs["shard_bytes"] = max(need // sb_div, 1)
            if tb_div:
                kwargs["max_total_bytes"] = max(need // tb_div, 1)
            dispatches[route] = serve_or_plan(corpus, **kwargs)
        _on_purge(sf_dir, "costed_serve")
        return dispatches

    dispatches = artifact(spark, ("costed_serve", sf_dir), build)

    def run_route(route_spec):
        expect, _sb, _tb, case_name = route_spec
        cs = dispatches[expect]
        case = HYBRID_CASES[case_name]
        ids, stats = cs.search(
            query_vector(case["seed"]), case["filters"], case["k"]
        )
        # provenance from the STATS, not from this loop's labels: the
        # hash gate must pin what the dispatch actually did
        route = _route_of(stats["notes"])
        return [
            (
                route,
                stats["method"],
                cs.n_shards > 1,
                int(stats["scored_vectors"]),
                int(i),
                round(float(s), 6),
            )
            for i, s in zip(ids, stats["scores"])
        ]

    # the three routes are independent answer paths over read-only tiers
    # (driver GEMM / threaded shard fan-out / one Spark job): run them
    # concurrently so the Spark route's tail overlaps the local ones
    # (guide §2.6) — map() preserves route order, results identical
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(len(_COSTED_SERVE_ROUTES)) as ex:
        route_rows = list(ex.map(run_route, _COSTED_SERVE_ROUTES))
    out = [r for rows in route_rows for r in rows]
    return (
        local_df(spark, out, schema)
        .orderBy("route", F.desc("score"), "id")
    )


def _ann_costed_oracle() -> str:
    base = _ann_ivf_oracle()
    parts = [
        f"SELECT '{route}' AS route, t.* FROM ({base}) t"
        for route in ("distributed", "local_probe")
    ]
    sel = "\nUNION ALL\n".join(f"SELECT * FROM ({p})" for p in parts)
    return (
        f"SELECT * FROM ({sel}) ORDER BY route, score DESC, id ASC"
    )


@register(
    "ann_costed_serve",
    _ann_costed_oracle(),
    side_effects=True,  # serving work at build time, literal rows
)
def ann_costed_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE COSTED DISPATCH, ANN SIDE (r15 — completes the get_backend
    analogy for the post_filter family): ``serving.ann_serve_or_plan``
    measures the expected probed-block footprint once (rows/nlist ×
    nprobe × row bytes) and routes the q=1 point probe — driver-local
    Arrow read of only the probed ``list_id=`` directories under the
    probe budget (no Spark job; the only shape that beats the per-job
    launch floor), the partition-pruned distributed plan beyond it (the
    100 TB regime where even one probe's lists dwarf a node).

    Two dispatches over the SAME persisted fixed-quantizer index force
    both routes (budget 0 is indistinguishable from lists grown past
    the node), answer the same probe, and share ``ann_ivf_topk``'s
    DuckDB oracle — the ``route`` column is parsed from the returned
    stats notes, so the hash gate pins the actual routing decision and
    the value-identity of both execution shapes at once."""
    from concurrent.futures import ThreadPoolExecutor

    from hybrid_vector_search_spark.serving import ann_serve_or_plan

    index = _ann_ivf_fixed_index(spark, sf_dir, persist=True)

    def run_budget(max_bytes):
        cs = ann_serve_or_plan(
            index, nprobe=ANN_IVF_NPROBE, max_probe_bytes=max_bytes
        )
        ids, stats = cs.search(query_vector(ANN_IVF_QSEED), ANN_IVF_K)
        route = _route_of(stats["notes"])
        return [
            (route, int(i), round(float(s), 6))
            for i, s in zip(ids, stats["scores"])
        ]

    # the two dispatches are independent (driver Arrow read vs one Spark
    # job over the same immutable layout): overlap them (guide §2.6);
    # map() preserves budget order, results identical
    with ThreadPoolExecutor(2) as ex:
        # default budget → local; 0 → distributed
        budget_rows = list(ex.map(run_budget, (None, 0)))
    out = [r for rows in budget_rows for r in rows]
    return (
        local_df(spark, out, "route string, id long, score double")
        .orderBy("route", F.desc("score"), "id")
    )


# ----------------------------- index maintenance on staleness (r15)

_RECL_NLIST = 8
_RECL_NPROBE = 2
_RECL_STALE_THRESHOLD = 0.1  # unindexed fraction that triggers rebuild
_RECL_QSEED = 31


def _recl_oracle() -> str:
    L, qlit = _RECL_NLIST, sql_array_literal(query_vector(_RECL_QSEED))
    return f"""WITH v1 AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings
  WHERE vec_id % 5 <> 0),
v2 AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
c1 AS (SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cid, e
       FROM (SELECT id, e FROM v1 ORDER BY id LIMIT {L})),
c2 AS (SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cid, e
       FROM (SELECT id, e FROM v2 ORDER BY id LIMIT {L})),
a1 AS (SELECT id, cid FROM (
  SELECT v.id, c.cid, ROW_NUMBER() OVER (PARTITION BY v.id
    ORDER BY list_dot_product(v.e, c.e) DESC, c.cid ASC) AS rn
  FROM v1 v CROSS JOIN c1 c) WHERE rn = 1),
a2 AS (SELECT id, cid FROM (
  SELECT v.id, c.cid, ROW_NUMBER() OVER (PARTITION BY v.id
    ORDER BY list_dot_product(v.e, c.e) DESC, c.cid ASC) AS rn
  FROM v2 v CROSS JOIN c1 c) WHERE rn = 1),
t AS (SELECT (SELECT COUNT(*) FROM v1) AS t1,
             (SELECT COUNT(*) FROM v2) AS t2),
h1 AS (SELECT cid, COUNT(*) AS n1 FROM a1 GROUP BY cid),
h2 AS (SELECT cid, COUNT(*) AS n2 FROM a2 GROUP BY cid),
audit AS (
  SELECT ROUND((t.t2 - t.t1)::DOUBLE / t.t2, 6) AS stale_frac,
    ROUND(SUM(((COALESCE(n2, 0) + 1.0) / (t.t2 + {L})
             - (COALESCE(n1, 0) + 1.0) / (t.t1 + {L}))
      * ln(((COALESCE(n2, 0) + 1.0) / (t.t2 + {L}))
         / ((COALESCE(n1, 0) + 1.0) / (t.t1 + {L})))), 6) AS assign_psi,
    (t.t2 - t.t1)::DOUBLE / t.t2 > {_RECL_STALE_THRESHOLD} AS triggered
  FROM h2 FULL JOIN h1 USING (cid) CROSS JOIN t GROUP BY t.t1, t.t2),
probe2 AS (
  SELECT cid FROM c2
  ORDER BY list_dot_product(e, {qlit}) DESC, cid ASC
  LIMIT {_RECL_NPROBE}),
anew AS (SELECT id, e, cid FROM (
  SELECT v.id, v.e, c.cid, ROW_NUMBER() OVER (PARTITION BY v.id
    ORDER BY list_dot_product(v.e, c.e) DESC, c.cid ASC) AS rn
  FROM v2 v CROSS JOIN c2 c) WHERE rn = 1),
topk AS (
  SELECT id, ROUND(list_dot_product(e, {qlit}), 6) AS score
  FROM anew WHERE cid IN (SELECT cid FROM probe2)
  ORDER BY list_dot_product(e, {qlit}) DESC, id ASC
  LIMIT {ANN_IVF_K})
SELECT audit.stale_frac, audit.assign_psi, audit.triggered,
       topk.id, topk.score
FROM topk CROSS JOIN audit
ORDER BY score DESC, id ASC"""


@register("ann_ivf_recluster_on_drift", _recl_oracle(), side_effects=True)
def ann_ivf_recluster_on_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INDEX STALENESS → MAINTENANCE, closed-loop (r15 — ties the
    monitoring, lakehouse, and ANN families together): an IVF index
    built at corpus version v1 keeps serving while the corpus grows to
    v2; at 100 TB nobody re-clusters on a timer — maintenance must
    TRIGGER from measured staleness. Two measured signals, both
    driver-bounded: the COVERAGE gap (fraction of v2 rows the v1 index
    never assigned — plain counts) and the assignment-distribution
    PSI under the v1 centroids (``operators.ivf.assignment_drift_psi``
    — 2 × nlist histogram rows, the index twin of the sketch-drift
    family). When the coverage gap passes the pinned threshold, the
    rebuild runs: fresh deterministic centroids from v2 (lowest-id
    rows — the engine's fixed-quantizer construction, so the oracle
    replays the whole loop), re-assignment, and ONE clustered rewrite
    commit into the index's manifest root — versioned maintenance; the
    pre-rebuild index still time-travels. The answer rows are the q=1
    probe THROUGH the rebuilt index (nprobe of nlist lists read), with
    the audit columns riding every row, so the hash gate pins the
    trigger arithmetic, the rebuild, and the serving answer at once."""
    import numpy as np

    from hybrid_vector_search_spark.operators.ivf import (
        assign_list_udf,
        assignment_drift_psi,
    )
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    schema = (
        "stale_frac double, assign_psi double, triggered boolean,"
        " id long, score double"
    )
    def build():
        emb = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("id"), "embedding"
        )
        v1 = emb.filter(F.col("id") % 5 != 0)
        v2 = emb

        def lowest_cents(df) -> np.ndarray:
            rows = df.orderBy("id").limit(_RECL_NLIST).collect()
            return np.vstack(
                [np.asarray(r["embedding"], dtype=np.float64) for r in rows]
            )

        cents1 = lowest_cents(v1)
        t1, t2 = v1.count(), v2.count()
        stale = (t2 - t1) / t2
        psi = assignment_drift_psi(v1, v2, cents1)
        triggered = stale > _RECL_STALE_THRESHOLD

        root = scratch_path(
            "ivf_recluster_" + sf_dir.strip("/").replace("/", "_")
        )
        M.commit_append_clustered(
            root,
            v1.withColumn(
                "list_id", assign_list_udf(cents1)(F.col("embedding"))
            ),
            "list_id",
        )
        # the maintenance commit: versioned clustered rewrite under fresh
        # centroids — the pre-rebuild index remains readable at version 1
        cents2 = lowest_cents(v2) if triggered else cents1
        M.commit_rewrite_clustered(
            root,
            v2.withColumn(
                "list_id", assign_list_udf(cents2)(F.col("embedding"))
            ),
            "list_id",
        )
        q = query_vector(_RECL_QSEED)
        order = np.argsort(-(cents2 @ np.asarray(q, dtype=np.float64)),
                           kind="stable")
        probed = sorted(int(i) for i in order[:_RECL_NPROBE])
        from hybrid_vector_search_spark.functions.vector import (
            dot_score_column,
        )

        scored = (
            M.read_snapshot(spark, root)
            .filter(F.col("list_id").isin(probed))
            .select("id", dot_score_column(q).alias("score"))
        )
        return [
            (
                round(stale, 6),
                round(psi, 6),
                bool(triggered),
                int(r["id"]),
                round(float(r["score"]), 6),
            )
            for r in topk(scored, ANN_IVF_K).collect()
        ]

    rows = artifact(spark, ("recl", sf_dir), build)
    return local_df(spark, rows, schema).orderBy(
        F.desc("score"), "id"
    )
