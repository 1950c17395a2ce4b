"""Sampling & sequence packing, lexical (BM25) + vector hybrid retrieval.

r11 mechanical split of plans/registry.py (r10 verdict task 7): this is a
contiguous slice of the original file, imported by the registry hub in
original order, so registration order, query names, and oracle SQL are
byte-identical to the single-file registry. Shared infra (register,
QUERIES/ORACLES, load_corpus, caches) stays in the hub; cross-family
helpers are imported explicitly below.
"""

from __future__ import annotations

from hybrid_vector_search_spark.operators import dedup as DD

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hybrid_vector_search_spark.functions.portable import (
    round_portable,
    round_portable_sql,
)
from hybrid_vector_search_spark.operators.topk import grouped_topk, topk
from hybrid_vector_search_spark.queryvecs import query_vector, sql_array_literal
from hybrid_vector_search_spark.session import artifact
from hybrid_vector_search_spark.sources.loaders import (
    load_table,
)

from hybrid_vector_search_spark.plans.registry import (  # noqa: E402
    local_df,
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
    _quantized_corpus,
)
from hybrid_vector_search_spark.plans.registry_corpus import (  # noqa: E402
    MATRYOSHKA_C,
    _hamming_rerank_oracle,
    _int8_rerank_oracle,
)

# ------------------------------------------- sampling & sequence packing

from hybrid_vector_search_spark.operators import sampling as SP  # noqa: E402

SAMPLE_FRACTION = 0.1
STRATUM_N = 20
PACK_BUDGET = 2048


@register(
    "docs_sample_hash",
    f"""SELECT doc_id, lang FROM documents
WHERE {SP.hash_sample_where_sql('doc_id', SAMPLE_FRACTION)}""",
)
def docs_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ≈10% corpus sample by key hash — map-only (the filter
    is pushable map work, zero shuffle at any scale) and sticky: a row's
    membership depends only on its key, so reruns over grown datasets
    keep previously sampled rows."""
    docs = load_table(spark, sf_dir, "documents")
    return SP.hash_sample(docs, "doc_id", SAMPLE_FRACTION).select(
        "doc_id", "lang"
    )


@register(
    "docs_sample_stratified",
    f"""SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {SP.portable_hash_key_sql('doc_id')}, doc_id) AS rn
  FROM documents) t
WHERE rn <= {STRATUM_N}""",
)
def docs_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 docs per language, drawn uniformly by deterministic hash
    order (a seed-stable reservoir) — one window shuffle on the stratum
    key; balances strata a plain fraction sample would skew."""
    docs = load_table(spark, sf_dir, "documents")
    return SP.stratified_sample(docs, ["lang"], "doc_id", STRATUM_N).select(
        "doc_id", "lang", "n_chars"
    )


WEIGHTED_SAMPLE_N = 50


@register(
    "docs_weighted_sample",
    f"""SELECT doc_id, lang, n_chars FROM documents
ORDER BY {SP.weighted_sample_where_sql('doc_id', 'n_chars + 1')} DESC,
  doc_id ASC
LIMIT {WEIGHTED_SAMPLE_N}""",
)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED deterministic sample (Efraimidis–Spirakis
    A-Res, operators/sampling.py weighted_sample): draw {N} docs with
    probability ∝ weight — here length (n_chars + 1), the standard
    long-document upweighting in pretraining mixtures; any quality
    score column slots in. Completes the sampling family's third leg
    (hash_sample = uniform fraction, stratified = exact-N per group,
    this = weight-proportional): the ranking key ln(u)/w is map-side
    arithmetic on a portable hash, the cut is one bounded TakeOrdered,
    and membership is STICKY in (id, weight) — incremental reruns over
    a grown corpus keep previously drawn rows whose keys still rank,
    so downstream shards don't churn."""
    docs = load_table(spark, sf_dir, "documents")
    return SP.weighted_sample(
        docs, "doc_id", F.col("n_chars") + F.lit(1), WEIGHTED_SAMPLE_N
    ).select("doc_id", "lang", "n_chars")


@register(
    "docs_pack_sequences",
    SP.pack_sequences_sql(PACK_BUDGET, ["lang"]),
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: next-fit by cumulative token offset
    in deterministic id order within each language — the shard-assignment
    step before sequence training. Pure integer window arithmetic,
    bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    return SP.pack_sequences(docs, PACK_BUDGET, ["lang"])


@register(
    "dedup_docs_canonical",
    """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM (SELECT doc_id,
        md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents)
GROUP BY fp
ORDER BY doc_id""",
)
def dedup_docs_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized dedup output: the canonical keeper id (min doc_id) per
    exact-duplicate group with its copy count — the 'documents after
    dedup' table a training pipeline actually ships."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        DD.exact_dedup_groups(docs)
        .select(F.col("keeper_id").alias("doc_id"), F.col("n_docs").alias("n_copies"))
        .orderBy("doc_id")
    )


@register(
    "tpch_q14_promo_revenue",
    """SELECT ROUND(
    100.0 * SUM(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
    / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1996-02-01'""",
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: month-sliced fact scan (shipdate pushed to
    parquet) joined to the broadcast part dim; conditional aggregation in
    one map-side pass."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-02-01").cast("timestamp")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q4_order_priority",
    """SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority""",
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join with a non-equi residual
    (lineitem shipped >60 days after the order date), then a tiny
    aggregate. The quarter filter is pushed to the orders scan; the
    semi-join deduplicates matches before the shuffle so multi-lineitem
    orders count once. (The testdata lacks l_commitdate/l_receiptdate, so
    the late-shipment predicate stands in for Q4's commit<receipt.)"""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    quarter = orders.filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    late = (li.l_orderkey == quarter.o_orderkey) & (
        li.l_shipdate > quarter.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        quarter.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q10_returned_items",
    f"""SELECT c_custkey, c_name, n_name,
  {round_portable_sql(round_portable_sql("SUM(l_extendedprice * (1 - l_discount))", 4), 2)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20""",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last quarter —
    fact-to-fact join narrowed by pushed date/returnflag filters,
    broadcast dims (customer at sf0.1 is broadcastable; at cluster scale
    the orders⋈lineitem shuffle keys dominate), grouped top-20."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    return (
        orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .join(li.filter(F.col("l_returnflag") == "R"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            # revenue summands live on a 4-decimal grid (2-decimal price ×
            # 2-decimal discount); snap the order-dependent float sum back
            # onto that grid before the display rounding so both engines
            # round the same double (functions/portable.py)
            round_portable(
                round_portable(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    4,
                ),
                2,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def _lsh_oracle(qseed: int = 31) -> str:
    from hybrid_vector_search_spark.operators import lsh as LSH

    planes = LSH.hyperplanes(LSH.DEFAULT_NBITS, dim=64)
    q = query_vector(qseed)
    probes = LSH.probe_set(q, planes, probe_hamming=1)
    qlit = sql_array_literal(q)
    bucket = LSH.bucket_sql_expr(planes)
    return f"""SELECT vec_id AS id,
  ROUND(list_dot_product(embedding::DOUBLE[], {qlit}), 6) AS score
FROM embeddings
WHERE {bucket} IN ({', '.join(str(b) for b in probes)})
ORDER BY list_dot_product(embedding::DOUBLE[], {qlit}) DESC, vec_id ASC
LIMIT 10"""


LSH_PERSISTED_QSEED = 33


def _lsh_layout(spark: SparkSession, sf_dir: str) -> tuple:
    """Session-cached persisted LSH bucket layout (ingest-time artifact,
    built once per session × sf_dir like the IVF/HNSW layouts)."""
    from hybrid_vector_search_spark.operators import lsh as LSH
    from hybrid_vector_search_spark.scratch import scratch_path

    def build():
        emb = load_table(spark, sf_dir, "embeddings").withColumnRenamed(
            "vec_id", "id"
        )
        path = scratch_path("lsh_buckets_" + sf_dir.strip("/").replace("/", "_"))
        return LSH.build_bucketed_layout(emb, path)

    return artifact(spark, ("lsh_layout", sf_dir), build)


@register("ann_lsh_topk", _lsh_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-K (sign random projection, multi-probe
    Hamming≤1): the stateless-build alternative scale path to the IVF
    index. Probes the SESSION's persisted bucket layout (one file per
    bucket, ``bucket IN`` = PartitionFilter) — the in-memory
    per-query bucketing variant (operators/lsh.py lsh_topk_plan)
    recomputed the bucket expression over every row on every call,
    ~6× this plan's cost in the headline set (VERDICT r7 next #8); the
    stateless path stays covered by tests/test_lsh.py. Deterministic
    hyperplanes make this oracle-checkable, unlike typical ANN."""
    from hybrid_vector_search_spark.operators import lsh as LSH

    layout, planes = _lsh_layout(spark, sf_dir)
    plan, _probes = LSH.lsh_topk_plan_persisted(
        layout, planes, query_vector(31), k=10
    )
    return plan.select("id", F.round("score", 6).alias("score"))


@register("ann_lsh_persisted_topk", _lsh_oracle(LSH_PERSISTED_QSEED))
def ann_lsh_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN over the PERSISTED bucket layout — the module docstring's
    100 TB shape made real (operators/lsh.py build_bucketed_layout):
    bucket materialized at ingest as ``partitionBy("bucket")`` parquet,
    one file per bucket (pre-write repartition — the r7 IVF layout
    lesson), so the multi-probe ``bucket IN (...)`` is a PartitionFilter
    and only probed bucket directories are read. Unlike the IVF lists
    this layout needs NO training job to build and is stable under
    appends. Scoring is the single-query JVM kernel — the probe plan
    carries zero Python eval nodes (pinned in tests/test_plan_shapes.py).
    Same oracle family as ann_lsh_topk at an independent query seed."""
    from hybrid_vector_search_spark.operators import lsh as LSH

    layout, planes = _lsh_layout(spark, sf_dir)
    plan, _probes = LSH.lsh_topk_plan_persisted(
        layout, planes, query_vector(LSH_PERSISTED_QSEED), k=10
    )
    return plan.select("id", F.round("score", 6).alias("score"))


# ---------------------------------------- lexical + vector hybrid retrieval

RRF_TERMS = ("vector", "join", "filter")
RRF_QSEED = 41
RRF_LEG_K = 20
RRF_K = 60
RRF_FINAL_K = 10

#: the batch serving shape: qid = query seed, each with its own term set
#: (terms drawn from the corpus vocabulary, FIXTURES.md §4)
RRF_BATCH = (
    (41, ("vector", "join", "filter")),
    (42, ("stream", "window", "merge")),
    (43, ("hash", "scan", "sort")),
)


RECALL_EVAL_QSEED = 71


def _recall_by_method_oracle() -> str:
    """Replays FOUR ANN/quantized strategies end-to-end at one shared
    query seed — each method's full oracle (assignment+probe for IVF,
    multi-probe buckets for LSH, sign-pack Hamming prefilter, int8
    integer prefilter) nested as a subquery — intersects each with the
    exact top-10, and emits recall@10 per method. The hash certifies
    the evaluation harness itself, not just one strategy."""
    q = query_vector(RECALL_EVAL_QSEED)
    qlit = sql_array_literal(q)
    dot = f"list_dot_product(embedding::DOUBLE[], {qlit})"
    exact_sql = (
        f"SELECT vec_id AS id FROM embeddings"
        f" ORDER BY {dot} DESC, vec_id ASC LIMIT {ANN_IVF_K}"
    )
    methods = {
        "ivf": f"SELECT id FROM ({_ann_ivf_oracle(RECALL_EVAL_QSEED)}) s",
        "lsh": f"SELECT id FROM ({_lsh_oracle(RECALL_EVAL_QSEED)}) s",
        "hamming": (
            f"SELECT id FROM ({_hamming_rerank_oracle(RECALL_EVAL_QSEED)}) s"
        ),
        "int8": (
            f"SELECT vec_id AS id FROM"
            f" ({_int8_rerank_oracle(RECALL_EVAL_QSEED, 100, ANN_IVF_K)}) s"
        ),
    }
    ctes = [f"exact_t AS ({exact_sql})"] + [
        f"{m}_t AS ({sql})" for m, sql in methods.items()
    ]
    selects = [
        f"SELECT '{m}' AS method, ROUND((SELECT COUNT(*) FROM {m}_t"
        f" JOIN exact_t USING (id)) / {ANN_IVF_K}.0, 6) AS recall"
        for m in sorted(methods)
    ]
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY method"
    )


@register(
    "metrics_recall_by_method",
    _recall_by_method_oracle(),
    side_effects=True,
)
def metrics_recall_by_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's CORE mission — "evaluate competing execution
    strategies for recall against a brute-force oracle"
    (src/eval/oracle.py; SURVEY.md §1) — widened to every deterministic
    ANN/quantized family this engine ships, in one report: recall@10 vs
    the exact scan at a shared query seed for IVF (probed lists), LSH
    (multi-probe buckets), binary-Hamming rerank, and int8 rerank. Each
    method's candidate generation is a pure function of (corpus, seed),
    so the whole evaluation — four strategies AND the measurement — is
    value-hash certified, which no recall number over a trained/
    stochastic index can be.

    SET-AT-A-TIME evaluation (VERDICT r8 next #1): instead of five
    serial full plans (one per strategy — the reference's per-strategy
    loop, src/harness/run.py:155-199), ONE union job over the
    session-cached QUANTIZED corpus (_quantized_corpus — int8 codes,
    sign-pack word, LSH bucket, and IVF list are ingest-time
    materializations, computed once per session like the persisted
    index layouts) collects every strategy's bounded candidate slice —
    top-K for the filtered families, top-candidate-budget WITH exact
    scores for the rerank families. Per scanned row the only per-query
    arithmetic left is the float64 dot, one XOR+bit_count, and a
    64-long integer dot over the cached codes. Every slice is derived
    by the SAME expressions and tie-breaks the registered per-strategy
    queries run, so the report still cannot drift from the engine; the
    five bounded TakeOrdered jobs are submitted CONCURRENTLY (Spark's
    scheduler runs independent actions in parallel — the documented
    pattern for fan-out evaluation), so wall time is one job over
    in-memory data instead of five serial scans; stacking them in one
    union plan was measured SLOWER (each limit branch plans its own
    exchange — stage-scheduling floor dominates a 5-branch union).
    ``side_effects``: the collected slices are driver-side set
    intersections (≤ 2·100 + 3·K rows)."""
    import numpy as np

    from hybrid_vector_search_spark.functions.vector import (
        dot_score_column,
        long_array_lit,
        sign_pack_value,
    )
    from hybrid_vector_search_spark.operators import lsh as LSH

    q = query_vector(RECALL_EVAL_QSEED)
    index = _ann_ivf_fixed_index(spark, sf_dir)
    probed = index.probe(q, ANN_IVF_NPROBE)
    planes = LSH.hyperplanes(LSH.DEFAULT_NBITS, dim=64)
    lsh_probes = LSH.probe_set(q, planes, probe_hamming=1)
    qbits = sign_pack_value(q)
    q8 = [int(np.floor(x * 127.0 + 0.5)) for x in q]
    iscore = F.aggregate(
        F.zip_with(
            F.col("i8"),
            long_array_lit(q8),  # one parse, not 64 lit() round trips
            lambda x, y: x * y,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    ham = F.bit_count(F.col("pk").bitwiseXOR(F.lit(qbits)))
    base = _quantized_corpus(spark, sf_dir)
    score = dot_score_column(q).alias("score")

    plans = {
        "exact": topk(base.select("id", score), ANN_IVF_K),
        "ivf": topk(
            base.filter(F.col("list_id").isin(probed)).select("id", score),
            ANN_IVF_K,
        ),
        "lsh": topk(
            base.filter(F.col("bucket").isin(lsh_probes)).select(
                "id", score
            ),
            ANN_IVF_K,
        ),
        # rerank shape = _hamming_rerank_plan's: the float64 dot runs
        # on the C survivors only, never the full corpus
        "hamming": base.select("id", "embedding", ham.alias("ham"))
        .orderBy(F.col("ham").asc(), F.col("id").asc())
        .limit(100)
        .select("id", score),
        "int8": base.select("id", "embedding", iscore.alias("iscore"))
        .orderBy(F.col("iscore").desc(), F.col("id").asc())
        .limit(100)
        .select("id", score),
    }
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(len(plans)) as ex:
        slices = dict(
            zip(plans, ex.map(lambda p: p.collect(), plans.values()))
        )

    def rerank_top(tag):
        cand = sorted(slices[tag], key=lambda r: (-r["score"], r["id"]))
        return {int(r["id"]) for r in cand[:ANN_IVF_K]}

    exact_set = {int(r["id"]) for r in slices["exact"]}
    rows = [
        (m, round(len(rerank_top(m) & exact_set) / float(ANN_IVF_K), 6))
        for m in ("hamming", "int8", "ivf", "lsh")
    ]
    return local_df(spark, rows, "method STRING, recall DOUBLE")


NPROBE_SWEEP = (1, 2, 4, 8, 16)
NPROBE_SWEEP_QSEED = 73


def _nprobe_sweep_oracle() -> str:
    """Replays the recall-vs-nprobe trade-off curve: for each nprobe the
    probed list set is a compile-time constant (seeded centroids ×
    seeded query), so each sweep point's candidate set, top-10, and
    exact-intersection recall are all SQL-derivable."""
    import numpy as np

    q = query_vector(NPROBE_SWEEP_QSEED)
    qlit = sql_array_literal(q)
    dots = ", ".join(
        f"list_dot_product(e, {sql_array_literal(c)})"
        for c in _ann_ivf_centroids()
    )
    scores = _ann_ivf_centroids() @ np.asarray(q, dtype=np.float64)
    order = np.argsort(-scores, kind="stable")
    head = f"""WITH assigned AS (
  SELECT id, e, list_position(d, list_max(d)) - 1 AS list_id
  FROM (SELECT vec_id AS id, embedding::DOUBLE[] AS e, [{dots}] AS d
        FROM embeddings)),
exact_t AS (
  SELECT id FROM assigned
  ORDER BY list_dot_product(e, {qlit}) DESC, id ASC LIMIT {ANN_IVF_K})"""
    parts = []
    for nprobe in NPROBE_SWEEP:
        probed = ", ".join(
            str(int(i)) for i in sorted(order[:nprobe])
        )
        parts.append(
            f"""(SELECT {nprobe} AS nprobe, ROUND((
  SELECT COUNT(*) FROM (
    SELECT id FROM assigned WHERE list_id IN ({probed})
    ORDER BY list_dot_product(e, {qlit}) DESC, id ASC
    LIMIT {ANN_IVF_K}) t JOIN exact_t USING (id)
  ) / {ANN_IVF_K}.0, 6) AS recall)"""
        )
    return (
        head + "\n" + "\nUNION ALL\n".join(parts) + "\nORDER BY nprobe"
    )


@register(
    "metrics_ivf_nprobe_sweep", _nprobe_sweep_oracle(), side_effects=True
)
def metrics_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-vs-work TRADE-OFF CURVE — the relationship the
    reference's whole evaluation harness exists to plot (recall against
    nprobe/latency per strategy, src/eval/*): recall@10 vs the exact
    scan at every rung of an nprobe sweep over the fixed-quantizer IVF
    index. Monotone non-decreasing by construction (a superset of
    probed lists can only add candidates) and ending at the full-probe
    rung's exact-equality when every list is probed; each sweep point's
    probe set is a pure function of (centroids, seed), so the oracle
    replays the ENTIRE curve. This is the artifact an operator reads to
    pick nprobe for a recall SLO — the engine's answer to "how much
    work buys how much recall".

    ONE-SCAN derivation (VERDICT r8 next #1): a probe set is a PREFIX
    of the stable centroid ranking, so nprobe N's candidates ⊆ nprobe
    N′>N's — rank the corpus ONCE per list (row_number over a
    list_id-partitioned window, same (score DESC, id ASC) tie-break as
    topk) and every rung's top-K is derivable from the per-list top-K
    union: a row in the top-K of any probed-prefix union is necessarily
    in its own list's top-K. One Spark job (≤ nlist·K rows collected)
    replaces |sweep|+1 serial plans; the exact anchor falls out of the
    same rows because the window runs over ALL lists."""
    import numpy as np

    from hybrid_vector_search_spark.functions.vector import dot_score_column
    from pyspark.sql import Window

    q = query_vector(NPROBE_SWEEP_QSEED)
    index = _ann_ivf_fixed_index(spark, sf_dir)
    order = np.argsort(
        -(index.centroids @ np.asarray(q, dtype=np.float64)),
        kind="stable",
    )
    rank_of = {int(li): r for r, li in enumerate(order)}
    w = Window.partitionBy("list_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    top = (
        index.assigned.select(
            "id", "list_id", dot_score_column(q).alias("score")
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= ANN_IVF_K)
        .select("id", "list_id", "score")
        .collect()
    )

    def top_of(rows_):
        rows_ = sorted(rows_, key=lambda r: (-r["score"], r["id"]))
        return {int(r["id"]) for r in rows_[:ANN_IVF_K]}

    exact = top_of(top)  # all lists = the full corpus
    rows = []
    for nprobe in NPROBE_SWEEP:
        got = top_of(
            r for r in top if rank_of[int(r["list_id"])] < nprobe
        )
        rows.append(
            (nprobe, round(len(got & exact) / float(ANN_IVF_K), 6))
        )
    return local_df(spark, rows, "nprobe LONG, recall DOUBLE")


HAMMING_SWEEP_C = (10, 25, 50, 100, 200)
HAMMING_SWEEP_QSEED = 83


def _hamming_c_sweep_oracle() -> str:
    """Replays the Hamming rerank's candidate-budget curve: per C, the
    prefilter keeps the C nearest sign-codes (bit_count ties broken by
    id), the exact rerank keeps top-10, and recall vs the exact scan is
    derived — all from the same deterministic pack."""
    from hybrid_vector_search_spark.functions.vector import (
        sign_pack_sql,
        sign_pack_value,
    )

    q = query_vector(HAMMING_SWEEP_QSEED)
    qbits = sign_pack_value(q)
    qlit = sql_array_literal(q)
    head = f"""WITH packed AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS e,
         {sign_pack_sql('embedding')} AS pk
  FROM embeddings),
exact_t AS (
  SELECT id FROM packed
  ORDER BY list_dot_product(e, {qlit}) DESC, id ASC LIMIT {ANN_IVF_K})"""
    parts = []
    for c in HAMMING_SWEEP_C:
        parts.append(
            f"""(SELECT {c} AS cand_k, ROUND((SELECT COUNT(*) FROM (
    SELECT id FROM (
      SELECT id, e FROM packed
      ORDER BY bit_count(xor(pk, {qbits}::BIGINT)) ASC, id ASC
      LIMIT {c}) cand
    ORDER BY list_dot_product(e, {qlit}) DESC, id ASC
    LIMIT {ANN_IVF_K}) t JOIN exact_t USING (id)
  ) / {ANN_IVF_K}.0, 6) AS recall)"""
        )
    return (
        head + "\n" + "\nUNION ALL\n".join(parts) + "\nORDER BY cand_k"
    )


@register(
    "metrics_hamming_c_sweep", _hamming_c_sweep_oracle(), side_effects=True
)
def metrics_hamming_c_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third trade-off curve, completing the triptych across every
    prefilter family (IVF: nprobe, LSH: probe radius, binary: candidate
    budget C): recall@10 of the sign-pack Hamming rerank per candidate
    budget. C is the knob that prices the exact-rerank stage — recall
    is monotone in C by construction (a larger candidate superset can
    only improve the reranked top-K) — and every point replays in SQL
    because the pack is a pure function of the embedding.

    PREFIX derivation (VERDICT r8 next #1): budget C's candidate set is
    by definition the first C rows of the total (hamming ASC, id ASC)
    order — a PREFIX of budget max(C)'s set — so ONE bounded
    TakeOrdered at C = max collects every budget's candidates WITH
    their exact scores, and each rung's reranked top-K is a driver-side
    sort of a prefix. A single union job (max-C candidate branch +
    exact-anchor branch, both bounded TakeOrdered stages running in
    parallel over the session-cached quantized corpus — the sign-pack
    word is an ingest-time column, _quantized_corpus) replaces
    |budgets|+1 serial full plans; expressions and tie-breaks are
    exactly _hamming_rerank_plan's, so the sets cannot drift from the
    registered query's."""
    from hybrid_vector_search_spark.functions.vector import (
        dot_score_column,
        sign_pack_value,
    )

    q = query_vector(HAMMING_SWEEP_QSEED)
    qbits = sign_pack_value(q)
    narrow = _quantized_corpus(spark, sf_dir).select(
        F.col("id").alias("vec_id"),
        F.bit_count(F.col("pk").bitwiseXOR(F.lit(qbits))).alias("ham"),
        dot_score_column(q).alias("score"),
    )
    collected = (
        narrow.orderBy(F.col("ham").asc(), F.col("vec_id").asc())
        .limit(max(HAMMING_SWEEP_C))
        .select(F.lit("cand").alias("tag"), "vec_id", "ham", "score")
        .unionAll(
            topk(
                narrow.select("vec_id", "score"),
                ANN_IVF_K,
                id_col="vec_id",
            ).select(
                F.lit("exact").alias("tag"),
                "vec_id",
                F.lit(None).cast("int").alias("ham"),
                "score",
            )
        )
        .collect()
    )
    cand = sorted(
        (r for r in collected if r["tag"] == "cand"),
        key=lambda r: (r["ham"], r["vec_id"]),
    )
    exact = {
        int(r["vec_id"]) for r in collected if r["tag"] == "exact"
    }
    rows = []
    for c in HAMMING_SWEEP_C:
        got = {
            int(r["vec_id"])
            for r in sorted(
                cand[:c], key=lambda r: (-r["score"], r["vec_id"])
            )[:ANN_IVF_K]
        }
        rows.append((c, round(len(got & exact) / float(ANN_IVF_K), 6)))
    return local_df(spark, rows, "cand_k LONG, recall DOUBLE")


LSH_SWEEP_RADII = (0, 1, 2, 3)
LSH_SWEEP_QSEED = 79


def _lsh_radius_sweep_oracle() -> str:
    """Replays the LSH recall-vs-work curve: per probe radius, the
    probe-bucket set is a compile-time constant, so both measures —
    recall@10 against the exact scan AND the candidate count the probe
    actually scans (the work axis) — derive in SQL."""
    from hybrid_vector_search_spark.operators import lsh as LSH

    q = query_vector(LSH_SWEEP_QSEED)
    planes = LSH.hyperplanes(LSH.DEFAULT_NBITS, dim=64)
    qlit = sql_array_literal(q)
    bucket = LSH.bucket_sql_expr(planes)
    head = f"""WITH bucketed AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS e, {bucket} AS bucket
  FROM embeddings),
exact_t AS (
  SELECT id FROM bucketed
  ORDER BY list_dot_product(e, {qlit}) DESC, id ASC LIMIT {ANN_IVF_K})"""
    parts = []
    for r in LSH_SWEEP_RADII:
        probes = ", ".join(
            str(b) for b in LSH.probe_set(q, planes, probe_hamming=r)
        )
        parts.append(
            f"""(SELECT {r} AS radius,
  (SELECT COUNT(*) FROM bucketed WHERE bucket IN ({probes}))
    AS candidates,
  ROUND((SELECT COUNT(*) FROM (
    SELECT id FROM bucketed WHERE bucket IN ({probes})
    ORDER BY list_dot_product(e, {qlit}) DESC, id ASC
    LIMIT {ANN_IVF_K}) t JOIN exact_t USING (id)
  ) / {ANN_IVF_K}.0, 6) AS recall)"""
        )
    return (
        head + "\n" + "\nUNION ALL\n".join(parts) + "\nORDER BY radius"
    )


@register(
    "metrics_lsh_radius_sweep",
    _lsh_radius_sweep_oracle(),
    side_effects=True,
)
def metrics_lsh_radius_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH trade-off curve with BOTH axes measured: per multi-probe
    Hamming radius, recall@10 against the exact scan AND the candidate
    count the probe scans — recall is what you buy, candidates are what
    you pay (bytes read ∝ probed buckets), and the radius is the knob.
    At radius = nbits every bucket is probed, so the curve ends at
    recall 1.0 with candidates = N — the built-in sanity anchor. Each
    radius's probe set is a pure function of (hyperplanes, seed), so
    the oracle replays the whole curve, work column included —
    the companion of metrics_ivf_nprobe_sweep on the stateless-index
    family.

    ONE-SCAN derivation (VERDICT r8 next #1): probe sets are NESTED in
    the radius (radius r's buckets ⊆ radius r+1's), so each bucket has
    a MINIMUM radius at which it is first probed — a tiny driver-side
    map over the 2^nbits bucket ids. One window job partitioned by that
    min-radius group yields, per group, the member count (the work
    axis: candidates at radius r = Σ counts of groups ≤ r) and the
    per-group top-K (a row in any radius-prefix union's top-K is in its
    own group's top-K); rows outside every probe set form a sentinel
    group so the exact anchor derives from the same collected rows.
    One job (≤ (|radii|+1)·K rows) replaces 1 + 2·|radii| serial
    plans."""
    from pyspark.sql import Window

    from hybrid_vector_search_spark.functions.vector import dot_score_column
    from hybrid_vector_search_spark.operators import lsh as LSH

    q = query_vector(LSH_SWEEP_QSEED)
    planes = LSH.hyperplanes(LSH.DEFAULT_NBITS, dim=64)
    UNPROBED = 99  # sentinel: outside even the widest probe set
    mr = None
    for radius in LSH_SWEEP_RADII:  # ascending → first hit = min radius
        cond = F.col("bucket").isin(
            LSH.probe_set(q, planes, probe_hamming=radius)
        )
        mr = F.when(cond, F.lit(radius)) if mr is None else mr.when(
            cond, F.lit(radius)
        )
    mr = mr.otherwise(F.lit(UNPROBED))
    w = Window.partitionBy("mr")
    ranked = (
        # bucket is an ingest-time column (_quantized_corpus), same
        # bucket_udf expression the registered LSH queries assign
        _quantized_corpus(spark, sf_dir)
        .select(
            "id", dot_score_column(q).alias("score"), mr.alias("mr")
        )
        .withColumn("cnt", F.count(F.lit(1)).over(w))
        .withColumn(
            "rk",
            F.row_number().over(
                w.orderBy(F.col("score").desc(), F.col("id").asc())
            ),
        )
        .filter(F.col("rk") <= ANN_IVF_K)
        .select("id", "score", "mr", "cnt")
        .collect()
    )
    group_n = {int(r["mr"]): int(r["cnt"]) for r in ranked}

    def top_of(rows_):
        rows_ = sorted(rows_, key=lambda r: (-r["score"], r["id"]))
        return {int(r["id"]) for r in rows_[:ANN_IVF_K]}

    exact = top_of(ranked)  # sentinel group included = full corpus
    rows = []
    for radius in LSH_SWEEP_RADII:
        n_cand = sum(n for g, n in group_n.items() if g <= radius)
        got = top_of(r for r in ranked if r["mr"] <= radius)
        rows.append(
            (
                radius,
                n_cand,
                round(len(got & exact) / float(ANN_IVF_K), 6),
            )
        )
    return local_df(spark, 
        rows, "radius LONG, candidates LONG, recall DOUBLE"
    )


MATRYOSHKA_SWEEP_DIMS = (8, 16, 32, 64)
MATRYOSHKA_SWEEP_QSEED = 101

# prepared rung plans per (session, sf_dir) — a session artifact, cleared
# by registry.invalidate_caches()


def _matryoshka_dim_sweep_oracle() -> str:
    """Replays the recall-vs-prefix-length curve: per prefix d, the
    candidate set is the top-C by the d-dim prefix inner product (pure
    function of the embedding), the exact rerank keeps top-10, and
    recall vs the exact scan derives — the d = 64 rung's prefix IS the
    full product, so the curve ends at recall 1.0 by construction."""
    q = query_vector(MATRYOSHKA_SWEEP_QSEED)
    qlit = sql_array_literal(q)
    head = f"""WITH pref AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
exact_t AS (
  SELECT id FROM pref
  ORDER BY list_dot_product(e, {qlit}) DESC, id ASC LIMIT {ANN_IVF_K})"""
    parts = []
    for d in MATRYOSHKA_SWEEP_DIMS:
        qplit = sql_array_literal(q[:d])
        parts.append(
            f"""(SELECT {d} AS prefix_d, ROUND((SELECT COUNT(*) FROM (
    SELECT id FROM (
      SELECT id, e FROM pref
      ORDER BY list_dot_product(e[1:{d}], {qplit}) DESC, id ASC
      LIMIT {MATRYOSHKA_C}) cand
    ORDER BY list_dot_product(e, {qlit}) DESC, id ASC
    LIMIT {ANN_IVF_K}) t JOIN exact_t USING (id)
  ) / {ANN_IVF_K}.0, 6) AS recall)"""
        )
    return (
        head + "\n" + "\nUNION ALL\n".join(parts) + "\nORDER BY prefix_d"
    )


@register(
    "metrics_matryoshka_dim_sweep",
    _matryoshka_dim_sweep_oracle(),
    side_effects=True,
)
def metrics_matryoshka_dim_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FOURTH recall-vs-work trade-off curve, completing the knob
    set across every cheap-first-stage family the engine ships (IVF:
    nprobe, LSH: probe radius, binary: candidate budget C, and here
    DIMENSIONS): recall@10 of the prefix-dimension rerank
    (ann_matryoshka_rerank_topk) per prefix length d ∈ {MATRYOSHKA_
    SWEEP_DIMS} at fixed C. The work axis is bytes/flops per scanned
    row — d/64 of the full scan — and the d = 64 rung is the full
    product, so the curve ends at recall 1.0, the built-in sanity
    anchor. Set-at-a-time like its three siblings (VERDICT r8 next
    #1): prefix candidate sets are NOT nested across d (different
    orderings), so each d gets its own bounded TakeOrdered branch with
    exact scores, all submitted concurrently over the session-cached
    corpus, and every rung's reranked top-K plus the exact anchor
    derive driver-side. ``side_effects``: bounded collects + driver
    set intersections."""
    from concurrent.futures import ThreadPoolExecutor

    from hybrid_vector_search_spark.functions.vector import (
        dot_score_column,
        double_array_lit,
    )

    q = query_vector(MATRYOSHKA_SWEEP_QSEED)
    # the five rung plans are deterministic lazy plans over the
    # session-cached quantized corpus — build them once per (session,
    # sf_dir) like every prepared artifact (r16, guide §1.2); each pass
    # still collects every rung (the sweep's real work)
    def build():
        base = _quantized_corpus(spark, sf_dir)
        score = dot_score_column(q).alias("score")

        def pscore(d):
            qp = double_array_lit(q[:d])  # one parse per rung
            return F.aggregate(
                F.zip_with(
                    F.slice(F.col("embedding"), 1, d),
                    qp,
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )

        plans = {
            d: base.select("id", "embedding", pscore(d).alias("ps"))
            .orderBy(F.col("ps").desc(), F.col("id").asc())
            .limit(MATRYOSHKA_C)
            .select("id", score)
            for d in MATRYOSHKA_SWEEP_DIMS
        }
        plans["exact"] = topk(base.select("id", score), ANN_IVF_K)
        return plans

    plans = artifact(spark, ("matryoshka_sweep_plan", sf_dir), build)
    keys = list(plans)
    with ThreadPoolExecutor(len(keys)) as ex:
        slices = dict(
            zip(keys, ex.map(lambda k: plans[k].collect(), keys))
        )
    exact = {int(r["id"]) for r in slices["exact"]}
    rows = []
    for d in MATRYOSHKA_SWEEP_DIMS:
        cand = sorted(slices[d], key=lambda r: (-r["score"], r["id"]))
        got = {int(r["id"]) for r in cand[:ANN_IVF_K]}
        rows.append((d, round(len(got & exact) / float(ANN_IVF_K), 6)))
    return local_df(spark, rows, "prefix_d LONG, recall DOUBLE")


def _rrf_oracle(qseed: int = RRF_QSEED, terms_t: tuple = RRF_TERMS) -> str:
    qlit = sql_array_literal(query_vector(qseed))
    terms = ", ".join(f"'{t}'" for t in terms_t)
    return f"""WITH corpus AS (
  SELECT e.vec_id AS id, e.embedding::DOUBLE[] AS emb, d.text
  FROM embeddings e LEFT JOIN documents d ON e.vec_id = d.doc_id),
tok AS (SELECT id,
  unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM corpus),
tok2 AS (SELECT * FROM tok WHERE term <> ''),
dl AS (SELECT id, COUNT(*) AS dl FROM tok2 GROUP BY id),
stats AS (SELECT (SELECT COUNT(*) FROM corpus) AS n,
                 (SELECT COUNT(*) FROM tok2) AS t),
qtf AS (SELECT id, term, COUNT(*) AS tf FROM tok2
        WHERE term IN ({terms}) GROUP BY id, term),
qdf AS (SELECT term, COUNT(DISTINCT id) AS df FROM tok2
        WHERE term IN ({terms}) GROUP BY term),
lex AS (SELECT q.id, ROUND(SUM(
    ln(1.0 + (n - df + 0.5) / (df + 0.5))
    * ((tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl.dl * n) / t)))
  ), 6) AS score
  FROM qtf q JOIN qdf USING (term) JOIN dl ON q.id = dl.id
  CROSS JOIN stats GROUP BY q.id),
lexr AS (SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS r
  FROM (SELECT id, score FROM lex
        ORDER BY score DESC, id ASC LIMIT {RRF_LEG_K})),
vec AS (SELECT id, ROUND(list_dot_product(emb, {qlit}), 6) AS score
  FROM corpus),
vecr AS (SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS r
  FROM (SELECT id, score FROM vec
        ORDER BY score DESC, id ASC LIMIT {RRF_LEG_K})),
fused AS (SELECT COALESCE(l.id, v.id) AS id,
  ROUND(COALESCE(1.0 / ({RRF_K} + l.r), 0)
        + COALESCE(1.0 / ({RRF_K} + v.r), 0), 6) AS rrf_score
  FROM lexr l FULL OUTER JOIN vecr v ON l.id = v.id)
SELECT id, rrf_score FROM fused
ORDER BY rrf_score DESC, id ASC LIMIT {RRF_FINAL_K}"""


@register("retrieval_rrf_fusion", _rrf_oracle())
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical + vector HYBRID RETRIEVAL via reciprocal-rank fusion — the
    standard two-tower serving pattern (BM25 leg + dense leg, fused as
    Σ 1/(60 + rank)) the reference has no analogue for, expressed as two
    independent top-K branches joined by id:

    * lexical leg: full BM25 (k1=1.2, b=0.75, document-length
      normalization against the corpus average) over the fixed query
      terms — term stats are two narrow aggregations, the per-term df
      table broadcasts, and only docs containing a query term ever reach
      the scorer;
    * dense leg: exact inner product with the JVM codegen kernel;
    * fusion: both legs rank on 6-decimal-ROUNDED scores (an ULP of
      ln()/summation can never flip a rank across engines — the
      text_tfidf_top_terms rule), are cut to top-20 by
      TakeOrderedAndProject, and full-outer join on id so a doc missing
      from one leg simply contributes nothing from it.

    At 100 TB each leg is the engine's existing scale path (partial-agg
    term stats + bounded top-K heaps; pruned/exact vector scan); the
    fusion join touches ≤ 2·leg_K rows. The oracle replays BM25, both
    rankings, and the fused top-10."""
    from pyspark.sql import Window

    from hybrid_vector_search_spark.functions.vector import dot_score_column

    corpus = load_corpus(spark, sf_dir)
    tok = (
        corpus.select(
            "id",
            F.explode(F.split(F.lower(F.trim("text")), "\\s+")).alias(
                "term"
            ),
        )
        .filter(F.col("term") != "")
    )
    n = corpus.count()
    t = tok.count()
    dl = tok.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    qtok = tok.filter(F.col("term").isin(list(RRF_TERMS)))
    tf = qtok.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfq = qtok.groupBy("term").agg(F.countDistinct("id").alias("df"))
    # expression shapes mirror the oracle EXACTLY (same literals, same
    # association) so float64 evaluation matches to the last ULP before
    # the rank-stabilizing round
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(1.2) * (
        F.lit(0.25) + (F.lit(0.75) * F.col("dl") * F.lit(n)) / F.lit(t)
    )
    per_term = idf * ((F.col("tf") * F.lit(2.2)) / denom)
    lex = (
        tf.join(F.broadcast(dfq), "term")
        .join(dl, "id")
        .groupBy("id")
        .agg(F.round(F.sum(per_term), 6).alias("score"))
    )

    def leg_ranks(scored: DataFrame, rank_name: str) -> DataFrame:
        top = topk(scored, RRF_LEG_K)
        w = Window.orderBy(F.col("score").desc(), F.col("id").asc())
        return top.withColumn(rank_name, F.row_number().over(w)).select(
            "id", rank_name
        )

    lexr = leg_ranks(lex, "lr")
    vec = corpus.select(
        "id",
        F.round(dot_score_column(query_vector(RRF_QSEED)), 6).alias("score"),
    )
    vecr = leg_ranks(vec, "vr")
    fused = lexr.join(vecr, "id", "full_outer").select(
        "id",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lr")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("vr")), F.lit(0.0)
            ),
            6,
        ).alias("rrf_score"),
    )
    return topk(fused, RRF_FINAL_K, score_col="rrf_score")


BM25_K = 20


def _bm25_layout_path(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached persisted BM25 inverted-index layout (ingest-time
    artifact, like the IVF/LSH/HNSW layouts)."""
    from hybrid_vector_search_spark.operators.bm25 import (
        build_postings_layout,
    )
    from hybrid_vector_search_spark.scratch import scratch_path

    def build():
        corpus = load_corpus(spark, sf_dir).select("id", "text")
        path = scratch_path(
            "bm25_postings_" + sf_dir.strip("/").replace("/", "_")
        )
        build_postings_layout(corpus, path)
        return path

    return artifact(spark, ("bm25_layout", sf_dir), build)


def _bm25_oracle(terms_t: tuple = RRF_TERMS) -> str:
    terms = ", ".join(f"'{t}'" for t in terms_t)
    return f"""WITH corpus AS (
  SELECT e.vec_id AS id, d.text
  FROM embeddings e LEFT JOIN documents d ON e.vec_id = d.doc_id),
tok AS (SELECT id,
  unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM corpus),
tok2 AS (SELECT * FROM tok WHERE term <> ''),
dl AS (SELECT id, COUNT(*) AS dl FROM tok2 GROUP BY id),
stats AS (SELECT (SELECT COUNT(*) FROM corpus) AS n,
                 (SELECT COUNT(*) FROM tok2) AS t),
qtf AS (SELECT id, term, COUNT(*) AS tf FROM tok2
        WHERE term IN ({terms}) GROUP BY id, term),
qdf AS (SELECT term, COUNT(DISTINCT id) AS df FROM tok2
        WHERE term IN ({terms}) GROUP BY term),
lex AS (SELECT q.id, ROUND(SUM(
    ln(1.0 + (n - df + 0.5) / (df + 0.5))
    * ((tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl.dl * n) / t)))
  ), 6) AS score
  FROM qtf q JOIN qdf USING (term) JOIN dl ON q.id = dl.id
  CROSS JOIN stats GROUP BY q.id)
SELECT id, score FROM lex ORDER BY score DESC, id ASC LIMIT {BM25_K}"""


@register("retrieval_bm25_persisted_topk", _bm25_oracle())
def retrieval_bm25_persisted_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lexical top-K over the PERSISTED BM25 inverted-index layout
    (operators/bm25.py) — the lexical twin of the IVF/LSH layout story:
    postings ``(term, id, tf, dl)`` hash-bucketed by term into partition
    directories (one file per bucket), per-term df broadcast from a tiny
    stats table, corpus constants from a JSON sidecar. The query scan
    partition-prunes to the query terms' buckets, so I/O is ∝ |query
    term buckets| — corpus size never enters the bound; the RRF fusion
    queries recompute these statistics per session, this is the shape
    that amortizes them into an ingest artifact. BM25 expression is
    identical to the RRF lexical leg; the oracle replays tokenization,
    stats, and the scored top-{BM25_K}."""
    from hybrid_vector_search_spark.operators.bm25 import bm25_topk_plan

    path = _bm25_layout_path(spark, sf_dir)
    return bm25_topk_plan(
        spark, path, list(RRF_TERMS), k=BM25_K
    ).select("id", "score")


BM25_INCR_TERMS = ("stream", "window", "merge")


@register(
    "retrieval_bm25_incremental_topk", _bm25_oracle(BM25_INCR_TERMS)
)
def retrieval_bm25_incremental_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL lexical-index maintenance, hash-certified against a
    full rebuild: the layout is built over 80% of the corpus (ids with
    ``id % 5 != 0``), the remaining 20% arrives as an append-only batch
    (operators/bm25.py append_postings_batch — new postings append into
    their term buckets, the additive df stats swap atomically, corpus
    constants accumulate), and the standard pruned top-K runs over the
    result. The oracle computes BM25 over the WHOLE corpus from
    scratch, so a hash match proves append ≡ rebuild — the same
    evidence style as ann_ivf_upsert_topk, completing the maintenance
    story for the lexical index family. Note BM25's global coupling:
    the append moves N, avgdl, and df, so OLD docs' scores legitimately
    change — the stats tables make that automatic."""

    from hybrid_vector_search_spark.operators.bm25 import (
        append_postings_batch,
        bm25_topk_plan,
        build_postings_layout,
    )
    from hybrid_vector_search_spark.scratch import scratch_path

    def build():
        corpus = load_corpus(spark, sf_dir).select("id", "text")
        path = scratch_path(
            "bm25_incr_" + sf_dir.strip("/").replace("/", "_")
        )
        build_postings_layout(corpus.filter(F.col("id") % 5 != 0), path)
        append_postings_batch(
            spark, path, corpus.filter(F.col("id") % 5 == 0)
        )
        return path

    path = artifact(spark, ("bm25_incr", sf_dir), build)
    return bm25_topk_plan(
        spark, path, list(BM25_INCR_TERMS), k=BM25_K
    ).select("id", "score")


def _bm25_snapshot_oracle() -> str:
    """Two full BM25 replays — v1 over the base 80% of the corpus, v2
    over everything — each with ITS OWN (n, t, df) statistics, unioned
    under version literals: the SQL mirror of scoring every pinned
    snapshot against the constants committed with it."""
    terms = ", ".join(f"'{t}'" for t in BM25_INCR_TERMS)
    blocks = []
    for version, where in ((1, "id % 5 <> 0"), (2, "TRUE")):
        v = f"v{version}"
        blocks.append(f"""{v}tok AS (SELECT * FROM tok2 WHERE {where}),
{v}dl AS (SELECT id, COUNT(*) AS dl FROM {v}tok GROUP BY id),
{v}stats AS (
  SELECT (SELECT COUNT(*) FROM corpus WHERE {where}) AS n,
         (SELECT COUNT(*) FROM {v}tok) AS t),
{v}qtf AS (SELECT id, term, COUNT(*) AS tf FROM {v}tok
  WHERE term IN ({terms}) GROUP BY id, term),
{v}qdf AS (SELECT term, COUNT(DISTINCT id) AS df FROM {v}tok
  WHERE term IN ({terms}) GROUP BY term),
{v}top AS (SELECT {version} AS version, q.id, ROUND(SUM(
    ln(1.0 + (n - df + 0.5) / (df + 0.5))
    * ((tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl.dl * n) / t)))
  ), 6) AS score
  FROM {v}qtf q JOIN {v}qdf USING (term) JOIN {v}dl dl ON q.id = dl.id
  CROSS JOIN {v}stats GROUP BY q.id
  ORDER BY score DESC, q.id ASC LIMIT {BM25_K})""")
    body = ",\n".join(blocks)
    return f"""WITH corpus AS (
  SELECT e.vec_id AS id, d.text
  FROM embeddings e LEFT JOIN documents d ON e.vec_id = d.doc_id),
tok AS (SELECT id,
  unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM corpus),
tok2 AS (SELECT * FROM tok WHERE term <> ''),
{body}
SELECT * FROM v1top UNION ALL SELECT * FROM v2top
ORDER BY version, score DESC, id"""


@register("retrieval_bm25_snapshot_topk", _bm25_snapshot_oracle())
def retrieval_bm25_snapshot_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BM25 POSTINGS ROUTED THROUGH THE VERSIONED-MANIFEST LAYOUT —
    the lexical leg of the maintenance-unification story (the r9
    verdict's direction, already walked for IVF by
    ann_ivf_upsert_snapshot): instead of the bespoke begin/commit
    marker protocol (operators/bm25.py append_postings_batch), the
    postings land via ``commit_append_clustered`` (one immutable file
    per term bucket — footer stats give exact bucket pruning through
    ``read_snapshot_pruned_in``) and the corpus constants (N, total
    tokens) RIDE IN THE MANIFEST COMMIT, atomic with the postings.
    What the manifest buys the lexical index over the marker protocol:
    (1) snapshot isolation — a reader mid-append sees v1 or v2, never
    base postings with batch stats; (2) PINNED RANKINGS — v1 scores
    with v1's (n, t, df) even after the append moved every global
    statistic, so yesterday's search ranking is reproducible forever
    (BM25's global coupling makes this impossible under in-place
    maintenance); (3) per-term df needs NO stats table — a term's
    postings live wholly in its bucket files, so df aggregates from
    the same pruned scan that serves tf (bucket-bounded, corpus-size
    independent). The oracle replays both versions' statistics and
    top-{BM25_K} from raw text. Reference scope: beyond-reference
    (no lexical leg, SURVEY.md §2.5)."""
    from hybrid_vector_search_spark.operators.bm25 import (
        DEFAULT_BUCKETS,
        _bucket_col,
        bm25_score_expr,
        term_bucket,
        tokenize,
    )
    from hybrid_vector_search_spark.operators.topk import topk
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def build():
        corpus = load_corpus(spark, sf_dir).select("id", "text")
        root = scratch_path(
            "bm25_snap_" + sf_dir.strip("/").replace("/", "_")
        )
        run_n = run_t = 0
        for part in (
            corpus.filter(F.col("id") % 5 != 0),
            corpus.filter(F.col("id") % 5 == 0),
        ):
            tok = tokenize(part).cache()
            try:
                run_n += part.count()
                run_t += tok.count()
                dl = tok.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
                postings = (
                    tok.groupBy("id", "term")
                    .agg(F.count(F.lit(1)).alias("tf"))
                    .join(dl, "id")
                    .withColumn("bucket", _bucket_col(DEFAULT_BUCKETS))
                )
                M.commit_append_clustered(
                    root,
                    postings,
                    "bucket",
                    meta={"bm25_n": run_n, "bm25_t": run_t},
                )
            finally:
                tok.unpersist()
        # postings hold subject tokens: register for the GDPR cascade
        # at build (scatter layout — a doc's terms hash across every
        # bucket, so erasure is a clustered rewrite) — r14
        from hybrid_vector_search_spark.sources.purge import (
            register_derived_root,
        )

        register_derived_root(
            root, "bm25_postings", root, "id", cluster_column="bucket"
        )
        return root

    root = artifact(spark, ("bm25_snap", sf_dir), build)
    buckets = sorted(
        {term_bucket(t, DEFAULT_BUCKETS) for t in BM25_INCR_TERMS}
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    out = None
    for v in (1, 2):
        n = int(M.committed_meta(root, "bm25_n", version=v))
        t = int(M.committed_meta(root, "bm25_t", version=v))
        hits = M.read_snapshot_pruned_in(
            spark, root, "bucket", buckets, version=v
        ).filter(F.col("term").isin(list(BM25_INCR_TERMS)))
        dfs = hits.groupBy("term").agg(
            F.countDistinct("id").alias("df")
        )
        scored = (
            hits.join(F.broadcast(dfs), "term")
            # same AQE pin as bm25_topk_plan: byte-light CPU-heavy agg
            .repartition(n_part, "id")
            .groupBy("id")
            .agg(F.round(F.sum(bm25_score_expr(n, t)), 6).alias("score"))
        )
        part = topk(scored, BM25_K).select(
            F.lit(v).alias("version"), "id", "score"
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("version", F.col("score").desc(), "id")


def _bm25_batch_oracle() -> str:
    all_terms = sorted({tm for _, terms in RRF_BATCH for tm in terms})
    terms_all = ", ".join(f"'{t}'" for t in all_terms)
    head = f"""WITH corpus AS (
  SELECT e.vec_id AS id, d.text
  FROM embeddings e LEFT JOIN documents d ON e.vec_id = d.doc_id),
tok AS (SELECT id,
  unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM corpus),
tok2 AS (SELECT * FROM tok WHERE term <> ''),
dl AS (SELECT id, COUNT(*) AS dl FROM tok2 GROUP BY id),
stats AS (SELECT (SELECT COUNT(*) FROM corpus) AS n,
                 (SELECT COUNT(*) FROM tok2) AS t),
qtf AS (SELECT id, term, COUNT(*) AS tf FROM tok2
        WHERE term IN ({terms_all}) GROUP BY id, term),
qdf AS (SELECT term, COUNT(DISTINCT id) AS df FROM tok2
        WHERE term IN ({terms_all}) GROUP BY term)"""
    parts = []
    for qid, terms in RRF_BATCH:
        tl = ", ".join(f"'{t}'" for t in terms)
        parts.append(
            f"""(SELECT {qid} AS qid, id, score FROM (
  SELECT q.id, ROUND(SUM(
    ln(1.0 + (n - df + 0.5) / (df + 0.5))
    * ((tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl.dl * n) / t)))
  ), 6) AS score
  FROM qtf q JOIN qdf USING (term) JOIN dl ON q.id = dl.id
  CROSS JOIN stats WHERE q.term IN ({tl}) GROUP BY q.id)
 ORDER BY score DESC, id ASC LIMIT {BM25_K})"""
        )
    return head + "\n" + "\nUNION ALL\n".join(parts)


@register("retrieval_bm25_batch_topk", _bm25_batch_oracle())
def retrieval_bm25_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH lexical serving over the persisted BM25 layout — N term-set
    queries answered in ONE job: the postings scan partition-prunes to
    the UNION of all queries' term buckets, the tiny (qid, term) map and
    per-term df table broadcast, per-(qid, id) BM25 sums in one
    aggregation, and one qid-window cuts every top-{BM25_K} — the
    lexical mirror of ann_ivf_batch_topk (bytes read ∝ |∪ term
    buckets|, never corpus × queries). Corpus statistics are shared
    across queries, exactly as the per-query oracle replay."""
    import json as _json
    import os as _os

    from hybrid_vector_search_spark.operators.bm25 import (
        bm25_score_expr,
        term_bucket,
    )

    path = _bm25_layout_path(spark, sf_dir)
    with open(_os.path.join(path, "meta.json"), encoding="utf-8") as f:
        meta = _json.load(f)
    all_terms = sorted({tm for _, terms in RRF_BATCH for tm in terms})
    buckets = sorted(
        {term_bucket(tm, meta["n_buckets"]) for tm in all_terms}
    )
    postings = spark.read.parquet(_os.path.join(path, "postings"))
    stats = spark.read.parquet(_os.path.join(path, "termstats")).filter(
        F.col("term").isin(all_terms)
    )
    qterm = local_df(spark, 
        [(int(qid), tm) for qid, terms in RRF_BATCH for tm in terms],
        "qid long, term string",
    )
    hits = (
        postings.filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(all_terms))
        .join(F.broadcast(stats), "term")
        .join(F.broadcast(qterm), "term")
    )
    scored = hits.groupBy("qid", "id").agg(
        F.round(
            F.sum(bm25_score_expr(meta["n"], meta["t"])), 6
        ).alias("score")
    )
    return (
        grouped_topk(scored, ["qid"], BM25_K)
        .select("qid", "id", "score")
        .orderBy("qid", F.col("score").desc(), "id")
    )


def _rrf_persisted_oracle() -> str:
    """Both legs from ingest artifacts, replayed: the BM25 lexical
    top-20 (same CTEs as _bm25_oracle) and the IVF-probed dense top-20
    (same assignment/probe replay as _ann_ivf_oracle), RRF-fused."""
    terms = ", ".join(f"'{t}'" for t in RRF_TERMS)
    qlit = sql_array_literal(query_vector(RRF_QSEED))
    dots = ", ".join(
        f"list_dot_product(emb, {sql_array_literal(c)})"
        for c in _ann_ivf_centroids()
    )
    probed = ", ".join(str(i) for i in _ann_ivf_probed(RRF_QSEED))
    return f"""WITH corpus AS (
  SELECT e.vec_id AS id, e.embedding::DOUBLE[] AS emb, d.text
  FROM embeddings e LEFT JOIN documents d ON e.vec_id = d.doc_id),
tok AS (SELECT id,
  unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM corpus),
tok2 AS (SELECT * FROM tok WHERE term <> ''),
dl AS (SELECT id, COUNT(*) AS dl FROM tok2 GROUP BY id),
stats AS (SELECT (SELECT COUNT(*) FROM corpus) AS n,
                 (SELECT COUNT(*) FROM tok2) AS t),
qtf AS (SELECT id, term, COUNT(*) AS tf FROM tok2
        WHERE term IN ({terms}) GROUP BY id, term),
qdf AS (SELECT term, COUNT(DISTINCT id) AS df FROM tok2
        WHERE term IN ({terms}) GROUP BY term),
lex AS (SELECT q.id, ROUND(SUM(
    ln(1.0 + (n - df + 0.5) / (df + 0.5))
    * ((tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl.dl * n) / t)))
  ), 6) AS score
  FROM qtf q JOIN qdf USING (term) JOIN dl ON q.id = dl.id
  CROSS JOIN stats GROUP BY q.id),
lexr AS (SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS r
  FROM (SELECT id, score FROM lex
        ORDER BY score DESC, id ASC LIMIT {RRF_LEG_K})),
assigned AS (
  SELECT id, emb, list_position(d, list_max(d)) - 1 AS list_id
  FROM (SELECT id, emb, [{dots}] AS d FROM corpus)),
vec AS (SELECT id, ROUND(list_dot_product(emb, {qlit}), 6) AS score
  FROM assigned WHERE list_id IN ({probed})),
vecr AS (SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS r
  FROM (SELECT id, score FROM vec
        ORDER BY score DESC, id ASC LIMIT {RRF_LEG_K})),
fused AS (SELECT COALESCE(l.id, v.id) AS id,
  ROUND(COALESCE(1.0 / ({RRF_K} + l.r), 0)
        + COALESCE(1.0 / ({RRF_K} + v.r), 0), 6) AS rrf_score
  FROM lexr l FULL OUTER JOIN vecr v ON l.id = v.id)
SELECT id, rrf_score FROM fused
ORDER BY rrf_score DESC, id ASC LIMIT {RRF_FINAL_K}"""


@register("retrieval_rrf_fusion_persisted", _rrf_persisted_oracle())
def retrieval_rrf_fusion_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hybrid retrieval with BOTH legs served from ingest artifacts —
    the fully-amortized production stack: the lexical top-20 reads the
    persisted BM25 inverted index (partition-pruned to the query
    terms' buckets, operators/bm25.py), the dense top-20 reads the
    persisted IVF layout (partition-pruned to the probed lists), and
    reciprocal-rank fusion joins the two 20-row sets. NOTHING in this
    plan scans the corpus or recomputes statistics: per-query I/O is
    |term buckets| + |probed lists| directories — the composition that
    holds at 100 TB. Dense semantics are ANN (probed lists), so the
    oracle replays assignment + probe for that leg and the BM25 CTEs
    for the other."""
    from pyspark.sql import Window

    from hybrid_vector_search_spark.operators.bm25 import bm25_topk_plan

    lex_top = bm25_topk_plan(
        spark, _bm25_layout_path(spark, sf_dir), list(RRF_TERMS),
        k=RRF_LEG_K,
    )
    index = _ann_ivf_fixed_index(spark, sf_dir, persist=True)
    # round BEFORE the leg's top-20 cut (the retrieval_rrf_fusion rule):
    # selecting on raw scores could admit a different row than the
    # oracle's rounded-score ordering at the boundary, where rounded
    # ties break by id
    from hybrid_vector_search_spark.functions.vector import dot_score_column

    probed = index.probe(query_vector(RRF_QSEED), ANN_IVF_NPROBE)
    dense_top = topk(
        index.assigned.filter(F.col("list_id").isin(probed)).select(
            "id",
            F.round(
                dot_score_column(query_vector(RRF_QSEED)), 6
            ).alias("score"),
        ),
        RRF_LEG_K,
    )

    def leg_ranks(top: DataFrame, rank_name: str) -> DataFrame:
        w = Window.orderBy(F.col("score").desc(), F.col("id").asc())
        return top.withColumn(rank_name, F.row_number().over(w)).select(
            "id", rank_name
        )

    lexr = leg_ranks(lex_top, "lr")
    vecr = leg_ranks(dense_top, "vr")
    fused = lexr.join(vecr, "id", "full_outer").select(
        "id",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lr")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("vr")), F.lit(0.0)
            ),
            6,
        ).alias("rrf_score"),
    )
    return topk(fused, RRF_FINAL_K, score_col="rrf_score")


def _rrf_batch_oracle() -> str:
    parts = [
        f"SELECT {qid} AS qid, id, rrf_score FROM (\n"
        + _rrf_oracle(qid, terms)
        + f"\n) rrf_{qid}"
        for qid, terms in RRF_BATCH
    ]
    return "\nUNION ALL\n".join(parts)


@register("retrieval_rrf_fusion_batch", _rrf_batch_oracle())
def retrieval_rrf_fusion_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH hybrid retrieval — N (lexical terms, query vector) profiles
    fused per qid in ONE job, the training-data serving shape (VERDICT
    r7 next #7). Per-query latency becomes throughput exactly as in
    hybrid_batch_canonical / ann_ivf_batch_topk:

    * ONE tokenization pass feeds every query's lexical leg: tf is
      computed once over the UNION of all query terms, per-term df and
      the tiny (qid, term) map broadcast, and a doc reaches qid's BM25
      scorer only through the qterm join — so scans don't multiply with
      query count, output rows do;
    * ONE Arrow GEMM pass (multi_dot_scores) scores every dense leg —
      the multi-query regime where the one embedding transfer amortizes
      across the query set (functions/vector.py regime rule);
    * per-qid leg ranks, full-outer fusion on (qid, id), and the final
      per-qid top-K are row_number windows partitioned by qid — one
      shuffle each, all queries simultaneously.

    BM25 statistics (N, total tokens, per-doc length, per-term df) are
    corpus-wide and SHARED across queries, matching the per-query oracle
    replay exactly. At 100 TB this is the reference-free shape that
    matters: query count scales the broadcast maps and the windowed
    row counts (≤ Σ leg hits), never the number of corpus scans."""
    from pyspark.sql import Window

    from hybrid_vector_search_spark.functions.vector import multi_dot_scores

    corpus = load_corpus(spark, sf_dir)
    tok = (
        corpus.select(
            "id",
            F.explode(F.split(F.lower(F.trim("text")), "\\s+")).alias(
                "term"
            ),
        )
        .filter(F.col("term") != "")
    )
    n = corpus.count()
    t = tok.count()
    dl = tok.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    all_terms = sorted({tm for _, terms in RRF_BATCH for tm in terms})
    qterm = local_df(spark, 
        [(int(qid), tm) for qid, terms in RRF_BATCH for tm in terms],
        "qid long, term string",
    )
    qtok = tok.filter(F.col("term").isin(all_terms))
    tf = qtok.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfq = qtok.groupBy("term").agg(F.countDistinct("id").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(1.2) * (
        F.lit(0.25) + (F.lit(0.75) * F.col("dl") * F.lit(n)) / F.lit(t)
    )
    per_term = idf * ((F.col("tf") * F.lit(2.2)) / denom)
    lex = (
        tf.join(F.broadcast(dfq), "term")
        .join(F.broadcast(qterm), "term")
        .join(dl, "id")
        .groupBy("qid", "id")
        .agg(F.round(F.sum(per_term), 6).alias("score"))
    )

    def leg_ranks(scored: DataFrame, rank_name: str) -> DataFrame:
        top = grouped_topk(scored, ["qid"], RRF_LEG_K)
        w = Window.partitionBy("qid").orderBy(
            F.col("score").desc(), F.col("id").asc()
        )
        return top.withColumn(rank_name, F.row_number().over(w)).select(
            "qid", "id", rank_name
        )

    lexr = leg_ranks(lex, "lr")
    qvecs = {int(qid): query_vector(qid) for qid, _ in RRF_BATCH}
    dense = multi_dot_scores(corpus, qvecs).select(
        "qid", "id", F.round("score", 6).alias("score")
    )
    vecr = leg_ranks(dense, "vr")
    fused = lexr.join(vecr, ["qid", "id"], "full_outer").select(
        "qid",
        "id",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lr")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("vr")), F.lit(0.0)
            ),
            6,
        ).alias("rrf_score"),
    )
    return grouped_topk(
        fused, ["qid"], RRF_FINAL_K, score_col="rrf_score"
    ).select("qid", "id", "rrf_score")


