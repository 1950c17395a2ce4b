"""Sketch-family queries: HyperLogLog distinct, Count-Min heavy hitters,
bloom-prefiltered decontamination, streaming mergeable-sketch state.

The 100 TB story shared by all four: the answer state is FIXED-SIZE
(256 HLL registers / 4×1024 CMS counters / a bits-per-key-sized bloom)
no matter
how many input rows flow through — each executor partial-aggregates its
partitions into sketch cells map-side and the one shuffle moves O(sketch)
rows per partition, never O(data). Exactness of the CHECK is preserved by
the portable-hash construction (functions/sketches.py): DuckDB recomputes
every register/counter bit-for-bit, so these approximate operators are
value-hash-gated like every exact query in the registry.

Beyond-reference family (the reference engine has no sketch surface);
SURVEY.md §2 addendum records it alongside dedup/curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hybrid_vector_search_spark.functions import sketches as SK
from hybrid_vector_search_spark.functions.portable import (
    round_portable,
    round_portable_sql,
)
from hybrid_vector_search_spark.plans.registry import local_df, register
from hybrid_vector_search_spark.plans.registry_relational import (
    _DECON_MOD,
    _DECON_N,
    _landing,
    _sink_sorted,
    _stream_parts,
)
from hybrid_vector_search_spark.plans.registry import ORACLES
from hybrid_vector_search_spark.session import artifact
from hybrid_vector_search_spark.sources.loaders import load_table
from hybrid_vector_search_spark.functions import text as TX


# ----------------------------------------------------------- HLL distinct


def _hll_output(
    registers: DataFrame, n_exact_df: DataFrame
) -> DataFrame:
    """Join the one-row estimate with the one-row exact count (both
    single-row aggregates — the crossJoin is 1×1, never data-sized)."""
    est = SK.hll_estimate_row(registers)
    return est.crossJoin(n_exact_df).select(
        "n_exact",
        round_portable("hll_estimate", 4).alias("hll_estimate"),
        round_portable(
            (F.col("hll_estimate") - F.col("n_exact"))
            / F.col("n_exact").cast("double"),
            6,
        ).alias("rel_err"),
        "empty_registers",
        "registers_fp",
    )


def _hll_oracle(key_expr: str, table: str) -> str:
    est = SK.hll_estimate_row_sql(
        SK.hll_registers_sql(key_expr, table)
    )
    return f"""SELECT x.n_exact,
  {round_portable_sql('h.hll_estimate', 4)} AS hll_estimate,
  {round_portable_sql(
      '(h.hll_estimate - x.n_exact) / x.n_exact::DOUBLE', 6)} AS rel_err,
  h.empty_registers, h.registers_fp
FROM ({est}) h CROSS JOIN
  (SELECT COUNT(DISTINCT {key_expr}) AS n_exact FROM {table}) x"""


@register("events_distinct_users_hll", _hll_oracle("user_id", "events"))
def events_distinct_users_hll(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cardinality-sketch COUNT(DISTINCT user_id): 256 HLL registers
    instead of shuffling the distinct key set. At 100 TB the exact
    distinct is a full shuffle of every key occurrence; the sketch is a
    256-row map-side-combined aggregate whatever the input size — and
    register tables from different days/tables MERGE by per-bucket max,
    which no exact-distinct artifact can do without re-scanning.

    The scale ladder exercises both estimator branches: sf0.01 (150
    users) lands in linear counting (E_raw ≤ 2.5m with empty registers),
    sf0.1 (1,500) in the raw harmonic branch — the oracle recomputes the
    branch decision, every register byte (registers_fp), and the exact
    count side-by-side, so the ±6.5%-error estimator is still
    value-hash-gated. n_exact is emitted for the check/report; a
    production run drops that column (it IS the cost being avoided)."""
    ev = load_table(spark, sf_dir, "events")
    regs = SK.hll_registers(ev, "user_id")
    return _hll_output(
        regs, ev.agg(F.countDistinct("user_id").alias("n_exact"))
    )


# ------------------------------------------------------ CMS heavy hitters

_CMS_TOP = 20


@register(
    "events_heavy_users_cms",
    f"""WITH sketch AS ({SK.cms_sketch_sql('user_id', 'events')}),
exact AS (SELECT user_id, COUNT(*) AS n_exact FROM events
          GROUP BY user_id
          ORDER BY n_exact DESC, user_id ASC LIMIT {_CMS_TOP}),
probes AS (SELECT user_id, n_exact, r,
    CASE {' '.join(
        f"WHEN r = {r} THEN {SK.cms_bucket_sql('user_id', r)}"
        for r in range(SK.CMS_D))} END AS bucket
  FROM exact, UNNEST(range(0, {SK.CMS_D})) AS u(r)),
est AS (SELECT user_id, MIN(c) AS n_cms
  FROM probes JOIN sketch USING (r, bucket) GROUP BY user_id)
SELECT e.user_id, e.n_exact, s.n_cms, s.n_cms - e.n_exact AS overcount
FROM exact e JOIN est s USING (user_id)
ORDER BY n_exact DESC, user_id ASC""",
)
def events_heavy_users_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter counts from a Count-Min sketch: per-user event counts
    estimated from a 4×1024 counter table instead of a corpus-wide
    groupBy(user). The sketch build explodes each row into CMS_D cells
    and partial-aggregates map-side, so the shuffle is ≤ d·w rows per
    partition regardless of input volume; counter tables from separate
    scans/days merge by cell-wise ADD. Estimates carry the one-sided CMS
    guarantee n_cms ≥ n_exact (reported as ``overcount``, exercised for
    real at sf0.1 where 1,500 users share 1,024 counters per row); both
    engines recompute the identical counters, so the approximate answer
    is hash-gated exactly. The probe set is the exact top-20 (with the
    deterministic (count desc, user asc) boundary), pinning sketch
    accuracy against ground truth in one query."""
    ev = load_table(spark, sf_dir, "events")
    sketch = SK.cms_sketch(ev, "user_id")
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("user_id").asc())
        .limit(_CMS_TOP)
    )
    probes = exact.select(
        "user_id",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        SK.cms_bucket("user_id", r).alias("bucket"),
                    )
                    for r in range(SK.CMS_D)
                ]
            )
        ).alias("cell"),
    ).select("user_id", "n_exact", "cell.r", "cell.bucket")
    est = (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("c").alias("n_cms"))
    )
    return est.select(
        "user_id",
        "n_exact",
        "n_cms",
        (F.col("n_cms") - F.col("n_exact")).alias("overcount"),
    ).orderBy(F.col("n_exact").desc(), F.col("user_id").asc())


# ------------------------------------------- bloom-gated decontamination


@register("docs_decontaminate_bloom", None)
def docs_decontaminate_bloom(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``docs_decontaminate`` with a bloom prefilter on the corpus side —
    ANSWER-IDENTICAL by construction (bloom passes a superset of the
    truly-contaminated grams; the exact confirm join removes the false
    positives), so the oracle is the exact query's oracle, registered
    verbatim below. What changes is the 100 TB shape: the exact path
    broadcasts the full benchmark gram STRINGS to every corpus task; the
    bloom path broadcasts a bit-position set (the K=3 bit positions
    of every bench gram — here in relational form, see
    functions/sketches.bloom_positions) and only grams passing all K
    membership probes reach the string join. With MB-scale benchmark
    vocabularies against TB-scale corpora, the broadcast shrinks ~100×
    and the string equi-join sees only the tiny candidate slice. The
    filter WIDTH is sized at build time from the inserted-key count
    (bloom_m_for: 16 bits/key → FP ≈ 0.5% at k=3): the ×16 scale probe
    caught a fixed 2^16 width saturating to FP→1 — still
    answer-preserving, but a useless prefilter — and the sizing costs
    one bounded count over the (tiny) benchmark side."""
    docs = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % _DECON_MOD == 0
    bench_g = (
        TX.shingle_rows(docs.filter(is_bench), _DECON_N)
        .select("g")
        .distinct()
    )
    m = SK.bloom_m_for(bench_g.count())
    # The bloom bitset, relationally: the distinct set bit positions.
    bloom = (
        bench_g.select(
            F.explode(SK.bloom_positions("g", "decon", m)).alias("pos")
        )
        .distinct()
    )
    corpus_ex = TX.shingle_rows(docs.filter(~is_bench), _DECON_N)
    cand_g = (
        corpus_ex.select("g")
        .distinct()
        .select(
            "g",
            F.posexplode(SK.bloom_positions("g", "decon", m)).alias(
                "i", "pos"
            ),
        )
        .join(F.broadcast(bloom), "pos")
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("k_hits"))
        .filter(F.col("k_hits") == SK.BLOOM_K)  # all K bits set
        .select("g")
    )
    confirmed = cand_g.join(F.broadcast(bench_g), "g")  # exact confirm
    return (
        corpus_ex.join(F.broadcast(confirmed), "g")
        .groupBy("doc_id", "n_sh")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            "doc_id",
            "n_hits",
            round_portable(
                F.col("n_hits").cast("double") / F.col("n_sh"), 6
            ).alias("containment"),
        )
        .orderBy("doc_id")
    )


# answer-preserving prefilter ⇒ the exact query's oracle applies verbatim
ORACLES["docs_decontaminate_bloom"] = ORACLES["docs_decontaminate"]


# --------------------------------------------------- streaming HLL state


@register(
    "streaming_hll_users",
    _hll_oracle("user_id", "events"),
    side_effects=True,
)
def streaming_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL register table AS STREAMING STATE: the events landing zone
    drains through ``groupBy(bucket).agg(max(rho))`` in complete mode —
    the sketch's merge operator IS a built-in streaming aggregation, so
    Spark's state store holds exactly ≤256 rows forever (contrast a
    streaming COUNT(DISTINCT), whose state is the key set itself and
    grows without bound — the reason exact streaming distinct is
    impossible at 100 TB without a watermark lie). The drained registers
    produce the same one-row estimate as the batch query
    (``events_distinct_users_hll``) against the same oracle: the
    batch/stream duality the engine promises, this time for sketch
    state. Restarting the stream tomorrow merges new days into the same
    bounded registers — the sketch is the checkpoint."""
    from hybrid_vector_search_spark.streaming.pipeline import (
        read_events_stream,
        run_available_now,
    )

    ev = read_events_stream(spark, _landing(spark, sf_dir, "events"))
    regs_stream = (
        ev.select(
            (SK.md5_long("user_id", "hllb") % SK.HLL_M).alias("bucket"),
            SK.hll_rho(SK.md5_long("user_id", "hllw")).alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    table = "stream_hll_regs"
    run_available_now(
        regs_stream,
        table,
        output_mode="complete",
        shuffle_partitions=_stream_parts(spark, sf_dir),
    )
    regs = _sink_sorted(spark, table, "bucket")
    ev_batch = load_table(spark, sf_dir, "events")
    return _hll_output(
        regs, ev_batch.agg(F.countDistinct("user_id").alias("n_exact"))
    )


# ------------------------------------------------------------ grouped HLL


_TYPE_HLL_ORACLE = f"""WITH regs AS ({SK.hll_registers_sql(
    'user_id', 'events', group_cols=('event_type',))}),
e AS ({SK.hll_estimate_select_sql('regs', ('event_type',))}),
x AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
      FROM events GROUP BY event_type)
SELECT event_type, x.n_exact,
  {round_portable_sql('e.hll_estimate', 4)} AS hll_estimate,
  {round_portable_sql(
      '(e.hll_estimate - x.n_exact) / x.n_exact::DOUBLE', 6)} AS rel_err,
  e.empty_registers, e.registers_fp
FROM e JOIN x USING (event_type) ORDER BY event_type"""


@register("events_type_distinct_users_hll", _TYPE_HLL_ORACLE)
def events_type_distinct_users_hll(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HLL as a GROUPED aggregate: per-event-type distinct-user estimates
    from per-group register tables — ≤ m rows per group, one partial-
    aggregated shuffle keyed (event_type, bucket). This is the shape a
    100 TB 'daily distinct per dimension' report takes: the exact
    equivalent shuffles every (dim, user) pair; the sketch moves ≤ d·m
    rows per partition and yesterday's per-dim registers merge into
    today's by per-bucket max (no re-scan), which is why HLL columns —
    not exact distinct counts — are what lakehouse rollup tables store.
    The per-group registers_fp pins each group's full register state."""
    ev = load_table(spark, sf_dir, "events")
    regs = SK.hll_registers(ev, "user_id", group_cols=("event_type",))
    est = SK.hll_estimate_rows(regs, ("event_type",))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            round_portable("hll_estimate", 4).alias("hll_estimate"),
            round_portable(
                (F.col("hll_estimate") - F.col("n_exact"))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("rel_err"),
            "empty_registers",
            "registers_fp",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------- HLL set algebra

_OVL_VALUE_FLOOR = 450.0  # sparse audiences: high-value slice per type
_OVL_A = f"event_type = 'purchase' AND value > {_OVL_VALUE_FLOOR!r}"
_OVL_B = f"event_type = 'view' AND value > {_OVL_VALUE_FLOOR!r}"

_OVERLAP_ORACLE = f"""WITH ra AS ({SK.hll_registers_sql(
    'user_id', f'(SELECT user_id FROM events WHERE {_OVL_A})')}),
rb AS ({SK.hll_registers_sql(
    'user_id', f'(SELECT user_id FROM events WHERE {_OVL_B})')}),
ru AS (SELECT bucket, MAX(m_j) AS m_j
       FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY bucket),
ea AS ({SK.hll_estimate_select_sql('ra')}),
eb AS ({SK.hll_estimate_select_sql('rb')}),
eu AS ({SK.hll_estimate_select_sql('ru')}),
x AS (SELECT
  (SELECT COUNT(DISTINCT user_id) FROM events WHERE {_OVL_A}) AS n_a_exact,
  (SELECT COUNT(DISTINCT user_id) FROM events WHERE {_OVL_B}) AS n_b_exact,
  (SELECT COUNT(*) FROM (
     SELECT DISTINCT user_id FROM events WHERE {_OVL_A}
     INTERSECT
     SELECT DISTINCT user_id FROM events WHERE {_OVL_B})) AS n_intersect_exact)
SELECT x.n_a_exact, x.n_b_exact, x.n_intersect_exact,
  {round_portable_sql('ea.hll_estimate', 4)} AS a_est,
  {round_portable_sql('eb.hll_estimate', 4)} AS b_est,
  {round_portable_sql('eu.hll_estimate', 4)} AS union_est,
  {round_portable_sql(
      'ea.hll_estimate + eb.hll_estimate - eu.hll_estimate', 4)}
    AS intersect_est
FROM ea CROSS JOIN eb CROSS JOIN eu CROSS JOIN x"""


@register("events_user_overlap_hll", _OVERLAP_ORACLE)
def events_user_overlap_hll(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audience overlap WITHOUT shuffling user ids — HLL set algebra:
    union cardinality comes from merging the two slices' registers
    (per-bucket max — exact union semantics of the sketch), intersection
    by inclusion–exclusion |A|+|B|−|A∪B|. At 100 TB this is the 'how
    many high-value purchasers also browse' question across tables/days
    answered from two 256-row artifacts; the exact counts (computed here
    alongside, as the gate) need a distinct-set shuffle + set intersect
    each time asked. Slices take the value > 450 tail so the
    audiences are genuinely partial at every SF."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(
        (F.col("event_type") == "purchase")
        & (F.col("value") > _OVL_VALUE_FLOOR)
    )
    b = ev.filter(
        (F.col("event_type") == "view")
        & (F.col("value") > _OVL_VALUE_FLOOR)
    )
    ra, rb = SK.hll_registers(a, "user_id"), SK.hll_registers(b, "user_id")
    ru = (
        ra.unionByName(rb).groupBy("bucket").agg(F.max("m_j").alias("m_j"))
    )
    ea = SK.hll_estimate_row(ra).select(
        F.col("hll_estimate").alias("_a")
    )
    eb = SK.hll_estimate_row(rb).select(
        F.col("hll_estimate").alias("_b")
    )
    eu = SK.hll_estimate_row(ru).select(
        F.col("hll_estimate").alias("_u")
    )
    au, bu = a.select("user_id").distinct(), b.select("user_id").distinct()
    x = (
        au.agg(F.count(F.lit(1)).alias("n_a_exact"))
        .crossJoin(bu.agg(F.count(F.lit(1)).alias("n_b_exact")))
        .crossJoin(
            au.join(bu, "user_id").agg(
                F.count(F.lit(1)).alias("n_intersect_exact")
            )
        )
    )
    # every side is a one-row aggregate — the crossJoins are 1×1×1×1
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .crossJoin(x)
        .select(
            "n_a_exact",
            "n_b_exact",
            "n_intersect_exact",
            round_portable("_a", 4).alias("a_est"),
            round_portable("_b", 4).alias("b_est"),
            round_portable("_u", 4).alias("union_est"),
            round_portable(
                F.col("_a") + F.col("_b") - F.col("_u"), 4
            ).alias("intersect_est"),
        )
    )


# ------------------------------- sketch-backed metadata-only rollup

_ROLLUP_LO, _ROLLUP_HI = "2024-01-08", "2024-01-17"

_ROLLUP_ORACLE = f"""WITH sliced AS (
  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events
  WHERE strftime(ts, '%Y-%m-%d') BETWEEN '{_ROLLUP_LO}' AND '{_ROLLUP_HI}'),
regs AS ({SK.hll_registers_sql('user_id', 'sliced')}),
e AS ({SK.hll_estimate_select_sql('regs')}),
x AS (SELECT COUNT(DISTINCT day) AS n_days,
             COUNT(DISTINCT user_id) AS n_exact FROM sliced)
SELECT x.n_days, x.n_exact,
  {round_portable_sql('e.hll_estimate', 4)} AS hll_estimate,
  {round_portable_sql(
      '(e.hll_estimate - x.n_exact) / x.n_exact::DOUBLE', 6)} AS rel_err,
  e.empty_registers, e.registers_fp
FROM e CROSS JOIN x"""


@register("events_hll_rollup_range", _ROLLUP_ORACLE)
def events_hll_rollup_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-ONLY distinct-over-range: per-day HLL registers are
    committed to a manifest sketch table AT INGEST (three 10-day commit
    batches here — the shape of a daily ingest job appending its day's
    registers), and 'distinct users over any day range' is then answered
    by scanning ONLY the sketch table — ≤ 256 rows/day versus the events
    scan, with the manifest's min/max file stats pruning the sketch
    files to the commits overlapping the range (read_snapshot_pruned;
    the day range here touches 2 of the 3 files). Register merge is
    per-bucket max, so day-sliced registers compose to exactly the
    registers of the union slice — the associativity the oracle verifies
    by recomputing straight from the events table. This is the lakehouse
    pattern of storing sketch columns in rollup tables: the 100 TB fact
    table is never re-scanned for a cardinality question.

    The exact count computed alongside (the correctness gate) is the
    cost being avoided; production reads drop it."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )

    def build():
        root = scratch_path(
            "hll_rollup_" + sf_dir.strip("/").replace("/", "_")
        )
        for lo, hi in (
            ("2024-01-01", "2024-01-10"),
            ("2024-01-11", "2024-01-20"),
            ("2024-01-21", "2024-01-31"),
        ):
            regs = SK.hll_registers(
                ev.filter(F.col("day").between(lo, hi)),
                "user_id",
                group_cols=("day",),
            )
            M.commit_append(root, regs, n_files=1)
        return root

    root = artifact(spark, ("hll_rollup", sf_dir), build)
    sk = M.read_snapshot_pruned(
        spark, root, "day", _ROLLUP_LO, _ROLLUP_HI
    )
    merged = sk.groupBy("bucket").agg(F.max("m_j").alias("m_j"))
    sliced = ev.filter(F.col("day").between(_ROLLUP_LO, _ROLLUP_HI))
    x = sliced.agg(
        F.countDistinct("day").alias("n_days"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    return (
        SK.hll_estimate_row(merged)
        .crossJoin(x)
        .select(
            "n_days",
            "n_exact",
            round_portable("hll_estimate", 4).alias("hll_estimate"),
            round_portable(
                (F.col("hll_estimate") - F.col("n_exact"))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("rel_err"),
            "empty_registers",
            "registers_fp",
        )
    )


# ------------------------------------- mergeable histogram quantiles

_HIST_SCALE = 10  # bin width 0.1 on the value column
_HIST_QS = (0.5, 0.9, 0.99)

_HIST_ORACLE = f"""WITH hist AS (
  SELECT CAST(floor(value::DOUBLE * {float(_HIST_SCALE)!r}::DOUBLE)
         AS BIGINT) AS bin, COUNT(*) AS c
  FROM events GROUP BY bin),
cum AS (SELECT bin, c,
  SUM(c) OVER (ORDER BY bin) AS cum FROM hist),
n AS (SELECT COUNT(*) AS n_rows FROM events),
qs AS (SELECT unnest([{', '.join(repr(q) for q in _HIST_QS)}]) AS q),
ks AS (SELECT q, CAST(ceil(q::DOUBLE * n_rows) AS BIGINT) AS k
       FROM qs CROSS JOIN n),
tgt AS (SELECT q, k, MIN(bin) AS bin
        FROM ks JOIN cum ON cum.cum >= ks.k GROUP BY q, k),
ranked AS (SELECT value, row_number() OVER (ORDER BY value) AS rn
           FROM events),
exact AS (SELECT q, value AS exact_value
          FROM ks JOIN ranked ON ranked.rn = ks.k)
SELECT t.q,
  {round_portable_sql(
      f'(t.bin + 1) / {float(_HIST_SCALE)!r}::DOUBLE', 4)} AS hist_estimate,
  e.exact_value,
  {round_portable_sql(
      f'(t.bin + 1) / {float(_HIST_SCALE)!r}::DOUBLE - e.exact_value',
      4)} AS abs_err
FROM tgt t JOIN exact e USING (q) ORDER BY q"""


@register("events_value_histogram_quantiles", _HIST_ORACLE)
def events_value_histogram_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantiles from a MERGEABLE fixed-grid histogram — the sketch that
    replaces a global sort: bin = floor(value·10) (pure IEEE multiply +
    floor, identical in every engine — no libm, unlike log-grid
    DDSketch), per-bin counts partial-aggregate map-side and merge by
    add across days/shards. The estimate (upper edge of the bin holding
    rank ⌈q·n⌉) is within one bin width above truth by construction.
    The exact check value uses the histogram itself as a two-pass exact
    quantile: the cumulative table locates the target bin, then ONLY
    that bin's rows (a pushed bin-range filter, ~1/5000th of the data)
    are ranked — the scalable exact algorithm, shown beside its o(1)
    approximation. The cumulative window runs over ≤ 5 k bin rows
    (bounded by the value domain, never by data volume)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    binned = ev.select(
        F.floor(F.col("value").cast("double") * float(_HIST_SCALE))
        .cast("long")
        .alias("bin"),
        "value",
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
    cum = hist.withColumn(
        "cum",
        F.sum("c").over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    n = ev.agg(F.count(F.lit(1)).alias("n_rows"))
    qs = local_df(spark, [(q,) for q in _HIST_QS], ["q"])
    ks = qs.crossJoin(n).select(
        "q",
        F.ceil(F.col("q").cast("double") * F.col("n_rows"))
        .cast("long")
        .alias("k"),
    )
    tgt = (
        ks.join(F.broadcast(cum), F.col("cum") >= F.col("k"))
        .groupBy("q", "k")
        .agg(F.min("bin").alias("bin"))
    )
    # exact two-pass order statistic: rank only the target bin's rows
    tgt_with_prior = tgt.join(
        F.broadcast(cum.select("bin", (F.col("cum") - F.col("c")).alias("prior"))),
        "bin",
    )
    in_bin = binned.join(F.broadcast(tgt_with_prior), "bin")
    ranked = in_bin.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("q").orderBy("value")
        ),
    )
    exact = ranked.filter(
        F.col("rn") == F.col("k") - F.col("prior")
    ).select("q", F.col("value").alias("exact_value"), "bin")
    return (
        exact.select(
            "q",
            round_portable(
                (F.col("bin") + 1) / float(_HIST_SCALE), 4
            ).alias("hist_estimate"),
            "exact_value",
            round_portable(
                (F.col("bin") + 1) / float(_HIST_SCALE)
                - F.col("exact_value"),
                4,
            ).alias("abs_err"),
        )
        .orderBy("q")
    )


# ------------------------- drift from committed sketches only (r14)

_VDRIFT_BIN = 50.0
_VDRIFT_SPLIT = "2024-01-15"


def _vdrift_oracle() -> str:
    pr = "((COALESCE(r.n, 0) + 1)::DOUBLE / (t.tr + t.k))"
    pc = "((COALESCE(c.n, 0) + 1)::DOUBLE / (t.tc + t.k))"
    psi = round_portable_sql(f"({pc} - {pr}) * ln({pc} / {pr})", 6)
    return f"""WITH h AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         CAST(floor(value::DOUBLE / {_VDRIFT_BIN!r}::DOUBLE) AS BIGINT)
           AS bin,
         COUNT(*) AS c
  FROM events GROUP BY day, bin),
ref AS (SELECT bin, SUM(c) AS n FROM h
        WHERE day < '{_VDRIFT_SPLIT}' GROUP BY bin),
cur AS (SELECT bin, SUM(c) AS n FROM h
        WHERE day >= '{_VDRIFT_SPLIT}' GROUP BY bin),
bins AS (SELECT bin FROM ref UNION SELECT bin FROM cur),
t AS (SELECT (SELECT COALESCE(SUM(n), 0) FROM ref) AS tr,
             (SELECT COALESCE(SUM(n), 0) FROM cur) AS tc,
             (SELECT COUNT(*) FROM bins) AS k)
SELECT b.bin, CAST(COALESCE(r.n, 0) AS BIGINT) AS n_ref,
  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_cur,
  {psi} AS psi_term
FROM bins b LEFT JOIN ref r USING (bin) LEFT JOIN cur c USING (bin)
CROSS JOIN t ORDER BY b.bin"""


@register("events_value_drift_sketches", _vdrift_oracle(), side_effects=True)
def events_value_drift_sketches(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DRIFT WITHOUT A RESCAN — the monitoring path that actually works
    at 100 TB: per-day fixed-grid value histograms are committed at
    ingest (the mergeable sketch store — merge across any day range is
    SUM over bins, the same additivity events_hll_rollup_range exploits
    for distincts), and the drift report between a reference window and
    the current one is computed ENTIRELY from the committed sketch
    table: the query plan never touches the events table. Per bin:
    reference/current counts and the smoothed PSI term
    ((p_cur−p_ref)·ln(p_cur/p_ref)) — Σ terms is the population
    stability index; the per-bin rows localize WHERE the value
    distribution moved. The oracle replays from the raw events (sketch
    build + windowed merge + PSI), so the hash pins that the
    sketch-only path equals the full-rescan answer — the mergeability
    guarantee stated as a value-hash. Sketch-store cost: O(days × bins)
    rows, independent of event volume. Beyond-reference (monitoring +
    sketch families; complements corpus_snapshot_drift_psi, which
    drifts pinned snapshot VERSIONS of the corpus instead of ingest
    windows)."""
    from hybrid_vector_search_spark.scratch import scratch_path
    from hybrid_vector_search_spark.sources import manifest as M

    def _binned(sk):
        ref = (
            sk.filter(F.col("day") < _VDRIFT_SPLIT)
            .groupBy("bin")
            .agg(F.sum("c").alias("n_ref"))
        )
        cur = (
            sk.filter(F.col("day") >= _VDRIFT_SPLIT)
            .groupBy("bin")
            .agg(F.sum("c").alias("n_cur"))
        )
        return ref.join(cur, "bin", "full_outer").select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )

    def build():
        root = scratch_path(
            "vdrift_" + sf_dir.strip("/").replace("/", "_")
        )
        # ingest-time sketch build: ONE scan of events, per-day per-bin
        # counts committed to the manifest store
        h = (
            load_table(spark, sf_dir, "events")
            .select(
                F.date_format("ts", "yyyy-MM-dd").alias("day"),
                F.floor(F.col("value").cast("double") / _VDRIFT_BIN)
                .cast("long")
                .alias("bin"),
            )
            .groupBy("day", "bin")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        M.commit_append(root, h)
        # window totals and bin cardinality are properties of the
        # committed sketch store — derived once with the root (r15,
        # guide §1.2) instead of re-running a scalar-aggregate job on
        # every pass
        tot = _binned(M.read_snapshot(spark, root)).agg(
            F.sum("n_ref").alias("tr"),
            F.sum("n_cur").alias("tc"),
            F.count(F.lit(1)).alias("k"),
        ).first()
        tr, tc, k = int(tot["tr"]), int(tot["tc"]), int(tot["k"])
        return root, tr, tc, k

    root, tr, tc, k = artifact(spark, ("vdrift", sf_dir), build)
    joined = _binned(M.read_snapshot(spark, root))
    pr = (F.col("n_ref") + 1).cast("double") / F.lit(float(tr + k))
    pc = (F.col("n_cur") + 1).cast("double") / F.lit(float(tc + k))
    from hybrid_vector_search_spark.functions.portable import (
        round_portable,
    )

    return joined.select(
        "bin",
        "n_ref",
        "n_cur",
        round_portable((pc - pr) * F.log(pc / pr), 6).alias("psi_term"),
    ).orderBy("bin")
