"""Sketch primitives (functions/sketches.py): portability of the hashes,
HLL register/estimator semantics, CMS guarantees, bloom exactness of the
prefiltered decontamination.

The registry-level value-hash gate (selfcheck/driver) already pins the
Spark↔DuckDB mirror end-to-end; these tests pin the INVARIANTS a hash
match alone would not explain — merge associativity, the one-sided CMS
bound, estimator branch selection, and the bloom superset property."""

import hashlib

import pytest
from pyspark.sql import functions as F

from hybrid_vector_search_spark.functions import sketches as SK


def _md5_long_py(salt: str, value: str, hex_chars: int = SK.WIDE_HEX) -> int:
    return int(
        hashlib.md5(f"{salt}|{value}".encode()).hexdigest()[:hex_chars], 16
    )


def test_md5_long_matches_python_reference(spark):
    df = spark.range(50).select(F.col("id"))
    got = {
        r["id"]: r["h"]
        for r in df.select(
            "id", SK.md5_long("id", "t").alias("h")
        ).collect()
    }
    for i in range(50):
        assert got[i] == _md5_long_py("t", str(i))


def test_hll_rho_bit_positions(spark):
    # rho = leading zeros of the 60-bit value + 1; sentinel 61 at zero.
    rows = (
        spark.createDataFrame(
            [(0,), (1,), (2,), (3,), (1 << 59,), ((1 << 60) - 1,)], ["w"]
        )
        .select(SK.hll_rho(F.col("w")).alias("rho"))
        .collect()
    )
    assert [r["rho"] for r in rows] == [61, 60, 59, 59, 1, 1]


def test_hll_registers_insert_blind(spark):
    """Duplicates never change the registers: HLL of a multiset equals
    HLL of its distinct set — the merge property that makes the sketch a
    map-side/streaming aggregate."""
    base = spark.range(200).select((F.col("id") % 40).alias("k"))
    once = SK.hll_registers(base.distinct(), "k")
    multi = SK.hll_registers(base, "k")
    assert sorted(map(tuple, once.collect())) == sorted(
        map(tuple, multi.collect())
    )


def test_hll_merge_is_union(spark):
    """Register-wise max over two halves == registers of the union."""
    a = spark.range(0, 60).select(F.col("id").alias("k"))
    b = spark.range(30, 120).select(F.col("id").alias("k"))
    merged = (
        SK.hll_registers(a, "k")
        .unionByName(SK.hll_registers(b, "k"))
        .groupBy("bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    whole = SK.hll_registers(a.unionByName(b).distinct(), "k")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_hll_estimate_accuracy_and_branches(spark):
    """Small n → linear-counting branch, large n → raw harmonic branch;
    both land within 4 standard errors (1.04/sqrt(m)) of truth."""
    se = 1.04 / (SK.HLL_M**0.5)
    for n, branch_linear in [(100, True), (5000, False)]:
        regs = SK.hll_registers(
            spark.range(n).select(F.col("id").alias("k")), "k"
        )
        row = SK.hll_estimate_row(regs).collect()[0]
        est, empty = row["hll_estimate"], row["empty_registers"]
        went_linear = est <= 2.5 * SK.HLL_M and empty > 0
        assert went_linear == branch_linear, (n, est, empty)
        assert abs(est - n) / n < 4 * se, (n, est)


def test_hll_estimate_empty_input(spark):
    regs = SK.hll_registers(
        spark.range(1).filter(F.col("id") < 0).select(F.col("id").alias("k")),
        "k",
    )
    row = SK.hll_estimate_row(regs).collect()[0]
    assert row["hll_estimate"] == 0.0  # linear counting: m·ln(m/m)
    assert row["empty_registers"] == SK.HLL_M
    assert row["registers_fp"] == hashlib.md5(b"").hexdigest()


def test_cms_never_undercounts_and_merges(spark):
    """The CMS point query (min over d counters) is ≥ the true count for
    EVERY key — one-sided error — and sketches of two shards merge by
    cell-wise add into the whole-input sketch."""
    # skewed multiset: key k appears (k % 7) + 1 times, 300 keys in 1024
    # buckets per row → collisions are likely somewhere, never negative.
    rows = spark.range(300).select(
        F.col("id").alias("k"), ((F.col("id") % 7) + 1).alias("reps")
    )
    data = rows.select(
        F.explode(F.expr("sequence(1, reps)")).alias("_"), "k"
    ).select("k")
    sketch = SK.cms_sketch(data, "k").collect()
    cells = {(r["r"], r["bucket"]): r["c"] for r in sketch}
    truth = {
        r["k"]: r["n"]
        for r in data.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for k, n in truth.items():
        est = min(
            cells[(r, _md5_long_py(f"cms{r}", str(k)) % SK.CMS_W)]
            for r in range(SK.CMS_D)
        )
        assert est >= n, (k, est, n)

    half_a = data.filter(F.col("k") < 150)
    half_b = data.filter(F.col("k") >= 150)
    merged = (
        SK.cms_sketch(half_a, "k")
        .unionByName(SK.cms_sketch(half_b, "k"))
        .groupBy("r", "bucket")
        .agg(F.sum("c").alias("c"))
        .collect()
    )
    assert {(r["r"], r["bucket"]): r["c"] for r in merged} == cells


def test_bloom_m_for_sizing():
    assert SK.bloom_m_for(0) == SK.BLOOM_M
    assert SK.bloom_m_for(4096) == SK.BLOOM_M  # 16·4096 = BLOOM_M
    assert SK.bloom_m_for(4097) == SK.BLOOM_M * 2
    assert SK.bloom_m_for(400_000) == 1 << 23  # next pow2 ≥ 6.4M bits
    assert SK.bloom_m_for(10**9) == SK.BLOOM_M_MAX  # clamped


def test_bloom_membership_superset(spark):
    """Every inserted key passes the all-K-positions test (no false
    negatives — the property the decontamination prefilter relies on for
    answer preservation)."""
    keys = spark.range(500).select(F.col("id").cast("string").alias("g"))
    bits = (
        keys.select(F.explode(SK.bloom_positions("g")).alias("pos"))
        .distinct()
    )
    passed = (
        keys.select(
            "g", F.explode(SK.bloom_positions("g")).alias("pos")
        )
        .join(F.broadcast(bits), "pos")
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") == SK.BLOOM_K)
    )
    assert passed.count() == 500


def test_bloom_decontaminate_matches_exact(spark):
    """End-to-end: the bloom-prefiltered decontamination equals the exact
    query row-for-row at sf0.001 (the registry oracle pins sf0.01; this
    pins the answer-preserving claim in-process at another SF)."""
    from hybrid_vector_search_spark.plans import registry

    sf = "/root/testdata/sf0.001"
    exact = registry.QUERIES["docs_decontaminate"](spark, sf).collect()
    bloom = registry.QUERIES["docs_decontaminate_bloom"](spark, sf).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, bloom))


@pytest.mark.parametrize("n", [0, 1, 63])
def test_hll_sql_mirror_matches_spark(spark, n):
    """The DuckDB SQL mirror reproduces Spark's registers and estimate
    bit-for-bit on ad-hoc inputs (the registry gate runs the same
    comparison on the events table; this covers edge sizes incl. empty)."""
    import duckdb

    df = spark.range(n).select(F.col("id").alias("k"))
    srow = (
        SK.hll_estimate_row(SK.hll_registers(df, "k"))
        .collect()[0]
        .asDict()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT range AS k FROM range({n})")
    drow = con.execute(
        SK.hll_estimate_row_sql(SK.hll_registers_sql("k", "t"))
    ).fetchdf()
    assert drow["registers_fp"][0] == srow["registers_fp"]
    assert int(drow["empty_registers"][0]) == srow["empty_registers"]
    assert float(drow["hll_estimate"][0]) == pytest.approx(
        srow["hll_estimate"], abs=1e-9
    )


def test_streaming_hll_registers_merge_across_restarts(spark, tmp_path):
    """'The sketch IS the checkpoint': a second availableNow drain over
    newly-landed files MERGES new users into the persisted register
    state (per-bucket max continues, old files are not reprocessed),
    and the merged registers equal a batch HLL over the union input."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from hybrid_vector_search_spark.streaming.pipeline import (
        _drain,
        read_events_stream,
    )

    d = str(tmp_path / "land")
    ckpt = str(tmp_path / "ckpt_hll")
    ddl = (
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING"
    )
    rows1 = [
        (i, datetime(2024, 1, 1, 0, i), i % 7, "view", 1.0, "{}")
        for i in range(20)
    ]
    rows2 = [
        (100 + i, datetime(2024, 1, 1, 1, i), 50 + i, "view", 1.0, "{}")
        for i in range(15)
    ]
    regs: dict[int, int] = {}

    def drain():
        ev = read_events_stream(spark, d)
        stream = (
            ev.select(
                (SK.md5_long("user_id", "hllb") % SK.HLL_M).alias("bucket"),
                SK.hll_rho(SK.md5_long("user_id", "hllw")).alias("rho"),
            )
            .groupBy("bucket")
            .agg(F.max("rho").alias("m_j"))
        )
        _drain(
            stream.writeStream.foreachBatch(
                lambda bdf, _id: regs.update(
                    {int(r.bucket): int(r.m_j) for r in bdf.collect()}
                )
            )
            .outputMode("complete")
            .option("checkpointLocation", ckpt),
            "HLL register drain",
        )

    spark.createDataFrame(rows1, ddl).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    drain()
    first = dict(regs)

    spark.createDataFrame(rows2, ddl).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    drain()

    # merge is monotone: no register went down
    assert all(regs[b] >= m for b, m in first.items())
    # merged streaming state == batch registers over the union input
    union = spark.createDataFrame(rows1 + rows2, ddl)
    want = {
        int(r["bucket"]): int(r["m_j"])
        for r in SK.hll_registers(union, "user_id").collect()
    }
    assert regs == want
