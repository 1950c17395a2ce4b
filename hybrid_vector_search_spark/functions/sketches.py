"""Mergeable sketch primitives — HyperLogLog, Count-Min, Bloom — with
engine-portable hashes so DuckDB oracles replicate every register value
bit-for-bit.

Why sketches are first-class for a 100 TB curation pipeline: exact
``COUNT(DISTINCT)`` / per-key counts over TB-scale keys shuffle the full
key set; a sketch is FIXED-SIZE state (m registers / d×w counters / m
bits) that partial-aggregates map-side and merges associatively, so the
only shuffle is O(sketch) rows per partition regardless of input size.
The same property makes them streaming state (bounded, monotone merge)
and cross-day combinable (union = register-wise max / counter add / bit
or). The reference engine (EZ586/Hybrid_Vector_Search, src/ops/filters.py
+ src/harness/run.py) has no sketch surface — this family belongs to the
beyond-reference training-data toolkit alongside dedup and curation.

Portability contract (what makes these ORACLE-CHECKABLE):

* Hash: first ``hex_chars`` hex chars of md5 → BIGINT. Spark
  ``conv(substr(md5(x),1,n),16,10)`` ≡ DuckDB
  ``('0x'||substr(md5(x),1,n))::BIGINT`` (same convention as
  operators/dedup.md5_int). 15 hex chars = 60 bits < 2^63.
* Bit length: Spark ``length(bin(w))`` ≡ DuckDB ``length(to_base(w,2))``
  — exact integers, no libm.
* HLL's harmonic sum is kept EXACT as scaled integers
  (``2^(61-M_j)`` summed in DECIMAL(38,0) / HUGEINT — dyadic terms, no
  float-order sensitivity); only the final division and the
  small-range ``ln`` correction are floating point, both rounded with
  ``round_portable`` (same ULP-tolerance policy as the tf-idf ln, see
  registry_corpus.text_tfidf_top_terms).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------- hashing

#: widest portable md5 slice: 15 hex chars = 60 bits (< 2^63 signed).
WIDE_HEX = 15
WIDE_BITS = 60


def md5_long(col: Column | str, salt: str, hex_chars: int = WIDE_HEX) -> Column:
    """Salted portable integer hash: ``md5(salt || '|' || x)`` first
    ``hex_chars`` hex chars → BIGINT. Distinct salts give independent
    hash functions (md5 avalanche); identical in Spark and DuckDB."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.md5(F.concat(F.lit(salt + "|"), c.cast("string")))
    return F.conv(F.substring(h, 1, hex_chars), 16, 10).cast("long")


def md5_long_sql(expr: str, salt: str, hex_chars: int = WIDE_HEX) -> str:
    return (
        f"('0x' || substr(md5('{salt}|' || ({expr})::VARCHAR),"
        f" 1, {hex_chars}))::BIGINT"
    )


# ------------------------------------------------------------ HyperLogLog

HLL_M = 256  # registers (p = 8); std err ≈ 1.04/sqrt(m) ≈ 6.5%
_POW2_61 = 1 << (WIDE_BITS + 1)  # exact in double (power of two)
# alpha_256 — SAME literal injected into both engines (repr round-trips),
# so there is no cross-engine float-expression drift to reason about.
HLL_ALPHA = repr(0.7213 / (1.0 + 1.079 / HLL_M))


def hll_rho(w: Column) -> Column:
    """Position of the first 1-bit of a 60-bit hash (leading zeros + 1):
    ``61 - bitlen(w)``; the all-zero hash gets the sentinel 61."""
    return F.when(w == 0, F.lit(WIDE_BITS + 1)).otherwise(
        F.lit(WIDE_BITS + 1) - F.length(F.bin(w))
    )


def hll_rho_sql(w: str) -> str:
    b = WIDE_BITS + 1
    return f"(CASE WHEN ({w}) = 0 THEN {b} ELSE {b} - length(to_base({w}, 2)) END)"


def hll_registers(
    df: DataFrame,
    key: Column | str,
    salt: str = "hll",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(group_cols…, bucket, m_j) register table — the WHOLE sketch
    state, ≤ HLL_M rows per group.

    bucket and rho come from two INDEPENDENTLY salted hashes (textbook
    HLL splits one hash's bits; independent hashes are equivalent and
    keep each portable slice ≤ 60 bits). Duplicates need no pre-distinct:
    max(rho) over repeats of a key equals the key's rho — the
    insert-blind merge that makes HLL a streaming/map-side aggregate."""
    c = F.col(key) if isinstance(key, str) else key
    return (
        df.select(
            *group_cols,
            (md5_long(c, salt + "b") % HLL_M).alias("bucket"),
            hll_rho(md5_long(c, salt + "w")).alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("m_j"))
    )


def hll_registers_sql(
    key_expr: str,
    from_sql: str,
    salt: str = "hll",
    group_cols: tuple[str, ...] = (),
) -> str:
    """DuckDB mirror of :func:`hll_registers` (a CTE body)."""
    keys = "".join(f"{c}, " for c in group_cols)
    by = ", ".join([*group_cols, "bucket"])
    return (
        f"SELECT {keys}bucket, MAX(rho) AS m_j FROM ("
        f"SELECT {keys}({md5_long_sql(key_expr, salt + 'b')}) % {HLL_M} AS bucket, "
        f"{hll_rho_sql(md5_long_sql(key_expr, salt + 'w'))} AS rho "
        f"FROM {from_sql}) GROUP BY {by}"
    )


def hll_estimate_rows(
    registers: DataFrame, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(group_cols…, hll_estimate DOUBLE unrounded, empty_registers
    BIGINT, registers_fp VARCHAR) — one row per group (one row total
    when ``group_cols`` is empty) from a register table that carries the
    group columns alongside (bucket, m_j).

    The harmonic sum stays EXACT: each term 2^(-M_j) is scaled by 2^61
    to the integer 2^(61-M_j) and summed in DECIMAL(38,0) (≤ 2^69 total
    — order-insensitive), then ONE cast + division produce the double.
    Small-range branch (E_raw ≤ 2.5m, empty registers exist) is the
    standard linear counting ``m·ln(m/V)``. The 32-bit large-range
    correction is omitted: the rho hash is 60-bit, collisions are
    negligible below ~2^30 distinct. registers_fp pins every register
    byte, so the hash check catches any drift the estimate would mask."""
    agg = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("nonempty"),
        F.coalesce(
            F.sum(
                F.expr(
                    "CAST(shiftleft(CAST(1 AS BIGINT),"
                    f" {WIDE_BITS + 1} - m_j) AS DECIMAL(38,0))"
                )
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("s_scaled"),
        F.expr(
            "md5(array_join(transform(array_sort(collect_list("
            "struct(bucket, m_j))), s -> concat(s.bucket, ':', s.m_j)), ','))"
        ).alias("registers_fp"),
    )
    m, p61 = HLL_M, float(_POW2_61)
    v = F.lit(m) - F.col("nonempty")
    s = (
        F.col("s_scaled") + v.cast("decimal(38,0)") * F.lit(_POW2_61).cast("decimal(38,0)")
    ).cast("double") / F.lit(p61)
    e_raw = F.lit(float(HLL_ALPHA)) * F.lit(float(m * m)) / s
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(e_raw)
    return agg.select(
        *group_cols,
        est.alias("hll_estimate"),
        v.cast("long").alias("empty_registers"),
        "registers_fp",
    )


def hll_estimate_row(registers: DataFrame) -> DataFrame:
    """Ungrouped (one-row) form of :func:`hll_estimate_rows`."""
    return hll_estimate_rows(registers)


def hll_estimate_select_sql(
    regs: str, group_cols: tuple[str, ...] = ()
) -> str:
    """DuckDB mirror of :func:`hll_estimate_rows`: a composable SELECT
    over an existing relation/CTE name ``regs`` with columns
    (bucket, m_j [, group_cols…])."""
    m = HLL_M
    b = WIDE_BITS + 1
    keys = "".join(f"{c}, " for c in group_cols)
    group_by = f"GROUP BY {', '.join(group_cols)}" if group_cols else ""
    return f"""SELECT {keys}
  CASE WHEN ({HLL_ALPHA}::DOUBLE * {float(m * m)!r}::DOUBLE / s)
            <= {2.5 * m!r}::DOUBLE AND v > 0
       THEN {float(m)!r}::DOUBLE * ln({float(m)!r}::DOUBLE / v::DOUBLE)
       ELSE {HLL_ALPHA}::DOUBLE * {float(m * m)!r}::DOUBLE / s
       END AS hll_estimate,
  v::BIGINT AS empty_registers, registers_fp
FROM (SELECT {keys}
    CAST(s_scaled + ({m} - nonempty)::HUGEINT * (1::HUGEINT << {b})
         AS DOUBLE) / {float(1 << b)!r}::DOUBLE AS s,
    {m} - nonempty AS v, registers_fp
  FROM (SELECT {keys}COUNT(*) AS nonempty,
      COALESCE(SUM((1::HUGEINT << ({b} - m_j))), 0::HUGEINT) AS s_scaled,
      md5(COALESCE(array_to_string(
        list(bucket::VARCHAR || ':' || m_j::VARCHAR ORDER BY bucket), ','),
        '')) AS registers_fp
    FROM {regs} {group_by}))"""


def hll_estimate_row_sql(registers_cte: str) -> str:
    """Ungrouped convenience wrapper: WITH regs AS (…) + the SELECT."""
    return f"WITH regs AS ({registers_cte})\n" + hll_estimate_select_sql(
        "regs"
    )


# ------------------------------------------------------------- Count-Min

CMS_D = 4  # hash rows
CMS_W = 1024  # counters per row; eps ≈ e/w, delta ≈ e^-d


def cms_bucket(key: Column | str, row: int, salt: str = "cms") -> Column:
    """Counter column for hash row ``row``: salted md5 → [0, CMS_W)."""
    return md5_long(key, f"{salt}{row}") % CMS_W


def cms_bucket_sql(key_expr: str, row: int, salt: str = "cms") -> str:
    return f"({md5_long_sql(key_expr, f'{salt}{row}')}) % {CMS_W}"


def cms_sketch(df: DataFrame, key: Column | str, salt: str = "cms") -> DataFrame:
    """(r, bucket, c) counter table — the whole sketch, ≤ CMS_D·CMS_W
    rows. One explode (×CMS_D) then a partial-aggregated groupBy: each
    input partition contributes at most d·w pre-combined rows to the one
    narrow shuffle, independent of partition row count."""
    c = F.col(key) if isinstance(key, str) else key
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"), cms_bucket(c, r, salt).alias("bucket")
            )
            for r in range(CMS_D)
        ]
    )
    return (
        df.select(F.explode(cells).alias("cell"))
        .select("cell.r", "cell.bucket")
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_sketch_sql(key_expr: str, from_sql: str, salt: str = "cms") -> str:
    """DuckDB mirror of :func:`cms_sketch` (a CTE body)."""
    arms = " UNION ALL ".join(
        f"SELECT {r} AS r, {cms_bucket_sql(key_expr, r, salt)} AS bucket "
        f"FROM {from_sql}"
        for r in range(CMS_D)
    )
    return f"SELECT r, bucket, COUNT(*) AS c FROM ({arms}) GROUP BY r, bucket"


# ----------------------------------------------------------------- Bloom

BLOOM_M = 1 << 16  # default bits (size with bloom_m_for at build time)
BLOOM_K = 3  # hash functions
BLOOM_M_MAX = 1 << 26  # 8 MiB as a real bitset — broadcast-safe cap


def bloom_m_for(n_keys: int, bits_per_key: int = 16) -> int:
    """Power-of-two bloom width ≥ bits_per_key·n_keys (clamped to
    [BLOOM_M, BLOOM_M_MAX]). At k=3 and 16 bits/key the false-positive
    rate is ≈(1−e^(−3/16))³ ≈ 0.5%; an UNDER-sized filter stays
    answer-preserving (the exact confirm join removes false positives)
    but silently degrades to pass-everything — the ×16 probe measured
    FP→1 at the fixed 2^16 width, which is why sizing happens at build
    time from the inserted-key count."""
    m = BLOOM_M
    while m < bits_per_key * n_keys and m < BLOOM_M_MAX:
        m <<= 1
    return m


def bloom_positions(
    key: Column | str, salt: str = "bloom", m: int = BLOOM_M
) -> Column:
    """ARRAY of the BLOOM_K bit positions of a key — the relational form
    of the bitset (a position-set table IS the bloom filter: membership
    test = all K positions present). The array form keeps the filter
    Catalyst-plannable (explode + broadcast semi-join) instead of hiding
    it in a Python UDF bitset probe; a production deployment may compile
    the same positions into a broadcast bitset without changing
    semantics."""
    return F.array(
        *[md5_long(key, f"{salt}{i}") % m for i in range(BLOOM_K)]
    )
