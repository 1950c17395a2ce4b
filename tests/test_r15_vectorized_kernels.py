"""r15 optimization equivalence pins.

The rolling-hash and simhash Arrow kernels were rewritten from
per-row numpy calls to one segmented pass per batch (guide §4.2), and
``corpus_snapshot_upsert_rows`` was fused from two ``read_snapshot``
scans into one conditional aggregation. These tests pin each rewrite
to an independent reference: a pure-Python fold for the kernels (the
same arithmetic the DuckDB oracle mirrors), and the original
``read_snapshot``-per-version union for the fused query.
"""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from hybrid_vector_search_spark.operators import dedup as DD


def _norm(s: str) -> str:
    return re.sub(r"\s+", " ", s.lower()).strip()


def _py_rolling(s):
    if s is None:
        return 0
    h = 0
    for ch in _norm(s):
        h = (h * DD.ROLLING_MULT + ord(ch)) % DD.ROLLING_P
    return h


def _py_simhash(s, bits=DD.SIMHASH_BITS):
    if s is None:
        return 0
    hex_chars = max(8, (bits + 3) // 4)
    toks = _norm(s).split(" ")
    votes = [0] * bits
    for t in toks:
        hv = int(hashlib.md5(t.encode()).hexdigest()[:hex_chars], 16)
        for b in range(bits):
            votes[b] += 1 if (hv >> b) & 1 else -1
    return sum(1 << b for b in range(bits) if votes[b] > 0)


# edge cases the segmented pass must get right: None (fingerprint 0),
# empty string, single char, unicode beyond the BMP (utf-32 joining),
# whitespace-only, and docs long enough to grow the power table
FIXTURE = [
    (0, None),
    (1, ""),
    (2, "a"),
    (3, "  Hello   WORLD  "),
    (4, "ünïcödé ☃ text \U0001f600"),
    (5, "x" * 3000),
    (6, "the quick brown fox jumps over the lazy dog " * 40),
    (7, " \t\n "),
    (8, "short"),
]


@pytest.fixture(scope="module")
def fixture_df(spark):
    return spark.createDataFrame(FIXTURE, "doc_id long, text string")


def test_rolling_hash_matches_python_fold(fixture_df):
    got = {
        r.doc_id: r.h
        for r in fixture_df.select(
            "doc_id", DD.rolling_hash("text").alias("h")
        ).collect()
    }
    for doc_id, text in FIXTURE:
        assert got[doc_id] == _py_rolling(text), (doc_id, text)


@pytest.mark.parametrize("bits", [DD.SIMHASH_BITS, DD.SIMHASH_WIDE_BITS])
def test_simhash_matches_python_votes(fixture_df, bits):
    got = {
        r.doc_id: r.simhash
        for r in DD.simhash(fixture_df, bits=bits).collect()
    }
    for doc_id, text in FIXTURE:
        assert got[doc_id] == _py_simhash(text, bits), (doc_id, text)


def test_upsert_rows_fused_matches_read_snapshot(spark):
    """The fused single-scan form must emit row-identical results to
    the original per-version ``read_snapshot`` aggregation union over
    the same committed root."""
    from hybrid_vector_search_spark.plans import (
        registry_lakehouse as L,
    )
    from hybrid_vector_search_spark.session import artifact
    from hybrid_vector_search_spark.sources import manifest as M

    sf = "/root/testdata/sf0.001"
    fused = L.corpus_snapshot_upsert_rows(spark, sf).collect()
    root = artifact(
        spark, ("upsert_rows", sf), lambda: pytest.fail("not built")
    )
    parts = []
    for v in (1, 2):
        n_data = len(M.snapshot_files(root, v)[1])
        n_del = len(M.snapshot_delete_files(root, v))
        parts.append(
            M.read_snapshot(spark, root, v)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("id").alias("sum_id"),
                F.sum("label").alias("sum_label"),
            )
            .select(
                F.lit(v).alias("version"),
                F.lit(n_data).alias("data_files"),
                F.lit(n_del).alias("delete_files"),
                "n_rows",
                "sum_id",
                "sum_label",
            )
        )
    expected = (
        parts[0].unionByName(parts[1]).orderBy("version").collect()
    )
    assert [tuple(r) for r in fused] == [tuple(r) for r in expected]
    assert fused[0].__fields__ == expected[0].__fields__
