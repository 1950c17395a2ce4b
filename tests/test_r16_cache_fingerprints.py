"""r16: persistent-cache fingerprints must track the INPUT DATA.

r15 VERDICT "what's wrong" #1 / ADVICE #1: the content-addressed warmup
artifacts (HNSW graph, bucketed tables, parity/quantized corpus, the
streaming-dedup prebuild) fingerprinted only builder source + params, so
regenerating the testdata in place at the same path would silently serve
stale rows. scratch.data_fingerprint folds a (relpath, size, mtime_ns)
listing of the sf_dir into every cache key; these tests pin the rotation
contract without a SparkSession.
"""

from __future__ import annotations

import os
import time

from hybrid_vector_search_spark.scratch import data_fingerprint


def _write(path: str, content: bytes) -> None:
    with open(path, "wb") as f:
        f.write(content)


def test_data_fingerprint_stable_on_unchanged_dir(tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    _write(str(d / "events.parquet"), b"aaa")
    (d / "sub").mkdir()
    _write(str(d / "sub" / "x.parquet"), b"bbb")
    assert data_fingerprint(str(d)) == data_fingerprint(str(d))


def test_data_fingerprint_rotates_on_content_rewrite(tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    p = d / "events.parquet"
    _write(str(p), b"generation-one")
    fp1 = data_fingerprint(str(d))
    # same byte length, different content: size alone would not catch it,
    # mtime does (regeneration always lands a fresh mtime)
    time.sleep(0.01)
    _write(str(p), b"generation-TWO")
    fp2 = data_fingerprint(str(d))
    assert fp1 != fp2


def test_data_fingerprint_rotates_on_added_file(tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    _write(str(d / "a.parquet"), b"x")
    fp1 = data_fingerprint(str(d))
    _write(str(d / "b.parquet"), b"y")
    assert data_fingerprint(str(d)) != fp1


def test_data_fingerprint_remote_path_is_path_keyed():
    # remote stores are not listed (metadata RPCs per build); the path
    # itself is the declared identity
    a = data_fingerprint("s3://bucket/sf1")
    assert a == data_fingerprint("s3://bucket/sf1")
    assert a != data_fingerprint("s3://bucket/sf2")


def test_streaming_dedup_cache_key_tracks_data(tmp_path):
    # the highest-cost persisted artifact family: its fingerprint must
    # rotate when any file under sf_dir is rewritten
    from hybrid_vector_search_spark.plans.registry_streaming_layouts import (
        _sd_key,
    )
    from hybrid_vector_search_spark.scratch import prebuild_fingerprint

    def _sd_fingerprint(sf_dir):
        return prebuild_fingerprint(*_sd_key(), sf_dir)

    d = tmp_path / "sfX"
    d.mkdir()
    p = d / "documents.parquet"
    _write(str(p), b"docs-v1")
    fp1 = _sd_fingerprint(str(d))
    assert fp1 == _sd_fingerprint(str(d))  # stable while unchanged
    time.sleep(0.01)
    _write(str(p), b"docs-v2")
    assert _sd_fingerprint(str(d)) != fp1


def test_data_fingerprint_ignores_unreadable_entries(tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    _write(str(d / "a.parquet"), b"x")
    fp = data_fingerprint(str(d))
    # a dangling symlink must not blow up the walk
    os.symlink(str(d / "missing"), str(d / "dangling"))
    assert isinstance(data_fingerprint(str(d)), str)
    assert fp  # original still computed fine
