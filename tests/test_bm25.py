"""Persisted BM25 inverted-index layout (operators/bm25.py)."""

import os

import pytest
from pyspark.sql import functions as F

from hybrid_vector_search_spark.errors import ValidationError
from hybrid_vector_search_spark.operators.bm25 import (
    build_postings_layout,
    bm25_topk_plan,
    term_bucket,
    tokenize,
)


@pytest.fixture()
def layout(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (0, "spark joins big tables fast"),
            (1, "spark spark streaming joins"),
            (2, "vector search with filters"),
            (3, None),  # null text: contributes no tokens, counts as a doc
            (4, "big big big tables"),
        ],
        "id long, text string",
    )
    path = str(tmp_path / "bm25")
    meta = build_postings_layout(docs, path, n_buckets=8)
    return path, meta


def test_build_meta_and_layout_shape(spark, layout):
    path, meta = layout
    assert meta["n"] == 5  # null-text doc still counts toward N
    assert meta["t"] == 17
    # one file per bucket directory
    pdir = os.path.join(path, "postings")
    for e in os.scandir(pdir):
        if e.name.startswith("bucket="):
            files = [f for f in os.listdir(e.path) if f.endswith(".parquet")]
            assert len(files) == 1, e.name


def test_term_bucket_matches_layout_column(spark, layout):
    """The driver-side bucket twin must agree with the layout's bucket
    column for every indexed term — this is what makes query-time
    partition pruning correct."""
    path, meta = layout
    rows = (
        spark.read.parquet(os.path.join(path, "postings"))
        .select("term", "bucket")
        .distinct()
        .collect()
    )
    assert rows
    for r in rows:
        assert term_bucket(r["term"], meta["n_buckets"]) == r["bucket"], r


def test_query_ranks_and_prunes(spark, layout):
    path, _ = layout
    top = bm25_topk_plan(spark, path, ["spark"], k=3).collect()
    ids = [r["id"] for r in top]
    # doc 1 has tf=2 for 'spark' and is short → ranks above doc 0
    assert ids[0] == 1 and set(ids) == {0, 1}
    # multi-term query unions hits; every score positive
    top2 = bm25_topk_plan(spark, path, ["spark", "tables"], k=5).collect()
    assert {r["id"] for r in top2} == {0, 1, 4}
    assert all(r["score"] > 0 for r in top2)
    # the scan is pruned to the probed buckets
    plan = bm25_topk_plan(spark, path, ["spark"], k=3)
    txt = plan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in txt and "bucket" in txt


def test_unknown_term_and_empty_terms(spark, layout):
    path, _ = layout
    assert bm25_topk_plan(spark, path, ["zzzznope"], k=3).count() == 0
    with pytest.raises(ValidationError):
        bm25_topk_plan(spark, path, [], k=3)


def test_tokenize_matches_sql_semantics(spark):
    docs = spark.createDataFrame(
        [(0, "  A  b\tC  "), (1, ""), (2, None)], "id long, text string"
    )
    got = {(r["id"], r["term"]) for r in tokenize(docs).collect()}
    assert got == {(0, "a"), (0, "b"), (0, "c")}


def test_append_batch_equals_rebuild(spark, tmp_path):
    """Append-only maintenance ≡ full rebuild: scores, stats, and meta
    all match a from-scratch build over the union corpus — and OLD
    docs' scores legitimately move (N, avgdl, df change)."""
    from hybrid_vector_search_spark.operators.bm25 import (
        append_postings_batch,
    )

    base = spark.createDataFrame(
        [
            (0, "spark joins big tables fast"),
            (1, "spark spark streaming joins"),
            (2, "vector search with filters"),
        ],
        "id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "big spark tables again"), (11, "fresh vector joins")],
        "id long, text string",
    )
    p_incr = str(tmp_path / "incr")
    build_postings_layout(base, p_incr, n_buckets=8)
    meta = append_postings_batch(spark, p_incr, batch)
    p_full = str(tmp_path / "full")
    meta_full = build_postings_layout(
        base.unionByName(batch), p_full, n_buckets=8
    )
    assert meta["n"] == meta_full["n"] and meta["t"] == meta_full["t"]

    for terms in (["spark"], ["vector", "joins"], ["big", "tables"]):
        got = [(r["id"], r["score"]) for r in
               bm25_topk_plan(spark, p_incr, terms, k=10).collect()]
        want = [(r["id"], r["score"]) for r in
                bm25_topk_plan(spark, p_full, terms, k=10).collect()]
        assert got == want, terms

    # termstats merged additively
    stats = {
        r["term"]: r["df"]
        for r in spark.read.parquet(os.path.join(p_incr, "termstats")).collect()
    }
    assert stats["spark"] == 3 and stats["vector"] == 2


def test_append_batch_file_growth_bounded_per_batch(spark, tmp_path):
    """Each append adds at most ONE file per touched bucket."""
    from hybrid_vector_search_spark.operators.bm25 import (
        append_postings_batch,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} common") for i in range(6)], "id long, text string"
    )
    path = str(tmp_path / "grow")
    build_postings_layout(docs, path, n_buckets=4)
    pdir = os.path.join(path, "postings")

    def bucket_files():
        return {
            e.name: sum(1 for f in os.listdir(e.path) if f.endswith(".parquet"))
            for e in os.scandir(pdir)
            if e.name.startswith("bucket=")
        }

    before = bucket_files()
    append_postings_batch(
        spark,
        path,
        spark.createDataFrame([(100, "common extra")], "id long, text string"),
    )
    after = bucket_files()
    for b, n_files in after.items():
        assert n_files <= before.get(b, 0) + 1, (b, before, after)


def test_append_crash_recovery_and_retry_safety(spark, tmp_path):
    """The append commit protocol: a crash inside the commit window is
    repaired by replay (no doubled postings), and a marker whose staged
    batch is lost RAISES instead of exposing a half-appended index
    (review r8 finding #3)."""
    import json

    from hybrid_vector_search_spark.errors import ValidationError
    from hybrid_vector_search_spark.operators import bm25 as M
    from hybrid_vector_search_spark.operators.bm25 import (
        append_postings_batch,
    )
    from hybrid_vector_search_spark.scratch import (
        pending_marker,
        recover_staged,
    )

    base = spark.createDataFrame(
        [(0, "spark joins tables"), (1, "vector search")],
        "id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "spark vector tables")], "id long, text string"
    )
    path = str(tmp_path / "crash")
    build_postings_layout(base, path, n_buckets=4)

    # simulate the crash: stage + marker written, commit never ran
    real_commit = M._commit_append
    captured = {}

    def crashing_commit(p, info):
        captured["info"] = info
        raise RuntimeError("crash inside commit window")

    M._commit_append = crashing_commit
    try:
        with pytest.raises(RuntimeError):
            append_postings_batch(spark, path, batch)
    finally:
        M._commit_append = real_commit
    assert os.path.exists(pending_marker(path))

    # replay completes the append exactly once
    assert recover_staged(path, lambda info: M._commit_append(path, info))
    full = str(tmp_path / "full")
    build_postings_layout(base.unionByName(batch), full, n_buckets=4)
    for terms in (["spark"], ["vector", "tables"]):
        got = [(r["id"], r["score"]) for r in
               bm25_topk_plan(spark, path, terms, k=10).collect()]
        want = [(r["id"], r["score"]) for r in
                bm25_topk_plan(spark, full, terms, k=10).collect()]
        assert got == want, terms
    assert not os.path.exists(pending_marker(path))

    # marker with a LOST stage: readers and appenders refuse
    with open(pending_marker(path), "w") as f:
        json.dump({"stage": path + "_gone", "files": [], "meta": {}}, f)
    with pytest.raises(ValidationError, match="missing"):
        bm25_topk_plan(spark, path, ["spark"], k=5)
    assert os.path.exists(pending_marker(path))
    os.remove(pending_marker(path))


def test_bucket_compaction_after_appends(spark, tmp_path):
    """compact_partitions generalizes to the postings layout: appends
    fragment the term buckets (one file per batch per touched bucket);
    compacting on partition_col='bucket' restores one file per bucket
    with identical rows and identical query results."""
    from hybrid_vector_search_spark.operators.bm25 import (
        append_postings_batch,
    )
    from hybrid_vector_search_spark.operators.ivf import compact_partitions

    docs = spark.createDataFrame(
        [(i, f"spark common w{i}") for i in range(4)], "id long, text string"
    )
    path = str(tmp_path / "cmp")
    build_postings_layout(docs, path, n_buckets=4)
    for b in range(3):
        append_postings_batch(
            spark,
            path,
            spark.createDataFrame(
                [(100 + 10 * b + j, f"common extra x{b}") for j in range(2)],
                "id long, text string",
            ),
        )
    pdir = os.path.join(path, "postings")

    def max_files():
        return max(
            sum(1 for f in os.listdir(e.path) if f.endswith(".parquet"))
            for e in os.scandir(pdir)
            if e.name.startswith("bucket=")
        )

    assert max_files() > 1  # fragmented by the appends
    before = [(r["id"], r["score"]) for r in
              bm25_topk_plan(spark, path, ["common"], k=20).collect()]
    stats = compact_partitions(spark, pdir, partition_col="bucket")
    assert stats["compacted_lists"] >= 1
    assert max_files() == 1
    after = [(r["id"], r["score"]) for r in
             bm25_topk_plan(spark, path, ["common"], k=20).collect()]
    assert after == before


def test_append_rejects_existing_ids(spark, tmp_path):
    """The ids-must-be-NEW contract is ENFORCED (VERDICT r8 what's-wrong
    #2): a double-append and a partial-overlap append both raise BEFORE
    staging, leaving the layout byte-identical; a genuinely-new batch
    still appends, including ids INTERLEAVED below existing ones (the
    case an id watermark would wrongly reject)."""
    from hybrid_vector_search_spark.errors import ValidationError
    from hybrid_vector_search_spark.operators.bm25 import (
        append_postings_batch,
    )

    base = spark.createDataFrame(
        [(0, "spark joins tables"), (5, "vector search wins")],
        "id long, text string",
    )
    path = str(tmp_path / "guard")
    build_postings_layout(base, path, n_buckets=4)
    batch = spark.createDataFrame(
        [(10, "fresh spark doc")], "id long, text string"
    )
    meta1 = append_postings_batch(spark, path, batch)

    def layout_state():
        out = {}
        for sub in ("postings", "docids", "termstats"):
            root = os.path.join(path, sub)
            for d, _, fs in os.walk(root):
                for f in fs:
                    p = os.path.join(d, f)
                    out[os.path.relpath(p, path)] = os.path.getsize(p)
        return out

    before = layout_state()
    # exact double-append: the inflation misuse, caught
    with pytest.raises(ValidationError, match="already in the layout"):
        append_postings_batch(spark, path, batch)
    # partial overlap (one old id hiding in a new batch): also caught
    with pytest.raises(ValidationError, match="already in the layout"):
        append_postings_batch(
            spark,
            path,
            spark.createDataFrame(
                [(99, "brand new"), (5, "sneaky rewrite")],
                "id long, text string",
            ),
        )
    assert layout_state() == before  # nothing staged or committed
    # tf/df/N not inflated: stats match a from-scratch rebuild
    full = str(tmp_path / "full")
    build_postings_layout(base.unionByName(batch), full, n_buckets=4)
    got = [(r["id"], r["score"]) for r in
           bm25_topk_plan(spark, path, ["spark"], k=10).collect()]
    want = [(r["id"], r["score"]) for r in
            bm25_topk_plan(spark, full, ["spark"], k=10).collect()]
    assert got == want

    # interleaved NEW id (2 < 5): legitimate, accepted
    meta2 = append_postings_batch(
        spark,
        path,
        spark.createDataFrame([(2, "interleaved doc")], "id long, text string"),
    )
    assert meta2["n"] == meta1["n"] + 1


def test_append_rejects_intra_batch_duplicate_ids(spark, tmp_path):
    """Advisor r9: the ids-must-be-NEW contract also covers the batch
    itself — a doc appearing twice in ONE batch inflates tf/df/N
    exactly like a re-append, and the registry join can't see it."""
    from hybrid_vector_search_spark.errors import ValidationError
    from hybrid_vector_search_spark.operators.bm25 import (
        append_postings_batch,
    )

    base = spark.createDataFrame(
        [(0, "spark joins tables")], "id long, text string"
    )
    path = str(tmp_path / "dup")
    build_postings_layout(base, path, n_buckets=4)
    dup_batch = spark.createDataFrame(
        [(7, "vector search"), (7, "vector search again")],
        "id long, text string",
    )
    with pytest.raises(ValidationError, match="duplicate ids"):
        append_postings_batch(spark, path, dup_batch)
    # the rejected batch left no trace: a clean append still works
    ok = spark.createDataFrame(
        [(7, "vector search")], "id long, text string"
    )
    append_postings_batch(spark, path, ok)
