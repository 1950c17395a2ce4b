"""Dedup + text-analysis operator tests on a controlled fixture:
one exact-duplicate pair, one near-duplicate pair, distinct filler."""

import pytest
from pyspark.sql import functions as F

from hybrid_vector_search_spark.functions import text as TX
from hybrid_vector_search_spark.operators import dedup as DD

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tomorrow"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, "  The  QUICK brown fox jumps over the lazy dog again and again today "),  # exact dup of 0 after normalization
        (2, NEAR),  # near dup of 0/1
        (3, "completely different content about spark engines and parquet files"),
        (4, "el perro y el gato y la casa que un dia"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    groups = {r.fingerprint: r for r in DD.exact_dedup_groups(docs).collect()}
    dup = [g for g in groups.values() if g.n_docs > 1]
    assert len(dup) == 1
    assert dup[0].n_docs == 2 and dup[0].keeper_id == 0


def test_ngram_jaccard_pairs(docs):
    # max_df_frac=None: exact full-universe Jaccard — 3 of the 5 fixture
    # docs share most shingles, so the default 0.5 df cap would (by
    # design) drop them; the cap path is covered by the skew test below.
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(docs, 0.5, max_df_frac=None).collect()
    }
    assert pairs[(0, 1)] == pytest.approx(1.0)  # exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5  # near dup
    assert all(a < b for a, b in pairs)


def test_ngram_jaccard_df_cap_bounds_skew(spark):
    """One stop-shingle shared by ALL docs: without the cap every doc
    pair is a join candidate (quadratic); with the cap only genuinely
    similar pairs survive — and docs related only through the stop
    shingle never even reach the pair stage."""
    n_docs = 30
    rows = []
    for i in range(n_docs):
        # shared prefix trigram "aa bb cc" (df = 100%) + unique tail
        rows.append((i, f"aa bb cc u{i}x u{i}y u{i}z u{i}w"))
    # planted near-dup pair: doc 30/31 share their whole tail
    rows.append((30, "aa bb cc same same tail tokens here"))
    rows.append((31, "aa bb cc same same tail tokens here extra"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(docs, 0.3, max_df_frac=0.5).collect()
    }
    assert (30, 31) in capped  # planted pair survives the cap
    # every other doc pair relates ONLY via the stop shingle → no pair row
    assert set(capped) == {(30, 31)}

    # uncapped at a permissive threshold: the stop shingle alone makes
    # every pair a candidate — the quadratic blow-up the cap removes
    uncapped = DD.ngram_jaccard_pairs(docs, 1e-9, max_df_frac=None).count()
    assert uncapped == (n_docs + 2) * (n_docs + 1) // 2


def test_minhash_lsh_finds_dups(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in DD.minhash_lsh_pairs(docs, 0.5).collect()
    }
    # exact dup must collide in every band; near dup highly likely
    assert pairs[(0, 1)] == pytest.approx(1.0)
    assert (0, 2) in pairs


def test_minhash_signature_properties(docs):
    sigs = {r.doc_id: r.sig for r in DD.minhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]  # identical shingle sets → identical signature
    assert len(sigs[0]) == DD.NUM_HASHES
    assert sigs[0] != sigs[3]


def test_simhash(docs):
    sh = {r.doc_id: r.simhash for r in DD.simhash(docs).collect()}
    assert sh[0] == sh[1]  # normalized-identical docs
    assert 0 <= sh[0] < (1 << DD.SIMHASH_BITS)
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[3]).count("1")
    assert ham_near < ham_far  # near-dup closer in Hamming space


def test_rolling_hash_deterministic(docs, spark):
    h1 = {r.doc_id: r.h for r in docs.select("doc_id", DD.rolling_hash("text").alias("h")).collect()}
    assert h1[0] == h1[1]  # normalization collapses case/whitespace
    assert h1[0] != h1[2]
    assert all(0 <= v < DD.ROLLING_P for v in h1.values())


def test_embedding_near_dup_pairs(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.999, 0.04, 0.0]),  # near dup of 0
            (2, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = DD.embedding_near_dup_pairs(emb, 0.95).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(0, 1)]
    assert pairs[0].cosine > 0.99


def test_embedding_near_dup_gate_is_byte_based(spark):
    """The broadcast gate reads N x D x 8 bytes, not a row count: the
    same 40 rows pass at a roomy budget but dispatch to the IVF path
    once D makes the matrix exceed it (the D=384 hazard — 2M rows is
    1 GiB at D=64 but 6 GiB at D=384)."""
    import numpy as np

    from hybrid_vector_search_spark.errors import ValidationError
    from hybrid_vector_search_spark.operators import dedup as DD

    rng = np.random.RandomState(5)
    vecs = rng.randn(40, 384)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs[21] = vecs[9]  # planted exact dup
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    mat_bytes = 40 * 384 * 8
    # under budget: exact GEMM path
    exact = {(r.id_a, r.id_b) for r in DD.embedding_near_dup(
        emb, 0.99, max_broadcast_bytes=mat_bytes).collect()}
    assert (9, 21) in exact
    # one byte under the matrix size: must dispatch to IVF, not broadcast
    with pytest.raises(ValidationError):
        DD.embedding_near_dup_pairs(
            emb, 0.99, max_broadcast_bytes=mat_bytes - 1
        ).collect()
    ivf = {(r.id_a, r.id_b) for r in DD.embedding_near_dup(
        emb, 0.99, max_broadcast_bytes=mat_bytes - 1).collect()}
    assert (9, 21) in ivf  # identical vectors share a KMeans cell


def test_embedding_near_dup_ivf_matches_exact_within_bucket(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    vecs = rng.randn(40, 8)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs[13] = vecs[7] * 0.9 + rng.randn(8) * 0.01  # planted near-dup
    vecs[13] /= np.linalg.norm(vecs[13])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {(r.id_a, r.id_b) for r in DD.embedding_near_dup_ivf(emb, 0.95, nlist=4).collect()}
    assert (7, 13) in got


# --------------------------------------------------------------- text fns
def test_lang_id(docs):
    langs = {
        r.doc_id: r.l
        for r in docs.select("doc_id", TX.lang_id("text").alias("l")).collect()
    }
    assert langs[0] == "en"
    assert langs[4] == "es"
    assert langs[3] in {"und", "en"}  # no markers → und unless hit


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 tokens-here")], "id long, text string")
    r = df.select(
        TX.ws_token_count("text").alias("ws"),
        TX.bpe_token_count("text").alias("bpe"),
    ).collect()[0]
    assert r.ws == 4
    # Hello , world ! 42 tokens - here → 8 BPE-ish tokens
    assert r.bpe == 8


def test_bigram_repetition(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b"),          # bigrams: a-b, b-a, a-b → 1 - 2/3
            (2, "one two three"),    # all distinct → 0.0
            (3, "spam spam spam spam"),  # all identical → 1 - 1/3
            (4, "single"),           # < 2 tokens → NULL
            (5, ""),                 # empty → NULL
            (6, None),               # null text → NULL
            (7, "\n\ta   b\n"),      # messy whitespace == "a b" → 0.0
        ],
        "id long, text string",
    )
    got = {
        r.id: r.rep
        for r in df.select(
            "id", TX.bigram_repetition("text").alias("rep")
        ).collect()
    }
    assert abs(got[1] - (1 - 2 / 3)) < 1e-12
    assert got[2] == 0.0
    assert abs(got[3] - (1 - 1 / 3)) < 1e-12
    assert got[4] is None
    assert got[5] is None
    assert got[6] is None
    assert got[7] == 0.0


def test_simhash_hamming_pairs_pigeonhole(spark):
    """Perfect recall within the radius: a doc pair whose 60-bit
    fingerprints differ in ≤ 3 bits MUST be found (pigeonhole over 4
    bands); parameter misuse raises."""
    import pytest as _pytest

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),  # near-dup
        (3, "completely different text about other things entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sim = {r.doc_id: r.simhash for r in DD.simhash(df, bits=60).collect()}
    d12 = bin(sim[1] ^ sim[2]).count("1")
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in DD.simhash_hamming_pairs(df, max_hamming=3).collect()
    }
    if d12 <= 3:
        assert pairs[(1, 2)] == d12  # pigeonhole: MUST be found
    else:
        assert (1, 2) not in pairs
    with _pytest.raises(ValueError, match="pigeonhole"):
        DD.simhash_hamming_pairs(df, max_hamming=4, n_bands=4)
    with _pytest.raises(ValueError, match="divide"):
        DD.simhash_hamming_pairs(df, max_hamming=3, n_bands=7)


def test_pii_counts_and_redact(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-1.co and d@e.io, call 555-0134 now"),
            (2, "no pii here, 555-12345 is too long to be our pattern"),
            (3, None),
        ],
        "id long, text string",
    )
    ne, np_ = TX.pii_counts("text")
    got = {
        r.id: (r.ne, r.np, r.red)
        for r in df.select(
            "id",
            ne.alias("ne"),
            np_.alias("np"),
            TX.redact_pii("text").alias("red"),
        ).collect()
    }
    assert got[1] == (2, 1, "mail <EMAIL> and <EMAIL>, call <PHONE> now")
    # \b555-\d{4}\b must NOT match inside a longer digit run
    assert got[2][:2] == (0, 0) and "555-12345" in got[2][2]
    assert got[3] == (None, None, None)


def test_quality_score_range(docs):
    vals = [
        r.q for r in docs.select(TX.quality_score("text").alias("q")).collect()
    ]
    assert all(0.0 <= v <= 1.2 for v in vals)


def test_shingles():
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    df = spark.createDataFrame([("a b c d",)], "text string")
    got = df.select(TX.shingles("text", 3).alias("s")).collect()[0].s
    assert got == ["a b c", "b c d"]


def test_connected_components_transitive(spark):
    # chain 1-5, 5-3 plus pair 10-12 and isolated 7: components
    # {1,3,5}->1, {10,12}->10, {7}->7 — transitivity without a 1-3 edge
    edges = spark.createDataFrame(
        [(1, 5), (5, 3), (10, 12)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame(
        [(1,), (3,), (5,), (7,), (10,), (12,)], "doc_id long"
    )
    got = {
        r.doc_id: r.component_id
        for r in DD.connected_components(edges, nodes).collect()
    }
    assert got == {1: 1, 3: 1, 5: 1, 7: 7, 10: 10, 12: 10}


def test_dedup_components_groups_near_dups(docs):
    comp = {
        r.doc_id: r.component_id
        for r in DD.dedup_components(docs, threshold=0.2).collect()
    }
    # exact dups 0/1 and near dup 2 collapse to component 0; 3,4 are alone
    assert comp[0] == comp[1] == comp[2] == 0
    assert comp[3] == 3 and comp[4] == 4


def test_decontaminate_matches_python(spark):
    """Registry decontamination vs a direct Python recomputation of
    4-gram containment against the doc_id%11 pseudo-benchmark."""
    import re

    import pandas as pd

    from hybrid_vector_search_spark.plans.registry import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    out = QUERIES["docs_decontaminate"](spark, sf_dir).toPandas()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")

    def grams(s, n=4):
        toks = re.sub(r"\s+", " ", s.lower()).strip().split(" ")
        m = max(len(toks) - n, 0) + 1
        return set(" ".join(toks[i : i + n]) for i in range(m))

    bench = set()
    for t in docs[docs.doc_id % 11 == 0].text:
        bench |= grams(t)
    expected = {}
    for r in docs[docs.doc_id % 11 != 0].itertuples():
        g = grams(r.text)
        hits = len(g & bench)
        if hits:
            expected[r.doc_id] = (hits, round(hits / len(g), 6))
    got = {
        r.doc_id: (r.n_hits, round(r.containment, 6))
        for r in out.itertuples()
    }
    assert got == expected


def test_chunk_passages_tiling(spark):
    """Chunks tile each document: stride 24, window 32, last chunk short,
    every token covered, fingerprints match the chunk content."""
    import re

    import pandas as pd

    from hybrid_vector_search_spark.plans.registry import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    out = QUERIES["docs_chunk_passages"](spark, sf_dir).toPandas()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    toks = {
        r.doc_id: re.sub(r"\s+", " ", r.text.lower()).strip().split(" ")
        for r in docs.itertuples()
    }
    for doc_id, grp in out.groupby("doc_id"):
        t = toks[doc_id]
        n_expected = (len(t) - 1) // 24 + 1
        assert list(grp.chunk_idx) == list(range(n_expected))
        for r in grp.itertuples():
            assert r.n_tokens == len(t[r.chunk_idx * 24 : r.chunk_idx * 24 + 32])
    # full registry output covers every document
    assert set(out.doc_id) == set(docs.doc_id)


def test_bfs_hops_chain_min_distance_and_cap(spark):
    # chain 0-1-2-...-9 plus a shortcut 0-4: hop(4) must be 1 (min
    # distance via the shortcut, not 4 via the chain); max_hops=6 from
    # seed 0 reaches 4's chain neighbors early, so the frontier cap
    # cuts the far tail of the PURE chain only where no shortcut helps
    chain = [(i, i + 1) for i in range(9)] + [(0, 4)]
    edges = spark.createDataFrame(chain, "doc_a long, doc_b long")
    seeds = spark.createDataFrame([(0,)], "doc_id long")
    got = {
        r.doc_id: r.hop
        for r in DD.bfs_hops(edges, seeds, max_hops=3).collect()
    }
    # layers: 0:{0} 1:{1,4} 2:{2,3,5} 3:{6} — 3 also via 4 (1+2 < 3)
    assert got == {0: 0, 1: 1, 4: 1, 2: 2, 3: 2, 5: 2, 6: 3}


def test_bfs_hops_two_seeds_and_early_exit(spark):
    # two components: seed 100 floods its triangle in 1 round then the
    # frontier empties (early exit before max_hops); seed 0 sits in the
    # chain; min distance to ANY seed wins
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (100, 101), (101, 102), (100, 102)],
        "doc_a long, doc_b long",
    )
    seeds = spark.createDataFrame([(0,), (100,)], "doc_id long")
    got = {
        r.doc_id: r.hop
        for r in DD.bfs_hops(edges, seeds, max_hops=6).collect()
    }
    assert got == {0: 0, 100: 0, 1: 1, 101: 1, 102: 1, 2: 2}


def test_pagerank_micro_matches_float_replay(spark):
    # star 0-{1,2,3} plus chain 3-4-5: hub 0 must outrank leaves, and
    # the integer fixed-point ranks must order identically to (and sit
    # within floor-loss of) a float replay of the same 3 iterations
    edges_py = [(0, 1), (0, 2), (0, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(edges_py, "doc_a long, doc_b long")
    got = {
        r.doc_id: (r.pagerank_micro, r.deg)
        for r in DD.pagerank_micro(edges, iters=3).collect()
    }

    # float reference (same synchronous update, same teleport)
    import collections

    deg = collections.Counter()
    nbrs = collections.defaultdict(list)
    for a, b in edges_py:
        deg[a] += 1
        deg[b] += 1
        nbrs[a].append(b)
        nbrs[b].append(a)
    n = len(deg)
    r = {v: 1.0 / n for v in deg}
    for _ in range(3):
        r = {
            v: 0.15 / n + 0.85 * sum(r[u] / deg[u] for u in nbrs[v])
            for v in deg
        }

    assert set(got) == set(deg)
    for v in deg:
        assert got[v][1] == deg[v]
        # floor loss: <= 1 micro-unit per edge per iteration + init
        assert abs(got[v][0] - r[v] * DD.PAGERANK_SCALE) <= 3 * (deg[v] + 1)
    # identical ranking (hub 0 first, tail 5 last)
    float_order = sorted(r, key=lambda v: (-r[v], v))
    int_order = sorted(got, key=lambda v: (-got[v][0], v))
    assert int_order == float_order and int_order[0] == 0


def test_pagerank_micro_canonicalizes_duplicate_edges(spark):
    """Duplicate and reversed-duplicate pairs from an arbitrary caller
    must not inflate deg or per-edge rank contributions (r13 advice):
    the operator canonicalizes to a<b + distinct, like triangle_stats."""
    clean = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2)], "doc_a long, doc_b long"
    )
    noisy = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 2), (0, 2), (1, 2), (2, 1), (2, 1)],
        "doc_a long, doc_b long",
    )
    want = {
        r.doc_id: (r.pagerank_micro, r.deg)
        for r in DD.pagerank_micro(clean, iters=3).collect()
    }
    got = {
        r.doc_id: (r.pagerank_micro, r.deg)
        for r in DD.pagerank_micro(noisy, iters=3).collect()
    }
    assert got == want
    assert all(d == 2 for _, d in got.values())
    # total mass conserved up to floor loss
    total = sum(v[0] for v in got.values())
    assert DD.PAGERANK_SCALE * 0.98 <= total <= DD.PAGERANK_SCALE


def test_triangle_stats_hand_counted(spark):
    # K4 clique {0,1,2,3} (4 triangles, each node in 3, cc=1) glued by
    # edge 3-4 to path 4-5 (deg(4)=2, no triangle, cc=0); node 5 deg 1
    # -> excluded; duplicate + reversed edges must not double-count
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = k4 + [(3, 4), (4, 5), (5, 4), (1, 0)]  # reversed dupes
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.doc_id: (r.deg, r.n_triangles, r.clustering)
        for r in DD.triangle_stats(df).collect()
    }
    assert got == {
        0: (3, 3, 1.0),
        1: (3, 3, 1.0),
        2: (3, 3, 1.0),
        3: (4, 3, 0.5),
        4: (2, 0, 0.0),
    }


def test_compact_dedup_index_mechanics(spark, tmp_path):
    """compact_dedup_index (r13): one rewrite commit re-clusters every
    band slice at a whole-index modulus, rows are preserved exactly,
    the pre-compaction version still time-travels, and the exactly-once
    batch_id guard survives the rewrite."""
    import os

    from hybrid_vector_search_spark.operators import dedup as DD
    from hybrid_vector_search_spark.sources import manifest as M
    from pyspark.sql import functions as F

    root = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta eta theta") for i in range(40)],
        "doc_id long, text string",
    )
    for b in range(3):
        DD.dedup_ingest_commit_batch(
            spark, docs.filter(F.col("doc_id") % 3 == b), b,
            root, str(tmp_path / "surv"), 0.8,
        )
    v0 = M.current_version(root)
    before = sorted(
        (r["kind"], r["k"], r["doc_id"])
        for r in M.read_snapshot(spark, root).select(
            "kind", "k", "doc_id"
        ).collect()
    )
    v1 = DD.compact_dedup_index(spark, root)
    assert v1 == v0 + 1
    after = sorted(
        (r["kind"], r["k"], r["doc_id"])
        for r in M.read_snapshot(spark, root).select(
            "kind", "k", "doc_id"
        ).collect()
    )
    assert after == before  # rows preserved exactly
    # pre-compaction snapshot still readable (time travel across it)
    assert M.read_snapshot(spark, root, v0).count() == len(before)
    # replay guard carried: highest committed batch id rides the rewrite
    assert M.last_committed_meta(root, "batch_id", -1) == 2
    # the rewrite is ONE sidecar group, band files narrow, blooms on
    m = M._read_manifest(root, v1)
    live_groups = [g for g in m["groups"] if g["count"] > 0]
    assert len(live_groups) == 1
    rels, by_rel, _ = M._load_group(root, live_groups[0]["path"])
    band = [r for r in rels if DD._band_file_bucket(by_rel[r]) is not None]
    assert band and all(
        M.bloom_key("k") in by_rel[r] for r in band
    )


def test_compact_dedup_index_refuses_empty_root(tmp_path):
    """With no committed dedup index the compaction refuses with the
    engine's ValidationError before touching Spark (no session given)."""
    from hybrid_vector_search_spark.errors import ValidationError

    with pytest.raises(ValidationError, match="no committed dedup index"):
        DD.compact_dedup_index(None, str(tmp_path))


def test_clustered_pairs_subset_of_exact(spark):
    """The cell-bounded semantic pair set is a SUBSET of the exact
    GEMM pair set (recall is what the cell join trades; precision must
    be perfect — every emitted pair really clears the threshold)."""
    from hybrid_vector_search_spark.plans import registry as R

    sf = "/root/testdata/sf0.001"
    exact = {
        (r["id_a"], r["id_b"])
        for r in R.QUERIES["dedup_embedding_cosine_pairs"](spark, sf).collect()
    }
    clustered = {
        (r["id_a"], r["id_b"])
        for r in R.QUERIES["dedup_embedding_clustered_pairs"](
            spark, sf
        ).collect()
    }
    assert clustered <= exact
