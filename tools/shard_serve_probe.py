"""Measure the SHARDED serving tier past the single-shard RAM gate.

The r13 verdict's task 2: the q=1 point-query serving path used to
dead-end at ``MAX_SERVE_BYTES`` — the gate raised "shard the tier" as
an error message, not a feature. This probe builds a synthetic corpus
whose resident footprint EXCEEDS that gate (N≈1.6M × D=384 float64 ≈
4.9 GiB > 4 GiB), verifies the monolithic tier refuses it, builds the
sharded tier (byte-derived shard count), and measures q=1 latency
against the FAISS-rate proxy.

FAISS-rate proxy: faiss is not installable in this sandbox, and
BASELINE.md has no number at this shape. The reference's exact path is
IndexFlatIP = one BLAS GEMV over the resident matrix + a partial sort
(src/dataio/loaders.py) — so the proxy is exactly that, built here as
one monolithic float64 matrix (concatenating the shards, upcast — no
second collect) queried with one numpy GEMV, which is also the float64
truth the tier's answers (a float32 scan, rescored in float64) must
equal. The verdict
gate is sharded ≤ 2× proxy; the expected result is ~1× since the
sharded scan reads the same total bytes in S blocks.

Usage: python tools/shard_serve_probe.py [N] [D]   (default 1_600_000 384)
Prints one JSON line; paste the figures into SCALING.md.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from hybrid_vector_search_spark.errors import ValidationError  # noqa: E402
from hybrid_vector_search_spark.scratch import scratch_root  # noqa: E402
from hybrid_vector_search_spark.serving import (  # noqa: E402
    MAX_SERVE_BYTES,
    LocalCorpusServe,
    serve_or_plan,
)
from hybrid_vector_search_spark.session import get_spark  # noqa: E402

N = int(sys.argv[1]) if len(sys.argv) > 1 else 1_600_000
D = int(sys.argv[2]) if len(sys.argv) > 2 else 384
QUERIES = 20


def _build_corpus(spark, n: int, d: int) -> str:
    """Synthetic unit-norm corpus written to scratch parquet (collects
    scan parquet, like a real serve build). Generated executor-side per
    partition (seeded by partition id) — nothing N-sized on the driver."""
    import pandas as pd
    from pyspark.sql import functions as F

    import os

    # content-addressed by (n, d) and untracked: reuse across probe runs
    path = os.path.join(scratch_root(), f"hvs_shard_probe_{n}x{d}.parquet")
    if os.path.isdir(path) and os.listdir(path):
        return path

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.default_rng(17 + int(ids[0]))
            m = rng.standard_normal((len(ids), d)).astype(np.float32)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "embedding": list(m),
                    "label": (ids % 7).astype("int32"),
                }
            )

    (
        spark.range(n)
        .repartition(64)
        .mapInPandas(gen, "id long, embedding array<float>, label int")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def _bench(fn, queries, k=10):
    # min-of-3 per query, matching the parity harness rule
    best = []
    for q in queries:
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(q, k)
            times.append(time.perf_counter() - t0)
        best.append(min(times))
    return float(np.mean(best)), float(np.median(best))


def main() -> None:
    spark = get_spark()
    path = _build_corpus(spark, N, D)
    corpus = spark.read.parquet(path)

    refused = False
    try:
        LocalCorpusServe.from_corpus(corpus)
    except ValidationError:
        refused = True
    assert refused, "probe corpus must exceed the single-shard gate"

    # r15: the COSTED DISPATCH must route this footprint to the sharded
    # tier on its own — the probe now exercises serve_or_plan end to
    # end rather than constructing the tier by hand
    t0 = time.perf_counter()
    cs = serve_or_plan(corpus)
    build_sec = time.perf_counter() - t0
    assert cs.route == "sharded", cs.route
    sharded = cs.tier

    # FAISS-rate proxy: the reference's residency model — ONE matrix,
    # one GEMV. Built from the shards (no second collect), upcast so it
    # is also the float64 truth.
    ids = np.concatenate([s.ids for s in sharded.shards])
    mat = np.ascontiguousarray(
        np.vstack([s.mat for s in sharded.shards]), dtype=np.float64
    )

    def mono_topk(q, k):
        scores = mat @ q
        order = np.lexsort((ids, -scores))[:k]
        return [(int(ids[i]), float(scores[i])) for i in order]

    queries = [
        _unit(np.random.default_rng(1000 + seed).standard_normal(D))
        for seed in range(QUERIES)
    ]
    # answers must agree before timing means anything
    for q in queries[:3]:
        a = sharded.exact_topk(q, 10)
        b = mono_topk(q, 10)
        assert [i for i, _ in a] == [i for i, _ in b], (a, b)
        gap = np.subtract([s for _, s in a], [s for _, s in b])
        assert np.abs(gap).max() <= 1e-12, (a, b)

    mono_mean, mono_med = _bench(mono_topk, queries)
    shard_mean, shard_med = _bench(sharded.exact_topk, queries)

    out = {
        "n": N,
        "d": D,
        "resident_gib": round(N * D * 8 / 2**30, 2),
        "gate_gib": round(MAX_SERVE_BYTES / 2**30, 2),
        "n_shards": sharded.n_shards,
        "build_sec": round(build_sec, 1),
        "mono_q1_ms": round(mono_med * 1000, 1),
        "sharded_q1_ms": round(shard_med * 1000, 1),
        "ratio_sharded_vs_mono": round(shard_med / mono_med, 3),
        "queries": QUERIES,
        "dispatch_route": cs.search(queries[0], None, 10)[1]["notes"],
    }
    print(json.dumps(out))


def _unit(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v)


if __name__ == "__main__":
    main()
