"""Measure the resident tier's pruned exact and pre_filter searches.

On the perfbench ``hybrid_point`` corpus (50,000×384 float32 rows blended
toward 223 planted centers, metadata tiled from the sf0.1 testdata) and
on isotropic unit rows of the same shape, this probe reports:

* ``build_s``: the partition build (``serving._partition``), each run;
* per canonical template, for exact and pre_filter searches of the 10
  canonical templates on 30 perfbench query vectors: the median and
  largest fraction of rows the searches score (rows handed to
  ``topk.screened_topk``; a full-matrix scan counts every row), and how
  many searches ``topk.pruned_topk`` declined (they scan as before);
* ``overhead``: on the isotropic rows, where no cluster can be ruled out,
  the median time of the failed pruning attempt against the median full
  scan it precedes (unfiltered, and with a 50% row mask).

No Spark session: the tier is built from the generated arrays directly.

Usage: python tools/prune_probe.py [SF_DIR]
(default: ``$SPARK_GRAFT_SF_DIR``, else the engine's test-data location)
Prints one JSON line per corpus.
"""

from __future__ import annotations

import importlib
import json
import sys
import time
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import types as T  # noqa: E402

from hybrid_vector_search_spark import serving  # noqa: E402
from hybrid_vector_search_spark.plans.canonical import (  # noqa: E402
    CANONICAL_QUERIES,
)
from hybrid_vector_search_spark.sources.loaders import (  # noqa: E402
    DEFAULT_SF_DIR,
)
from perfbench import gen  # noqa: E402

topk = importlib.import_module("hybrid_vector_search_spark.operators.topk")

SCHEMA = T.StructType(
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
N, D, LISTS, QUERIES = 50_000, gen.DIM, 223, 30


def _median_ms(fn, args, reps=5):
    times = []
    for _ in range(reps):
        for a in args:
            t0 = time.perf_counter()
            fn(a)
            times.append(time.perf_counter() - t0)
    return 1000 * float(np.median(times))


def probe(name, mat, meta, queries):
    builds = []
    for _ in range(3):
        t0 = time.perf_counter()
        serving._partition(mat)
        builds.append(round(time.perf_counter() - t0, 3))
    tier = serving.LocalCorpusServe(
        meta["id"].to_numpy(), mat, meta, SCHEMA
    )
    scored: list[int] = []
    declined: list[bool] = []
    real, real_pruned = topk.screened_topk, serving.pruned_topk

    def spy(ids, m, *args):
        scored.append(len(m))
        return real(ids, m, *args)

    def pruned_spy(*args):
        got = real_pruned(*args)
        declined.append(got is None)
        return got

    topk.screened_topk = serving.screened_topk = spy
    serving.pruned_topk = pruned_spy
    per_template = {}
    try:
        for cq in CANONICAL_QUERIES:
            for method in ("exact", "pre_filter"):
                if method == "exact" and cq.filters:
                    continue
                fracs = []
                declined.clear()
                for q in queries:
                    scored.clear()
                    if method == "exact":
                        tier.exact_topk(q, cq.k)
                    else:
                        tier.prefilter_topk(q, cq.filters, cq.k)
                    fracs.append(sum(scored) / N)
                per_template[f"q{cq.qid}_{method}"] = {
                    "median": round(float(np.median(fracs)), 4),
                    "max": round(float(np.max(fracs)), 4),
                    "declined": sum(declined),
                }
    finally:
        topk.screened_topk = serving.screened_topk = real
        serving.pruned_topk = real_pruned
    out = {"corpus": name, "build_s": builds, "scored_frac": per_template}
    if name == "isotropic":
        mask = np.random.default_rng(1).random(N) < 0.5
        cb, nm = tier.clusters, tier.norm_max
        cap = int(tier.PREFILTER_GATHER_FRAC * N)
        rows = np.flatnonzero(mask)
        for label, allowed, sel in (
            ("unfiltered", None, None),
            ("mask50", mask, rows),
        ):
            counts = cb.count(allowed)
            scan = _median_ms(
                lambda q: real(tier.ids, mat, q, 10, nm, sel), queries
            )
            attempt = _median_ms(
                lambda q: topk.pruned_topk(
                    tier.ids, mat, q, 10, nm, cb, allowed, counts, cap
                ),
                queries,
            )
            out[f"overhead_{label}"] = {
                "scan_ms": round(scan, 3),
                "attempt_ms": round(attempt, 3),
                "ratio": round(attempt / scan, 3),
            }
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    meta = gen.tiled_metadata(sf_dir, N)
    planted, _ = gen.embeddings(0, N, LISTS)
    cents = gen.centroids(0, LISTS)
    queries = [gen.query_vector(1, i, cents)[0] for i in range(QUERIES)]
    print(json.dumps(probe("planted", planted, meta, queries)))
    rng = np.random.default_rng(0)
    iso = rng.standard_normal((N, D)).astype(np.float32)
    iso /= np.linalg.norm(iso, axis=1, keepdims=True)
    print(json.dumps(probe("isotropic", iso, meta, queries)))


if __name__ == "__main__":
    main()
