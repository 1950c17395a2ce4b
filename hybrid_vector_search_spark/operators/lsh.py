"""Sign-random-projection LSH for cosine ANN — the bucketed scale path
alternative to the IVF index (operators/ivf.py).

The reference's only ANN structures are FAISS IVF/HNSW
(src/dataio/loaders.py:106-163); an LSH family is the other standard
filtered-ANN building block a Spark engine wants, because candidate
generation becomes *relational*: bucket assignment is a map-side column,
probing is a partition-prunable ``IN`` filter, and near-dup candidate
pairs are a bucket equi-join (operators/dedup.py uses the same idea with
MinHash bands for Jaccard).

Scheme: ``NBITS`` fixed hyperplanes (deterministic seeds shared with the
DuckDB oracle); ``bucket(v) = Σ_i [v·h_i > 0] · 2^i``. Unit-norm vectors
with equal sign patterns are cosine-close with high probability.
Querying probes the query's bucket plus all buckets within Hamming
distance ``probe_hamming`` (multi-probe LSH: recall without more tables).

At 100 TB: materialize ``bucket`` at ingest and ``partitionBy("bucket")``
(or bucketBy) so a probe reads only probed partitions — identical I/O
shape to the IVF lists, but index "build" is a stateless map (no KMeans
training job) and buckets are stable under appends. NBITS sizes buckets:
N/2^NBITS rows per bucket on average; pick NBITS ≈ log2(N / target).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hybrid_vector_search_spark.functions.vector import dot_score_pandas_udf
from hybrid_vector_search_spark.operators.topk import topk
from hybrid_vector_search_spark.queryvecs import query_vector, sql_array_literal

# Hyperplane seeds are offset so they never collide with query seeds.
_HYPERPLANE_SEED_BASE = 1009
DEFAULT_NBITS = 4


def hyperplanes(nbits: int = DEFAULT_NBITS, dim: int = 64) -> np.ndarray:
    """(nbits, dim) float64 unit hyperplanes, deterministic."""
    return np.vstack(
        [query_vector(_HYPERPLANE_SEED_BASE + i, dim) for i in range(nbits)]
    )


def bucket_udf(planes: np.ndarray):
    """Pandas UDF: embedding → LSH bucket id. One ``batch @ H.T`` GEMM per
    Arrow batch, sign bits packed into an int."""
    H = planes.astype(np.float64)
    weights = (1 << np.arange(H.shape[0])).astype(np.int64)

    @F.pandas_udf(T.LongType())
    def _bucket(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for batch in it:
            if len(batch) == 0:
                yield pd.Series([], dtype="int64")
                continue
            mat = np.vstack(batch.to_numpy()).astype(np.float64, copy=False)
            bits = (mat @ H.T) > 0.0
            yield pd.Series(bits @ weights)

    return _bucket


def bucket_of(vec: Sequence[float], planes: np.ndarray) -> int:
    """Driver-side bucket id of a single vector."""
    v = np.asarray(vec, dtype=np.float64).reshape(-1)
    bits = (planes @ v) > 0.0
    return int(bits @ (1 << np.arange(len(planes))))

def probe_set(vec: Sequence[float], planes: np.ndarray, probe_hamming: int = 1) -> list[int]:
    """Multi-probe bucket ids: the query's bucket plus every bucket within
    the given Hamming distance (flip up to that many sign bits)."""
    base = bucket_of(vec, planes)
    nbits = len(planes)
    out = {base}
    for d in range(1, probe_hamming + 1):
        for idxs in combinations(range(nbits), d):
            m = 0
            for i in idxs:
                m |= 1 << i
            out.add(base ^ m)
    return sorted(out)


def lsh_topk_plan(
    corpus: DataFrame,
    qvec: Sequence[float],
    k: int,
    nbits: int = DEFAULT_NBITS,
    probe_hamming: int = 1,
    id_col: str = "id",
) -> tuple[DataFrame, list[int]]:
    """ANN top-K via LSH bucket pruning: assign buckets (map-side),
    keep rows in the probed buckets, exact float64 rescoring within,
    ``TakeOrderedAndProject`` for the final K. Returns (plan, probed)."""
    planes = hyperplanes(nbits, dim=len(np.asarray(qvec).reshape(-1)))
    probes = probe_set(qvec, planes, probe_hamming)
    bucketed = corpus.withColumn("bucket", bucket_udf(planes)(F.col("embedding")))
    scored = (
        bucketed.filter(F.col("bucket").isin(probes))
        .select(
            F.col(id_col),
            dot_score_pandas_udf(qvec)(F.col("embedding")).alias("score"),
        )
    )
    return topk(scored, k, id_col=id_col), probes


def bucket_sql_expr(planes: np.ndarray, emb: str = "embedding") -> str:
    """DuckDB mirror of :func:`bucket_udf` — CASE sign bits over
    ``list_dot_product`` with the literal hyperplanes."""
    terms = " + ".join(
        f"(CASE WHEN list_dot_product({emb}::DOUBLE[], "
        f"{sql_array_literal(planes[i])}) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(len(planes))
    )
    return f"({terms})"


from hybrid_vector_search_spark.operators.strategies import (  # noqa: E402
    LadderBackend,
)


class LSHPostFilterBackend(LadderBackend):
    """P3-shaped strategy on LSH buckets: rows in the probed buckets are
    scored, post-filtered, and the probe radius escalates (Hamming
    0 → 1 → 2) until ≥K survivors — the LSH analogue of the reference's
    K′ ladder (src/baselines/post_filter.py:66-87), with probe radius
    instead of candidate count as the widening knob. The ladder, its
    costed entry and the stats are :class:`LadderBackend`'s: the probe
    set at radius r covers ``Σ_{i≤r} C(nbits, i)`` of the ``2^nbits``
    buckets, which is the entry rule's coverage map.

    Emits the §2.10 stats contract: ``lists_probed`` = probed buckets at
    stop, ``nprobe`` = final probe-set size, ``scored_vectors`` = rows
    scored in the probed buckets at the stopping radius.
    """

    name = "post_filter_lsh"

    def __init__(
        self,
        corpus: DataFrame,
        n: int | None = None,
        id_col: str = "id",
        nbits: int = DEFAULT_NBITS,
        radius_ladder: Sequence[int] = (0, 1, 2),
        costed: bool = False,
        selectivity_hint: int | None = None,
    ):
        super().__init__(corpus, n, id_col, costed, selectivity_hint)
        self.nbits = nbits
        self.radius_ladder = tuple(radius_ladder)
        self._planes: np.ndarray | None = None

    @property
    def ladder(self) -> tuple[int, ...]:
        return self.radius_ladder

    def _universe(self) -> int:
        return 1 << self.nbits

    def _coverage(self, radius: int) -> int:
        """Buckets the multi-probe set at this radius covers."""
        from math import comb

        return sum(comb(self.nbits, i) for i in range(radius + 1))

    def _stop_note(self, radius: int) -> str:
        return f"radius_stop={radius},nbits={self.nbits}"

    @property
    def planes(self) -> np.ndarray:
        if self._planes is None:
            dim = len(self.corpus.select("embedding").first()["embedding"])
            self._planes = hyperplanes(self.nbits, dim)
        return self._planes

    def _probe(self, qvec, pred, radius: int):
        """One rung's plans: the corpus rows in the buckets probed at this
        radius, the ones among them passing ``pred`` as ``(id, score)``,
        and the probed bucket ids."""
        probes = probe_set(qvec, self.planes, radius)
        in_probed = self.corpus.withColumn(
            "bucket", bucket_udf(self.planes)(F.col("embedding"))
        ).filter(F.col("bucket").isin(probes))
        # LSH candidates ARE corpus rows (the probed-bucket scan keeps all
        # metadata columns), so post-filtering needs NO join at all: apply
        # the predicate to the same pruned scan. {x : bucket∈probes ∧ pred}
        # is exactly candidates ∩ allowed, with zero shuffle and the filter
        # pushed into the scan — unlike a semi-join against the unbounded
        # allowed set, this survives selectivity → 1 at 100× scale.
        kept = in_probed.filter(pred).select(
            F.col(self.id_col),
            dot_score_pandas_udf(qvec)(F.col("embedding")).alias("score"),
        )
        return in_probed, kept, probes

    def plan(self, qvec, filters, k, probe_hamming: int | None = None):
        """One ladder rung as a composable plan (same shape search() runs)."""
        from hybrid_vector_search_spark.functions.predicates import (
            compile_filters,
        )

        radius = (
            probe_hamming if probe_hamming is not None else self.radius_ladder[-1]
        )
        pred = compile_filters(self.corpus.schema, filters)
        _, kept, probes = self._probe(qvec, pred, radius)
        return topk(kept, k, id_col=self.id_col), probes

    def _served(self):
        # each radius pushes the filter into its own bucket scan: no
        # candidate membership to take from the serve tier
        return None

    def _prepare(self, q, passing, resident):
        return None  # each radius scans its own buckets: no shared ranking

    def _rung(self, radius, q, pred, k, prepared):
        from concurrent.futures import ThreadPoolExecutor

        in_probed, kept, probes = self._probe(q, pred, radius)
        # the rung's candidate count (``scored_vectors`` at the stopping
        # radius) is independent of its survivor probe: both jobs run
        # concurrently
        with ThreadPoolExecutor(1) as pool:
            counted = pool.submit(in_probed.count)
            rows = topk(kept, k, id_col=self.id_col).collect()
            scored_vectors = counted.result()
        return [r[self.id_col] for r in rows], [r["score"] for r in rows], {
            "scored_vectors": scored_vectors,
            "lists_probed": len(probes),
            "nprobe": len(probes),
        }


def build_bucketed_layout(
    corpus: DataFrame,
    persist_path: str,
    nbits: int = DEFAULT_NBITS,
) -> tuple[DataFrame, np.ndarray]:
    """Materialize the ``partitionBy("bucket")`` parquet layout the module
    docstring promises for 100 TB: bucket assignment is a stateless
    map-side column (no training job — the build advantage over IVF's
    KMeans), and probing the persisted layout is native partition
    pruning, identical I/O shape to the IVF lists. Pre-write
    ``repartition(2^nbits, "bucket")`` puts each bucket wholly inside
    one task so the write emits ONE file per bucket directory (the r7
    IVF lesson: per-task slivers across partition dirs are pure
    file-open cost — operators/ivf.py _materialize). Returns the
    read-back DataFrame and the hyperplanes."""
    first = corpus.select("embedding").first()
    planes = hyperplanes(nbits, dim=len(first["embedding"]))
    assigned = corpus.withColumn(
        "bucket", bucket_udf(planes)(F.col("embedding"))
    )
    assigned.repartition(1 << nbits, "bucket").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(persist_path)
    return corpus.sparkSession.read.parquet(persist_path), planes


def lsh_topk_plan_persisted(
    layout: DataFrame,
    planes: np.ndarray,
    qvec: Sequence[float],
    k: int,
    probe_hamming: int = 1,
    id_col: str = "id",
) -> tuple[DataFrame, list[int]]:
    """Top-K over the persisted bucket layout: ``bucket IN (probes)`` is
    a PartitionFilter (only probed bucket directories are read), scoring
    is the single-query JVM kernel — no Python anywhere in the plan."""
    from hybrid_vector_search_spark.functions.vector import dot_score_column

    probes = probe_set(qvec, planes, probe_hamming)
    scored = layout.filter(F.col("bucket").isin(probes)).select(
        F.col(id_col), dot_score_column(qvec).alias("score")
    )
    return topk(scored, k, id_col=id_col), probes
