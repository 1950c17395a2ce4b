"""Driver-local serving tier for the exact / pre_filter strategies (and
the filter membership of the post-filter ladder on a resident corpus).

Why it exists (BASELINE_PARITY.md): every per-query Spark plan is
bounded below by the job-launch floor (~60-100 ms on the parity host),
which the reference — an in-process NumPy/pandas engine holding the
whole corpus in RAM (artifacts/artifacts.py:165-194 loads the matrix +
metadata once at startup) — never pays. The IVF q=1 row was closed in
r13 by ``IVFIndex.serve_local_topk`` (read only the probed lists); the
exact and pre_filter strategies scan the WHOLE corpus by definition, so
their serving twin is the reference's own residency model: the
embedding matrix (in the embedding column's own element type, float32
for an ``ARRAY<FLOAT>`` corpus) + the filterable metadata columns live
in driver RAM, queries are a GEMV in that type (optionally over the
predicate-masked row subset) whose few candidates are rescored in
float64 (``topk.screened_topk``), plus a (score DESC, id ASC) merge.
The matrix is partitioned once at build (a seeded spherical k-means,
``ivf.default_nlist`` clusters, each with a float64 center and a
rounded-up radius), and a search first tries to read only the clusters
a score bound cannot rule out (``topk.pruned_topk``): on clustered
embeddings that is a few percent of the rows, and where it would read
more than a full scan costs (isotropic data, say) the search scans
every row as before. Both give the same answer.

This is a SERVING-TIER choice, not the engine's execution model: the
build is RAM-gated on an N×D×8 matrix estimate (the same gate as
operators.dedup.embedding_near_dup; it bounds the collect-and-convert
peak, above the float32 matrix kept) and refuses loudly beyond it —
at 100 TB the distributed plans remain the only exact path, and this
tier serves only a corpus (or replica shard) that fits one machine,
exactly the regime where the reference's numbers were measured. Filter
semantics are the engine's own DSL evaluated by
``predicates.filters_mask_pandas`` — one semantics across the Spark
plan, the DuckDB oracle, and this tier (parity pytest-pinned).
"""

from __future__ import annotations

import json
import time
from collections.abc import Mapping, Sequence
from typing import Any

import numpy as np

from hybrid_vector_search_spark.errors import ValidationError
from hybrid_vector_search_spark.functions.predicates import (
    filters_mask_pandas,
)
from hybrid_vector_search_spark.operators.topk import (
    BLOCK_ROWS,
    cluster_bounds,
    pruned_topk,
    screened_topk,
    topk_positions,
)
from hybrid_vector_search_spark.session import resident_artifact

#: matrix-footprint budget for ONE resident shard (N×D×8 bytes + the
#: measured metadata footprint) — the peak a single Arrow collect +
#: np.vstack conversion is allowed to materialize at once.
MAX_SERVE_BYTES = 4 << 30

#: total driver-RAM budget across ALL shards of a sharded tier. The
#: per-shard gate bounds conversion peaks; this bounds steady-state
#: residency — past it the distributed plans are the only exact path.
MAX_TOTAL_SERVE_BYTES = 24 << 30


def _resident_footprint(
    corpus, embedding_col: str
) -> tuple[int, int, int]:
    """:func:`_measure_footprint`, memoized per Spark cache entry
    (:func:`session.resident_artifact`) when ``corpus`` is cached: the
    footprint depends on the rows alone, not on any budget, so every
    dispatch over one cached corpus shares one aggregate. An uncached
    frame (a shard, a filtered view) is measured on every call."""
    got = resident_artifact(
        corpus,
        ("resident_footprint", embedding_col),
        lambda: _measure_footprint(corpus, embedding_col),
    )
    return got or _measure_footprint(corpus, embedding_col)


def _measure_footprint(
    corpus, embedding_col: str
) -> tuple[int, int, int]:
    """(n, d, estimated resident bytes) via ONE distributed aggregate —
    the gate runs BEFORE any driver materialization (the
    embedding_near_dup rule: check, then collect), and counts the WHOLE
    collected footprint: matrix at 8 bytes per element + ~8
    bytes/row/numeric col + measured string bytes ×2 (pandas
    object-string overhead is at least that). The matrix term is the
    float64 size even though the tier keeps the embedding column's own
    type (float32 for ``ARRAY<FLOAT>``): the Arrow objects and the
    ``np.vstack`` copy of the collect need about that much at once, and
    that peak is what the gate bounds. An empty
    corpus, or one whose embedding dimension is null/zero, is refused
    here with ``ValidationError``: every tier build and every dispatch
    measures through this gate."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.first(F.size(F.col(embedding_col))).alias("__d"),
    ]
    str_cols = [
        f.name
        for f in corpus.schema.fields
        if isinstance(f.dataType, T.StringType)
    ]
    for c in str_cols:
        aggs.append(
            F.coalesce(F.sum(F.length(c)), F.lit(0)).alias(f"__s_{c}")
        )
    row = corpus.agg(*aggs).first().asDict()
    n, d = int(row["__n"] or 0), int(row["__d"] or 0)
    if n == 0 or d == 0:
        # n=0 sails through the RAM gates (need=0) and then dies in
        # np.vstack with an opaque numpy error — refuse loudly in the
        # module's own vocabulary instead (r13 advice)
        raise ValidationError(
            "resident tier: nothing to serve — corpus is empty"
            if n == 0
            else "resident tier: embedding dimension is null/zero on"
            f" '{embedding_col}' — cannot build a resident matrix"
        )
    meta_bytes = 8 * n * max(len(corpus.columns) - 1, 0) + 2 * sum(
        int(row[f"__s_{c}"]) for c in str_cols
    )
    return n, d, n * d * 8 + meta_bytes


class LocalCorpusServe:
    """In-RAM corpus: ids (int64), the unit-norm embedding matrix in the
    embedding column's own element type (float32 for ``ARRAY<FLOAT>``,
    so the stored values are exact; float64 for ``ARRAY<DOUBLE>``), its
    largest row L2 norm ``norm_max`` (float64, computed once), the
    metadata frame, and the corpus schema the filter DSL validates
    against. Searches scan the matrix in its own type and rescore the
    rows the scan cannot rule out in float64 (:func:`screened_topk`),
    so scores and order are those of a float64 scan.

    ``clusters`` partitions the rows once (:func:`_partition`; member
    positions, not a reordered copy of the matrix), and
    :meth:`exact_topk` and :meth:`prefilter_topk` first try
    :func:`pruned_topk`: the clusters a score bound cannot rule out,
    gathered, unless that would take more rows than
    :attr:`PREFILTER_GATHER_FRAC` of the matrix — then they scan as
    before. The answer, and ``scored_vectors`` (|allowed|), are the
    same either way.

    The resident copy never changes, so predicate work that does not
    depend on the query vector is kept beside ``meta``: the lowercased
    form of each column a ``like`` has searched (filled lazily), the
    row positions, row mask and rows per cluster of the last filter set
    evaluated — a request that runs :meth:`prefilter_topk` (or
    :meth:`passing`) and then :meth:`count_allowed` evaluates its mask
    once — and, once a :meth:`passing` call needs it, an id→position
    index."""

    def __init__(self, ids, mat, meta, schema):
        self.ids = ids
        self.mat = mat
        self.norm_max = _max_row_norm(mat)
        self.clusters = _partition(mat)
        self.meta = meta
        self.schema = schema
        self._lowered: dict[str, Any] = {}
        self._last_allowed: (
            tuple[str, np.ndarray, np.ndarray, np.ndarray] | None
        ) = None
        self._by_id: tuple[np.ndarray, np.ndarray] | None = None

    @classmethod
    def from_corpus(
        cls,
        corpus,
        max_bytes: int = MAX_SERVE_BYTES,
        embedding_col: str = "embedding",
        id_col: str = "id",
        _footprint: tuple[int, int, int] | None = None,
    ) -> "LocalCorpusServe":
        """One Arrow collect of the wide corpus. The size gate runs as a
        distributed aggregate BEFORE any driver materialization (the
        embedding_near_dup rule: check, then collect) — and it counts
        the WHOLE collected footprint, not just the matrix: the
        metadata frame includes string columns (text) whose bytes can
        dwarf N×D×8, and a gate that ignores them OOM-kills the driver
        instead of raising (r13 review finding). ``_footprint`` lets
        :func:`serve_or_plan` pass its already-measured (n, d, bytes)
        through so the dispatch measures the corpus exactly ONCE."""
        n, d, need = (
            _footprint
            if _footprint is not None
            else _resident_footprint(corpus, embedding_col)
        )
        if need > max_bytes:
            raise ValidationError(
                f"LocalCorpusServe: resident corpus is {need/2**30:.1f}"
                f" GiB (matrix {n * d * 8 / 2**30:.1f} GiB + metadata;"
                f" > {max_bytes/2**30:.1f} GiB"
                " budget) — serve this corpus with the distributed"
                " plans or ShardedCorpusServe"
            )
        pdf = corpus.toPandas()
        mat = np.ascontiguousarray(
            np.vstack(pdf[embedding_col].to_numpy()),
            dtype=_matrix_dtype(corpus.schema[embedding_col].dataType),
        )
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        meta = pdf.drop(columns=[embedding_col])
        return cls(ids, mat, meta, corpus.schema)

    def _topk(self, ids, scores, k: int) -> list[tuple[int, float]]:
        # exact (score DESC, id ASC) — the engine-wide tiebreak
        return [
            (int(ids[i]), float(scores[i]))
            for i in topk_positions(ids, scores, k)
        ]

    def _screened(self, qvec, k: int, ids, mat, rows=None):
        """:func:`screened_topk` over ``mat`` (one row per id of
        ``ids``) as ``(id, score)`` pairs."""
        return self._topk(
            *screened_topk(ids, mat, qvec, k, self.norm_max, rows), k
        )

    def _pruned(self, qvec, k: int, allowed, counts):
        """:func:`pruned_topk` over the rows the mask ``allowed`` keeps
        (``counts`` of them per cluster; every row when None) as ``(id,
        score)`` pairs, or None when pruning would open more rows than
        :attr:`PREFILTER_GATHER_FRAC` of the matrix (or cannot apply)
        and the caller scans instead."""
        got = pruned_topk(
            self.ids,
            self.mat,
            qvec,
            k,
            self.norm_max,
            self.clusters,
            allowed,
            counts,
            int(self.PREFILTER_GATHER_FRAC * len(self.ids)),
        )
        return None if got is None else self._topk(*got, k)

    def exact_topk(
        self, qvec: Sequence[float], k: int
    ) -> list[tuple[int, float]]:
        got = self._pruned(qvec, k, None, self.clusters.count(None))
        return (
            got
            if got is not None
            else self._screened(qvec, k, self.ids, self.mat)
        )

    #: above this survivor fraction, fancy-indexing the embedding matrix
    #: costs more than the full GEMV re-reads — scan every row in place
    #: and rank only the survivors' scores instead; it also caps the
    #: rows a pruned search may gather. Measured with
    #: ``screened_topk`` on a 50,000×384 float32 matrix (4-vCPU host,
    #: median of 60 calls, 3 random survivor sets each): the gather
    #: costs 1.4 ms at 8% and 4.2 ms at 16% against a flat ~3.0 ms
    #: scan, crossing at ~12%.
    PREFILTER_GATHER_FRAC = 0.12

    def prefilter_topk(
        self,
        qvec: Sequence[float],
        filters: Mapping[str, Any] | None,
        k: int,
    ) -> list[tuple[int, float]]:
        """The pre_filter strategy in-process: predicate over the
        resident metadata (same DSL, pandas evaluator), then score the
        survivors — only those in the clusters the score bound keeps
        when that is few enough rows (:func:`pruned_topk`), else a
        submatrix GEMV when the filter is selective (cost ∝
        selectivity, the reference's headline property), an in-place
        full GEMV ranked over the survivors only when it is broad
        (gather cost would exceed the scan). All three go through
        :func:`screened_topk`, so the answer is the same either way.

        Filters naming the embedding column (legal in the DSL — ``like``
        stringifies arrays) are REFUSED loudly: the metadata frame does
        not hold the embedding column (it lives as the matrix),
        and a silent KeyError is worse than a documented divergence —
        route such filters through the distributed plan."""
        unheld = self.unheld(filters)
        if unheld:
            raise ValidationError(
                f"LocalCorpusServe: column '{unheld[0]}' is not resident"
                " in the serving metadata (embedding-column filters"
                " run on the distributed plan)"
            )
        idx, mask, counts = self._allowed(filters)
        if idx.size == 0:
            return []
        got = self._pruned(qvec, k, mask, counts)
        if got is not None:
            return got
        if idx.size > self.PREFILTER_GATHER_FRAC * len(self.ids):
            return self._screened(qvec, k, self.ids, self.mat, rows=idx)
        return self._screened(qvec, k, self.ids[idx], self.mat[idx])

    def unheld(self, filters: Mapping[str, Any] | None) -> list[str]:
        """The columns ``filters`` names that the resident metadata does
        not hold (the embedding column lives as the matrix, not in it)."""
        return [
            col
            for col in filters or {}
            if col not in {"lat_between", "lon_between"}
            and col not in self.meta.columns
        ]

    def count_allowed(self, filters: Mapping[str, Any] | None) -> int:
        """|rows passing the filters| over the resident metadata — the
        §2.10 ``scored_vectors`` number for the pre_filter serving
        path (after :meth:`prefilter_topk` with the same filters, no
        second mask pass)."""
        if not filters:
            return len(self.ids)
        return int(self._allowed(filters)[0].size)

    def passing(
        self, filters: Mapping[str, Any] | None, ids: np.ndarray
    ) -> np.ndarray:
        """Which of ``ids`` pass ``filters``, as a bool array (an id the
        tier does not hold passes none): each id's row position, from
        the sorted-id index built on first use, read in the mask of
        :meth:`_allowed`'s positions. The post-filter ladder's candidate
        membership, with no Spark job."""
        if self._by_id is None:
            order = np.argsort(self.ids, kind="stable")
            self._by_id = (self.ids[order], order)
        sorted_ids, order = self._by_id
        ids = np.asarray(ids, dtype=np.int64)
        at = np.minimum(np.searchsorted(sorted_ids, ids), len(sorted_ids) - 1)
        held = sorted_ids[at] == ids
        if not filters:
            return held
        return held & self._allowed(filters)[1][order[at]]

    def _allowed(
        self, filters: Mapping[str, Any]
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """``(row positions, bool row mask, rows per cluster)`` of the
        rows passing ``filters``; the last filter set's answer is kept
        (keyed by its canonical JSON)."""
        key = json.dumps(filters, sort_keys=True, default=str)
        last = self._last_allowed
        if last is not None and last[0] == key:
            return last[1:]
        mask = filters_mask_pandas(
            self.schema, filters, self.meta, lowered=self._lowered
        )
        idx = np.flatnonzero(mask)
        self._last_allowed = (key, idx, mask, self.clusters.count(mask))
        return self._last_allowed[1:]


def _matrix_dtype(emb_type) -> type:
    """The resident matrix dtype of an embedding column of Spark type
    ``emb_type``: float32 for ``ARRAY<FLOAT>`` (the values as stored),
    else float64."""
    from pyspark.sql import types as T

    element = getattr(emb_type, "elementType", None)
    return np.float32 if isinstance(element, T.FloatType) else np.float64


#: the resident partition's k-means: seeds taken farthest-first from
#: about :data:`PARTITION_SEED_ROWS` rows of a sample of at most
#: :data:`PARTITION_SAMPLE` rows, :data:`PARTITION_ITERS` Lloyd steps on
#: the sample, then one assignment pass over every row
PARTITION_SAMPLE = 8192
PARTITION_SEED_ROWS = 2048
PARTITION_ITERS = 3


def _partition(mat: np.ndarray):
    """The :class:`topk.ClusterBounds` the resident searches prune with:
    the :func:`ivf.default_nlist` clusters of a seeded spherical k-means
    (see :data:`PARTITION_SAMPLE`), every row assigned to its nearest
    unit centroid :data:`topk.BLOCK_ROWS` rows at a time. Farthest-first
    seeds give each well-separated group of rows a centroid of its own,
    where random seeds leave some groups sharing one cluster of a wide
    radius. The clustering only decides which rows
    :func:`topk.pruned_topk` can skip; any partition gives the same
    answers."""
    from hybrid_vector_search_spark.operators.ivf import default_nlist

    n = len(mat)
    nlist = default_nlist(n)
    rng = np.random.default_rng(0)
    taken = rng.choice(n, min(n, PARTITION_SAMPLE), replace=False)
    sample = mat[np.sort(taken)]
    step = max(len(sample) // max(PARTITION_SEED_ROWS, nlist), 1)
    cents = _farthest_first(sample[::step], nlist)
    with np.errstate(invalid="ignore"):  # NaN rows: pruning is off
        for _ in range(PARTITION_ITERS):
            lab = _nearest(sample, cents)
            order = np.argsort(lab, kind="stable")
            cut = np.flatnonzero(np.r_[True, np.diff(lab[order]) != 0])
            sums = np.add.reduceat(sample.T[:, order], cut, axis=1).T
            norms = np.linalg.norm(sums, axis=1)
            moved = norms > 0
            cents[lab[order][cut][moved]] = sums[moved] / norms[moved, None]
        labels = np.concatenate(
            [
                _nearest(mat[lo : lo + BLOCK_ROWS], cents)
                for lo in range(0, n, BLOCK_ROWS)
            ]
        )
        return cluster_bounds(mat, labels, nlist)


def _farthest_first(rows: np.ndarray, nlist: int) -> np.ndarray:
    """``nlist`` of ``rows``: the first, then each time the row least
    similar (by inner product) to every one taken so far."""
    cents = np.empty((nlist, rows.shape[1]), dtype=rows.dtype)
    cents[0] = rows[0]
    best = rows @ cents[0]
    for j in range(1, nlist):
        cents[j] = rows[np.argmin(best)]
        np.maximum(best, rows @ cents[j], out=best)
    return cents


def _nearest(rows: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """The centroid of largest inner product with each row (the first
    on a tie)."""
    return (rows @ cents.T).argmax(axis=1)


def _max_row_norm(mat: np.ndarray) -> float:
    """The largest row L2 norm of ``mat``, in float64 (upcast 8,192
    rows at a time; NaN when a row holds NaN, 0.0 for no rows)."""
    peaks = [
        np.einsum("ij,ij->i", b, b).max()
        for b in (
            np.asarray(mat[lo : lo + 8192], dtype=np.float64)
            for lo in range(0, len(mat), 8192)
        )
    ]
    return float(np.sqrt(np.max(peaks))) if peaks else 0.0


def _jvm_size_bytes(s: str) -> int:
    """Parse a JVM size string ('1g', '512m', '0') to bytes."""
    s = s.strip().lower()
    mult = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def _driver_max_result_bytes(corpus) -> int | None:
    """spark.driver.maxResultSize in bytes (None = unlimited). A shard
    collect bigger than this is KILLED by the scheduler mid-job — the
    shard sizing must respect it, not discover it."""
    raw = corpus.sparkSession.sparkContext.getConf().get(
        "spark.driver.maxResultSize", "1g"
    )
    try:
        b = _jvm_size_bytes(raw)
    except ValueError:
        return None
    return b if b > 0 else None


def _merge_topk(
    per_shard: list[list[tuple[int, float]]], k: int
) -> list[tuple[int, float]]:
    """Global top-K from per-shard top-K lists — correct because each
    shard returned ITS best k, so any row outside every shard's top-k
    is dominated by ≥k rows globally. Same (score DESC, id ASC)
    tiebreak as the single-shard path."""
    cand = [t for rows in per_shard for t in rows]
    if not cand:
        return []
    ids = np.fromiter((c[0] for c in cand), dtype=np.int64, count=len(cand))
    scores = np.fromiter(
        (c[1] for c in cand), dtype=np.float64, count=len(cand)
    )
    return [
        (int(ids[i]), float(scores[i]))
        for i in topk_positions(ids, scores, k)
    ]


class ShardedCorpusServe:
    """The serving tier past the single-collect RAM gate (r13 verdict
    task 2, option 'N driver-side shards with a merge'): the corpus is
    hash-split into shards, each built as its own
    :class:`LocalCorpusServe` under the per-shard gate — bounding the
    PEAK a single Arrow collect + np.vstack conversion materializes —
    and queries fan out over the shards in-process with a top-K merge.

    Two budgets, two failure modes, both loud: ``shard_bytes`` caps one
    shard's conversion peak (the OOM the r13 gate existed for);
    ``max_total_bytes`` caps steady-state residency across all shards —
    past machine RAM the distributed plans are the only exact path,
    same refusal contract as before, just at the honest limit (total
    RAM) instead of the single-collect artifact (one 4 GiB blob).

    Each shard is partitioned and pruned on its own
    (:meth:`LocalCorpusServe.exact_topk`): a shard whose clusters the
    score bound rules out reads only the rest, and one where it cannot
    scans its whole block, so a query reads about the GEMM bytes of
    the monolithic tier's search (the matrix is merely split) — BLAS sees
    S smaller row-blocks instead of one; the merge handles ≤ S×k tuples
    (tools/shard_serve_probe.py pins the measured ratio on a corpus
    past the single-shard gate). Answers are value-identical to the
    monolithic path: shard membership only partitions the rows, and
    ``_merge_topk`` applies the engine-wide (score DESC, id ASC)
    tiebreak."""

    def __init__(self, shards: list[LocalCorpusServe]):
        if not shards:
            raise ValidationError(
                "ShardedCorpusServe: no shards — nothing to serve"
            )
        self.shards = shards
        self._pool = None  # lazy: only multi-shard tiers pay for it

    def _fanout(self, fn_per_shard, k: int):
        """Per-shard calls in parallel threads — the BLAS GEMV releases
        the GIL, so S shards scan concurrently (measured on the
        1.6M×384 probe corpus: 7 shards, 328→98 ms q=1, answers
        identical; serial fallback for a single shard). Futures are
        collected in shard order; the merge imposes the final
        (score DESC, id ASC) order regardless."""
        if len(self.shards) == 1:
            return _merge_topk([fn_per_shard(self.shards[0])], k)
        if self._pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self._pool = ThreadPoolExecutor(
                max_workers=len(self.shards),
                thread_name_prefix="serve-shard",
            )
        futs = [
            self._pool.submit(fn_per_shard, s) for s in self.shards
        ]
        return _merge_topk([f.result() for f in futs], k)

    @property
    def n_shards(self) -> int:
        return len(self.shards)

    @property
    def total_rows(self) -> int:
        return sum(len(s.ids) for s in self.shards)

    @classmethod
    def from_corpus(
        cls,
        corpus,
        shard_bytes: int = MAX_SERVE_BYTES,
        max_total_bytes: int = MAX_TOTAL_SERVE_BYTES,
        embedding_col: str = "embedding",
        id_col: str = "id",
        n_shards: int | None = None,
        _footprint: tuple[int, int, int] | None = None,
    ) -> "ShardedCorpusServe":
        """One footprint aggregate sizes the shard count
        (estimate / (0.75 × effective shard budget), so shards land
        comfortably under the per-shard gate even with hash imbalance;
        or an explicit ``n_shards`` — the per-shard gate still
        applies), then one collect per shard. The effective budget is
        ``min(shard_bytes, spark.driver.maxResultSize)``: a collect
        past maxResultSize is KILLED by the scheduler mid-job (measured
        live by tools/shard_serve_probe.py before this clamp — 1.2 GiB
        of task results against the 1 GiB default), and the resident
        float64 estimate upper-bounds the Arrow result bytes, so a
        shard sized under it collects cleanly. Shard assignment is a
        JVM-side hash of the id — build-time only; it never affects
        answers. The corpus is persisted across the per-shard collects
        so the source scan runs once, not once per shard."""
        from pyspark.sql import functions as F

        _n, _d, need = (
            _footprint
            if _footprint is not None
            else _resident_footprint(corpus, embedding_col)
        )
        cap = _driver_max_result_bytes(corpus)
        if cap is not None:
            shard_bytes = min(int(shard_bytes), cap)
        if need > max_total_bytes:
            raise ValidationError(
                f"ShardedCorpusServe: resident corpus is"
                f" {need/2**30:.1f} GiB >"
                f" {max_total_bytes/2**30:.1f} GiB total budget —"
                " serve this corpus with the distributed plans"
            )
        if n_shards is None:
            n_shards = max(
                1, -(-need // max(int(0.75 * shard_bytes), 1))
            )
        n_shards = int(n_shards)
        if n_shards < 1:
            raise ValidationError(
                f"ShardedCorpusServe: n_shards={n_shards} — need ≥ 1"
            )
        shard = F.pmod(F.hash(F.col(id_col)), F.lit(n_shards))
        tagged = corpus.withColumn("__shard", shard).persist()
        try:
            present = sorted(
                r["__shard"]
                for r in tagged.select("__shard").distinct().collect()
            )  # bounded: ≤ n_shards values
            shards = [
                LocalCorpusServe.from_corpus(
                    tagged.filter(F.col("__shard") == s).drop("__shard"),
                    max_bytes=shard_bytes,
                    embedding_col=embedding_col,
                    id_col=id_col,
                )
                for s in present
            ]
        finally:
            tagged.unpersist()
        return cls(shards)

    def exact_topk(
        self, qvec: Sequence[float], k: int
    ) -> list[tuple[int, float]]:
        return self._fanout(lambda s: s.exact_topk(qvec, k), k)

    def prefilter_topk(
        self,
        qvec: Sequence[float],
        filters: Mapping[str, Any] | None,
        k: int,
    ) -> list[tuple[int, float]]:
        return self._fanout(
            lambda s: s.prefilter_topk(qvec, filters, k), k
        )

    def unheld(self, filters: Mapping[str, Any] | None) -> list[str]:
        return self.shards[0].unheld(filters)

    def count_allowed(self, filters: Mapping[str, Any] | None) -> int:
        """Global |allowed| — the sum of per-shard mask counts (shard
        membership partitions the rows, so the counts are disjoint)."""
        return sum(s.count_allowed(filters) for s in self.shards)

    def passing(
        self, filters: Mapping[str, Any] | None, ids: np.ndarray
    ) -> np.ndarray:
        """Which of ``ids`` pass ``filters``: each id lives in one shard,
        so the shards' answers are ORed."""
        return np.logical_or.reduce(
            [s.passing(filters, ids) for s in self.shards]
        )


def route_note(route: str, detail: Any = None) -> str:
    """The ``notes`` entry naming the route a search took —
    ``route=<route>``, or ``route=<route>(<detail>)`` — for every
    strategy whose search has a costed dispatch."""
    return f"route={route}" if detail is None else f"route={route}({detail})"


class CostedServe:
    """The costed dispatch of the exact / pre_filter strategies over one
    corpus (r14 verdict, next #1): the serve-side analog of the
    reference's ``get_backend`` (src/harness/run.py:71-87) — the caller
    names the workload, the dispatch records the physical shape.

    :func:`serve_or_plan` measures the corpus's resident footprint ONCE
    (one distributed aggregate) and routes:

    * ``resident`` — footprint under the single-collect budget
      (``min(shard_bytes, spark.driver.maxResultSize)``): one
      :class:`LocalCorpusServe`, the reference's own residency model;
    * ``sharded`` — past the single-collect gate but under the total
      driver-RAM budget: a :class:`ShardedCorpusServe` whose shard
      count is DERIVED from the measured bytes (the same sizing the
      r14 probe validated past the 4 GiB gate);
    * ``distributed`` — past total RAM: the Spark plans are the only
      exact path, exactly the 100 TB regime.

    This object is a dispatch record — ``route``, ``tier`` and the
    route's ``note`` — and chooses no answer path itself: ``search``
    hands the request to the strategy it names (``pre_filter`` when
    filtered, else ``exact``), whose ``ExactBackend._search`` answers
    from the tier when :meth:`holds` says it can and from the Spark plan
    otherwise (the ``distributed`` route, or a filter on a column the
    tier does not hold, such as the embedding). ``ExactBackend.search``
    on a resident corpus takes the same path with the memoized dispatch
    of :func:`resident_serve`, so the serving tier and the strategy
    share one driver copy and one route decision. Stats keep the §2.10
    contract (method/K/latency_ms/scored_vectors/scores) and ``notes``
    carries ``route=resident|sharded(n)|distributed``. Answers are
    value-identical across the three routes (the registered
    ``strategy_costed_serve`` query hash-pins all three against one
    DuckDB oracle)."""

    def __init__(self, corpus, route, tier, n, id_col):
        self.corpus = corpus
        self.route = route
        self.tier = tier
        self.n = int(n)
        self.id_col = id_col
        self._backends: dict[str, Any] = {}

    @property
    def n_shards(self) -> int:
        return self.tier.n_shards if self.route == "sharded" else (
            1 if self.route == "resident" else 0
        )

    @property
    def note(self) -> str:
        return route_note(
            self.route, self.n_shards if self.route == "sharded" else None
        )

    def holds(self, filters: Mapping[str, Any] | None) -> bool:
        """Whether the tier can answer ``filters``: the route is
        resident or sharded and its metadata holds every filter
        column."""
        return self.tier is not None and not self.tier.unheld(filters)

    def search(
        self,
        qvec: Sequence[float],
        filters: Mapping[str, Any] | None,
        k: int,
    ) -> tuple[list[int], dict[str, Any]]:
        method = "pre_filter" if filters else "exact"
        backend = self._backends.get(method)
        if backend is None:
            from hybrid_vector_search_spark.operators.strategies import (
                get_backend,
            )

            backend = get_backend(
                method, self.corpus, self.n, id_col=self.id_col
            )
            self._backends[method] = backend
        return backend._search(qvec, filters, k, self)


class CostedAnnServe:
    """The post_filter family's candidate ranking through the SAME costed
    dispatch discipline as :class:`CostedServe` (r15 — completes the
    get_backend analogy for the ANN strategy): the route is decided
    once from measured numbers, recorded in the stats notes, and both
    shapes return the identical answer (the registered
    ``ann_costed_serve`` query pins them to one DuckDB oracle).

    Routes:

    * ``local_probe`` — the index has a persisted partitioned layout
      and the expected probed-block bytes (rows/nlist × nprobe ×
      (D×8 + 8)) fit the probe budget: the driver Arrow-reads ONLY the
      probed list directories and GEMMs in-process
      (``IVFIndex.local_ranking`` — no Spark job, the only shape
      that beats the per-job launch floor at q=1);
    * ``distributed`` — no layout, or probed bytes past the budget
      (the 100 TB regime where even one probe's lists dwarf a node):
      the partition-pruned Spark plan (``IVFIndex.search_plan``).

    :meth:`ranking` is the one place the route picks a shape; it serves
    both the unfiltered q=1 point probe (:meth:`search`, which only adds
    the stats) and the candidate ranking of the filtered post_filter
    strategy (operators/ivf.py ``PostFilterBackend._ranking``, which
    keeps its own ladder and puts :attr:`note` ahead of its stop
    note)."""

    def __init__(self, index, route: str, nprobe: int):
        self.index = index
        self.route = route
        self.nprobe = int(nprobe)

    @property
    def note(self) -> str:
        return route_note(self.route, f"nprobe={self.nprobe}")

    def ranking(
        self, qvec: Sequence[float], k: int
    ) -> tuple[np.ndarray, np.ndarray, int | None]:
        """The top ``k`` of the probed lists, best first: ``(int64 ids,
        float64 scores, rows scored)``. The rows scored are known on the
        local route only: the distributed plan's scan-side count is the
        strategies' Observation job, not ours."""
        if self.route == "local_probe":
            return self.index.local_ranking(qvec, k, nprobe=self.nprobe)
        from hybrid_vector_search_spark.operators.strategies import (
            collect_ranking,
        )

        plan, _probed = self.index.search_plan(qvec, k=k, nprobe=self.nprobe)
        return (*collect_ranking(plan, k, self.index.id_col), None)

    def search(
        self, qvec: Sequence[float], k: int
    ) -> tuple[list[int], dict[str, Any]]:
        t0 = time.perf_counter()
        ids, scores, scored = self.ranking(qvec, k)
        stats: dict[str, Any] = {
            "method": "post_filter",
            "K": int(k),
            "latency_ms": (time.perf_counter() - t0) * 1000.0,
            "scores": [float(s) for s in scores],
            "notes": self.note,
        }
        if scored is not None:
            stats["scored_vectors"] = scored
        return [int(i) for i in ids], stats


def ann_serve_or_plan(
    index,
    nprobe: int | None = None,
    max_probe_bytes: int | None = None,
    n: int | None = None,
) -> CostedAnnServe:
    """Measure the expected probed-block footprint once and return the
    :class:`CostedAnnServe` routed to the cheapest shape: driver-local
    Arrow probe under the budget, the partition-pruned distributed plan
    beyond (or when the index has no persisted layout). Budget defaults
    to the index's own serve-cache bound so the local route never
    admits blocks its LRU would immediately evict."""
    from hybrid_vector_search_spark.operators.ivf import (
        DEFAULT_NPROBE,
        IVFIndex,
    )

    if nprobe is None:
        nprobe = DEFAULT_NPROBE
    if max_probe_bytes is None:
        max_probe_bytes = IVFIndex.SERVE_CACHE_BYTES
    if n is None:
        n = index.row_count()
    d = int(index.centroids.shape[1])
    est = int(n / max(index.nlist, 1) * int(nprobe)) * (d * 8 + 8)
    route = (
        "local_probe"
        if index.partitioned_path is not None
        and est <= int(max_probe_bytes)
        else "distributed"
    )
    return CostedAnnServe(index, route, int(nprobe))


def serve_or_plan(
    corpus,
    shard_bytes: int = MAX_SERVE_BYTES,
    max_total_bytes: int = MAX_TOTAL_SERVE_BYTES,
    embedding_col: str = "embedding",
    id_col: str = "id",
) -> CostedServe:
    """Measure the corpus footprint ONCE and return the
    :class:`CostedServe` routed to the cheapest exact tier it fits:
    resident under the single-collect budget, sharded under the total
    driver-RAM budget (shard count derived from the measured bytes),
    distributed Spark plans beyond. See :class:`CostedServe`.

    On a corpus held in Spark's cache manager the decision and its tier
    are memoized per (cache entry, budgets, columns) in the session
    artifact store (:func:`session.resident_artifact`): every call with
    the same arguments returns the same object, so the serving tier and
    ``ExactBackend.search`` (through :func:`resident_serve`) share one
    driver copy, and a re-cached corpus is measured and collected
    again. An uncached corpus is measured on every call."""
    args = (int(shard_bytes), int(max_total_bytes), embedding_col, id_col)
    served = _resident_route(corpus, *args)
    return served if served is not None else _route(corpus, *args)


def resident_serve(corpus, id_col: str = "id") -> CostedServe | None:
    """``serve_or_plan(corpus, id_col=id_col)`` when ``corpus`` is held
    in Spark's cache manager (the memoized object), else None: an
    uncached corpus, or an empty one, which has nothing to hold."""
    try:
        return _resident_route(
            corpus, MAX_SERVE_BYTES, MAX_TOTAL_SERVE_BYTES, "embedding", id_col
        )
    except ValidationError:  # an empty corpus
        return None


def _resident_route(corpus, *args) -> CostedServe | None:
    return resident_artifact(
        corpus, ("serve_or_plan", *args), lambda: _route(corpus, *args)
    )


def _route(
    corpus,
    shard_bytes: int,
    max_total_bytes: int,
    embedding_col: str,
    id_col: str,
) -> CostedServe:
    n, d, need = _resident_footprint(corpus, embedding_col)
    cap = _driver_max_result_bytes(corpus)
    eff = min(int(shard_bytes), cap) if cap is not None else int(shard_bytes)
    if need <= eff:
        tier = LocalCorpusServe.from_corpus(
            corpus,
            max_bytes=eff,
            embedding_col=embedding_col,
            id_col=id_col,
            _footprint=(n, d, need),
        )
        route = "resident"
    elif need <= int(max_total_bytes):
        tier = ShardedCorpusServe.from_corpus(
            corpus,
            shard_bytes=shard_bytes,
            max_total_bytes=max_total_bytes,
            embedding_col=embedding_col,
            id_col=id_col,
            _footprint=(n, d, need),
        )
        route = "sharded"
    else:
        tier = None
        route = "distributed"
    return CostedServe(corpus, route, tier, n, id_col)
