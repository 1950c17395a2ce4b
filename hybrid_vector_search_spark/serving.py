"""Driver-local serving tier for the exact / pre_filter strategies (and
the filter membership of the post-filter ladder on a resident corpus).

Why it exists (BASELINE_PARITY.md): every per-query Spark plan is
bounded below by the job-launch floor (~60-100 ms on the parity host),
which the reference — an in-process NumPy/pandas engine holding the
whole corpus in RAM (artifacts/artifacts.py:165-194 loads the matrix +
metadata once at startup) — never pays. The IVF q=1 row was closed in
r13 by ``IVFIndex.serve_local_topk`` (read only the probed lists); the
exact and pre_filter strategies scan the WHOLE corpus by definition, so
their serving twin is the reference's own residency model: the float64
matrix + the filterable metadata columns live in driver RAM, queries
are a GEMM (optionally over the predicate-masked row subset) plus a
(score DESC, id ASC) merge.

This is a SERVING-TIER choice, not the engine's execution model: the
build is RAM-gated on the real matrix footprint (N×D×8, the same gate
as operators.dedup.embedding_near_dup) and refuses loudly beyond it —
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
from hybrid_vector_search_spark.operators.topk import topk_positions
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
    """(n, d, estimated resident bytes) via ONE distributed aggregate —
    the gate runs BEFORE any driver materialization (the
    embedding_near_dup rule: check, then collect), and counts the WHOLE
    collected footprint: matrix float64 + ~8 bytes/row/numeric col +
    measured string bytes ×2 (pandas object-string overhead is at least
    that — r13 review finding). An empty corpus, or one whose embedding
    dimension is null/zero, is refused here with ``ValidationError``:
    every tier build and every dispatch measures through this gate."""
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
    """In-RAM corpus: ids (int64), unit-norm float64 matrix, metadata
    frame, and the corpus schema the filter DSL validates against.

    The resident copy never changes, so predicate work that does not
    depend on the query vector is kept beside ``meta``: the lowercased
    form of each column a ``like`` has searched (filled lazily), the
    row set of the last filter set evaluated — a request that runs
    :meth:`prefilter_topk` (or :meth:`passing`) and then
    :meth:`count_allowed` evaluates its mask once — and, once a
    :meth:`passing` call needs it, an id→position index."""

    def __init__(self, ids, mat, meta, schema):
        self.ids = ids
        self.mat = mat
        self.meta = meta
        self.schema = schema
        self._lowered: dict[str, Any] = {}
        self._last_allowed: tuple[str, np.ndarray] | None = None
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
            np.vstack(pdf[embedding_col].to_numpy()), dtype=np.float64
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

    def exact_topk(
        self, qvec: Sequence[float], k: int
    ) -> list[tuple[int, float]]:
        q = np.asarray(qvec, dtype=np.float64).reshape(-1)
        return self._topk(self.ids, self.mat @ q, k)

    #: above this survivor fraction, fancy-indexing the embedding matrix
    #: copies more bytes than the full GEMM re-reads — score everything
    #: and mask the (8-byte) scores instead. A broad filter at 2/3
    #: selectivity was copying ~300 MB per query through mat[idx]; the
    #: full-GEMM form reads the resident matrix in place (measured: the
    #: broad canonical queries drop to ~exact-scan cost, the strict ones
    #: keep the small-submatrix win).
    PREFILTER_GATHER_FRAC = 0.25

    def prefilter_topk(
        self,
        qvec: Sequence[float],
        filters: Mapping[str, Any] | None,
        k: int,
    ) -> list[tuple[int, float]]:
        """The pre_filter strategy in-process: predicate over the
        resident metadata (same DSL, pandas evaluator), then score the
        survivors — a submatrix GEMM when the filter is selective
        (cost ∝ selectivity, the reference's headline property), an
        in-place full GEMM + score mask when it is broad (gather cost
        would exceed the scan). Same answer either way.

        Filters naming the embedding column (legal in the DSL — ``like``
        stringifies arrays) are REFUSED loudly: the metadata frame does
        not hold the embedding column (it lives as the float64 matrix),
        and a silent KeyError is worse than a documented divergence —
        route such filters through the distributed plan."""
        unheld = self.unheld(filters)
        if unheld:
            raise ValidationError(
                f"LocalCorpusServe: column '{unheld[0]}' is not resident"
                " in the serving metadata (embedding-column filters"
                " run on the distributed plan)"
            )
        idx = self._allowed(filters)
        if idx.size == 0:
            return []
        q = np.asarray(qvec, dtype=np.float64).reshape(-1)
        if idx.size > self.PREFILTER_GATHER_FRAC * len(self.ids):
            scores = self.mat @ q
            return self._topk(self.ids[idx], scores[idx], k)
        return self._topk(self.ids[idx], self.mat[idx] @ q, k)

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
        return int(self._allowed(filters).size)

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
        allowed = np.zeros(len(self.ids), dtype=bool)
        allowed[self._allowed(filters)] = True
        return held & allowed[order[at]]

    def _allowed(self, filters: Mapping[str, Any]) -> np.ndarray:
        """Row positions passing ``filters``; the last filter set's
        answer is kept (keyed by its canonical JSON)."""
        key = json.dumps(filters, sort_keys=True, default=str)
        last = self._last_allowed
        if last is not None and last[0] == key:
            return last[1]
        idx = np.flatnonzero(
            filters_mask_pandas(
                self.schema, filters, self.meta, lowered=self._lowered
            )
        )
        self._last_allowed = (key, idx)
        return idx


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

    Per-query cost is the SAME total GEMM bytes as the monolithic tier
    (the matrix is merely split), so throughput tracks the reference's
    in-RAM brute-force rate — BLAS sees S smaller row-blocks instead of
    one; the merge handles ≤ S×k tuples (tools/shard_serve_probe.py
    pins the measured ratio on a corpus past the single-shard gate).
    Answers are value-identical to the monolithic path: shard
    membership only partitions the scan, and ``_merge_topk`` applies
    the engine-wide (score DESC, id ASC) tiebreak."""

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
