"""Composite search strategies (the reference's "physical plans", §2.4).

Each strategy answers: given a unit query vector, a filter dict, and K,
return the top-K ids by inner product among rows passing the filters —
plus an execution-stats record (§2.10 contract).

Strategy ↔ plan shape:

* ``exact`` / ``pre_filter`` (reference P1/P2, src/backends/exact.py:29-57,
  src/baselines/pre_filter.py:7-68): ``filter → score → TakeOrderedAndProject``.
  In Spark these are the *same* plan — Catalyst predicate pushdown makes
  "gather the allowed subset first" automatic; both names are kept for the
  stats contract. Scoring is float64 (reference oracle upcast). On a
  corpus held in Spark's cache manager ``search`` answers from the
  driver-resident serve tier instead (:class:`ExactBackend`).
* ``post_filter`` (reference P3, src/baselines/post_filter.py:17-109):
  ANN candidates over the full corpus via the IVF index, candidate ladder
  K′ ∈ (200, 500, 1000) with early stop, then filter candidates and keep
  the best K — see operators/ivf.py for the index. The ladder itself
  (costed entry, escalation, stats) is :class:`LadderBackend`, shared
  with the HNSW and LSH candidate sources. On a corpus the serve tier
  holds, filter membership and the costed |allowed| come from that same
  tier, with no Spark job.
* ``random`` (reference P4, src/backends/random.py:9-31): seeded sample,
  ignores filters (kept as the recall floor; reference quirk Q7).

Row counts ("scored_vectors") are captured with ``Observation`` metrics on
the scan — no second pass over the data — or, on the resident route, from
the serve tier's filter mask.
"""

from __future__ import annotations

import json
import time
import uuid
from abc import ABC, abstractmethod
from collections.abc import Callable, Mapping, Sequence
from concurrent.futures import ThreadPoolExecutor
from functools import partial
from typing import Any

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from hybrid_vector_search_spark.errors import ValidationError
from hybrid_vector_search_spark.functions.predicates import (
    compile_filters,
    validate_filters_schema,
)
from hybrid_vector_search_spark.functions.vector import ensure_unit_l2
from hybrid_vector_search_spark.operators.topk import topk, topk_positions
from hybrid_vector_search_spark.serving import resident_serve, route_note
from hybrid_vector_search_spark.session import resident_artifact
from hybrid_vector_search_spark.sources.loaders import validate_K


class SearchBackend(ABC):
    """Common strategy API (reference: src/backend_interface.py:7-31).

    ``search`` returns ``(ids, stats)`` with ids ordered ``score DESC,
    id ASC``; ``plan`` returns the un-collected DataFrame for composition.
    """

    name: str = "abstract"

    def __init__(self, corpus: DataFrame, n: int | None = None, id_col: str = "id"):
        self.corpus = corpus
        self.id_col = id_col
        self.n = n if n is not None else corpus.count()

    @abstractmethod
    def plan(
        self, qvec: Sequence[float], filters: Mapping[str, Any] | None, k: int
    ) -> tuple[DataFrame, Observation | None]:
        """Build the (id, score) top-K DataFrame plan + optional row-count
        observation."""

    def search(
        self, qvec: Sequence[float], filters: Mapping[str, Any] | None, k: int
    ) -> tuple[list[int], dict[str, Any]]:
        return self.plan_search(qvec, filters, k)

    def plan_search(
        self,
        qvec: Sequence[float],
        filters: Mapping[str, Any] | None,
        k: int,
        note: str | None = None,
    ) -> tuple[list[int], dict[str, Any]]:
        """Answer by collecting :meth:`plan`: one Spark job, with
        ``scored_vectors`` read from the plan's row-count
        ``Observation``; ``note`` (the route, if a dispatch chose this
        path) leads ``notes``."""
        validate_K(k, self.n)
        q = ensure_unit_l2(qvec)
        t0 = time.perf_counter()
        df, obs = self.plan(q, filters, k)
        rows = df.collect()
        latency_ms = (time.perf_counter() - t0) * 1000.0
        ids = [int(r[self.id_col]) for r in rows]
        scored = int(obs.get["n"]) if obs is not None else 0
        stats: dict[str, Any] = {
            "method": self.name,
            "K": k,
            "latency_ms": latency_ms,
            "scored_vectors": scored,
            "scores": [float(r["score"]) for r in rows],
        }
        note = self.compose_notes(note)
        if note:
            stats["notes"] = note
        return ids, stats

    def _served(self) -> Any:
        """The memoized serve dispatch of a resident corpus, or None
        (:func:`serving.resident_serve`)."""
        return resident_serve(self.corpus, self.id_col)

    def compose_notes(self, *own: str | None) -> str | None:
        """Join a strategy's own notes (the unset ones skipped) with the
        K6 fallback provenance (set by ``load_corpus_index`` when this
        backend was landed via the chain) — subclasses that build their
        own ``notes`` route them through here so the fallback record
        survives."""
        fb = getattr(self, "fallback_note", None)
        return "; ".join(p for p in (*own, fb) if p) or None


def is_resident(df: DataFrame) -> bool:
    """Whether Spark's cache manager holds ``df``'s plan (its storage
    level is not NONE). The lookup is by plan, so every handle over a
    cached plan is resident, not only the one ``.cache()`` was called
    on."""
    return df.storageLevel != StorageLevel.NONE


def allowed_count(
    corpus: DataFrame,
    filters: Mapping[str, Any] | None,
    pred: Column,
) -> int:
    """|rows of ``corpus`` passing ``pred``| (compiled from
    ``filters``), by a count job. The count does not change with the
    query vector, and the rows of a resident corpus cannot change under
    its cache, so on a resident corpus it is memoized per (Spark cache
    entry, canonical filters) in the session artifact store
    (:func:`session.resident_artifact`; ``invalidate_caches()`` clears
    it, and a re-cached plan is a new entry). A resident corpus the
    serve tier holds answers from the tier instead
    (:meth:`LadderBackend.search`), so the memo serves the corpora
    :func:`serving.serve_or_plan` routes ``distributed`` and the filters
    the tier does not hold. An uncached handle counts on every call: its
    files may change between queries. Reusing work that does not depend
    on the query vector across the queries of a session is the idea of
    the incremental top-K similarity search framework for interactive
    sessions (EDBT 2020, PAPERS.md)."""
    key = (
        "allowed_count",
        json.dumps(filters or {}, sort_keys=True, default=str),
    )
    memo = resident_artifact(
        corpus, key, lambda: corpus.filter(pred).count()
    )
    return int(memo if memo is not None else corpus.filter(pred).count())


#: filter-dict key → the column it actually constrains (geo box keys
#: bind the fixed latitude/longitude pair, everything else is itself)
_GEO_KEY_COLS = {"lat_between": "latitude", "lon_between": "longitude"}


def split_filters_by_side(
    filters: Mapping[str, Any] | None, emb_cols: Sequence[str]
) -> tuple[dict, dict]:
    """Partition a filter dict into (embeddings-side, metadata-side)
    conjunct dicts by column ownership. Every predicate op is null-fail
    (functions/predicates.py `_null_fail`), so splitting a conjunction
    across a LEFT join's sides and semi-joining the metadata survivors
    is exactly equivalent to filtering the joined frame."""
    emb_f: dict[str, Any] = {}
    meta_f: dict[str, Any] = {}
    cols = set(emb_cols)
    for key, ops in (filters or {}).items():
        target = _GEO_KEY_COLS.get(key, key)
        (emb_f if target in cols else meta_f)[key] = ops
    return emb_f, meta_f


class ExactBackend(SearchBackend):
    """P1: filter → float64 exact IP scoring → top-K. Serves as the
    correctness oracle (reference src/backends/exact.py:29-57).

    ``search`` picks its route once per call, in :meth:`_search`, on a
    serve dispatch (``serving.CostedServe``): the memoized one of
    :func:`serving.resident_serve` when the corpus is held in Spark's
    cache manager, or the one ``CostedServe.search`` passes in — the
    serving entry point chooses nothing itself, so this method is the
    one place the exact and pre_filter route is decided:

    * resident — the dispatch routes ``resident`` or ``sharded`` and
      the tier's metadata holds every filter column. The answer comes
      from the driver-resident tier (the reference's ``vectors[allowed]``
      gather and one GEMV, src/baselines/pre_filter.py:49-52): no Spark
      job and no ``Column`` is built; filters are checked by the
      pure-Python validator, so an unknown column raises the same
      ``FilterSpecError``. The tier is the one object ``serve_or_plan``
      returns for the corpus, so the serving tier and this strategy
      share one driver copy. The first search on a corpus nothing has
      served yet pays its footprint aggregate and one Arrow collect; a
      corpus past the driver budgets memoizes the ``distributed``
      decision, so the aggregate runs once. ``scored_vectors`` counts
      the tier's mask (the tier keeps its last one, so a filtered
      request evaluates the predicate once).
    * plan — every other case: :meth:`plan`, collected by
      :meth:`plan_search` as one Spark job. With a dispatch (routed
      ``distributed``, or a filter on a column the tier does not hold,
      such as the embedding) ``notes`` say ``route=distributed``; an
      uncached handle (a snapshot read, say: its files may change
      between queries) has no dispatch and keeps no route note.

    On the resident route ``notes`` carry ``route=resident`` or
    ``route=sharded(n)`` (``serving.route_note``).

    Scoring is the JVM expression (functions/vector.py dot_score_column,
    no Python worker in the plan): a single-query scan pays an Arrow
    transfer of the whole embedding column under the pandas-UDF kernel,
    which the r7 profile measured as the dominant term (exact 516→295 ms,
    strict pre_filter 351→60 ms at the reference shape).

    Narrow-join shape: when the corpus handle carries its un-joined
    sides (sources/loaders.py `load_corpus`) and the predicate touches
    metadata columns, the plan scores ``(id, score)`` on the embeddings
    side and LEFT-SEMI-joins the metadata-filtered id set — the wide
    embedding array never crosses the join, so join traffic is ~16 B/row
    instead of ~1.5 KB/row at D=384 (the shape that survives a 100-TB
    corpus where neither side is broadcastable; the reference's
    in-process equivalent is the zero-movement ``vectors[allowed]``
    gather, src/baselines/pre_filter.py:49-52).

    The narrow shape is for UNCACHED handles only. A handle resident in
    Spark's cache manager (``load_corpus`` caches the joined corpus) is
    filtered and scored in place: re-reading both parquet sides and
    semi-joining them per query would redo the join the cache already
    holds (1.67 jobs and 32 MB of parquet input per query at the
    50,000×384 benchmark shape, against one job over the cached
    frame)."""

    name = "exact"

    def search(self, qvec, filters, k):
        return self._search(qvec, filters, k, self._served())

    def _search(self, qvec, filters, k, served):
        """:meth:`search` on the dispatch ``served`` (a
        ``serving.CostedServe``, or None: no dispatch, the plan)."""
        validate_K(k, self.n)
        q = ensure_unit_l2(qvec)
        validate_filters_schema(self.corpus.schema, filters)
        if served is None:
            return self.plan_search(q, filters, k)
        if not served.holds(filters):
            return self.plan_search(q, filters, k, route_note("distributed"))
        t0 = time.perf_counter()
        tier = served.tier
        rows = (
            tier.prefilter_topk(q, filters, k)
            if filters
            else tier.exact_topk(q, k)
        )
        stats: dict[str, Any] = {
            "method": self.name,
            "K": k,
            "latency_ms": (time.perf_counter() - t0) * 1000.0,
            "scored_vectors": tier.count_allowed(filters),
            "scores": [s for _, s in rows],
            "notes": self.compose_notes(served.note),
        }
        return [i for i, _ in rows], stats

    def plan(self, qvec, filters, k):
        from hybrid_vector_search_spark.functions.vector import (
            dot_score_column,
        )

        # validate against the FULL corpus schema first: unknown columns
        # must hard-error identically in both shapes
        pred = compile_filters(self.corpus.schema, filters)
        obs = Observation(f"scored_{uuid.uuid4().hex[:8]}")
        emb = getattr(self.corpus, "_hvs_emb_side", None)
        meta = getattr(self.corpus, "_hvs_meta_side", None)
        if (
            emb is not None
            and meta is not None
            and filters
            and not is_resident(self.corpus)
        ):
            emb_f, meta_f = split_filters_by_side(filters, emb.columns)
            if meta_f:
                allowed = meta.filter(
                    compile_filters(meta.schema, meta_f)
                ).select(self.id_col)
                base = emb
                if emb_f:
                    base = base.filter(compile_filters(emb.schema, emb_f))
                scored = (
                    base.join(allowed, self.id_col, "left_semi")
                    .observe(obs, F.count(F.lit(1)).alias("n"))
                    .select(
                        F.col(self.id_col),
                        dot_score_column(qvec).alias("score"),
                    )
                )
                return topk(scored, k, id_col=self.id_col), obs
        scored = (
            self.corpus.filter(pred)
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .select(
                F.col(self.id_col),
                dot_score_column(qvec).alias("score"),
            )
        )
        return topk(scored, k, id_col=self.id_col), obs


class PreFilterBackend(ExactBackend):
    """P2: identical Spark plan to P1 (predicate pushdown is free); the name
    is kept for the stats contract (reference src/baselines/pre_filter.py)."""

    name = "pre_filter"


class RandomBackend(SearchBackend):
    """P4: seeded random K ids; ignores filters and reports
    ``scored_vectors = 0`` — the recall floor (reference quirk Q7,
    src/backends/random.py:9-31: ``default_rng(0).choice`` — a seeded
    uniform draw).

    The draw is expressed as an order over ``md5(seed ∥ id)`` — uniform
    like the reference's rng, but a pure function of (seed, id):
    reproducible on ANY cluster shape (``F.rand`` output depends on the
    partition layout) and replayable by the ANSI-SQL oracle, which is
    what lets the driver value-hash this baseline."""

    name = "random"

    def __init__(self, corpus, n=None, id_col="id", seed: int = 0):
        super().__init__(corpus, n, id_col)
        self.seed = seed

    def _draw_key(self) -> F.Column:
        from hybrid_vector_search_spark.operators.sampling import (
            portable_hash_key,
        )

        return portable_hash_key(
            F.concat(
                F.lit(f"rnd{self.seed}:"), F.col(self.id_col).cast("string")
            )
        )

    def plan(self, qvec, filters, k):
        df = (
            self.corpus.select(self.id_col)
            .orderBy(self._draw_key().asc(), F.col(self.id_col).asc())
            .limit(k)
            .withColumn("score", F.lit(0.0))
        )
        return df, None

    def search(self, qvec, filters, k):
        ids, stats = super().search(qvec, filters, k)
        stats["scored_vectors"] = 0
        return ids, stats


#: survivor over-fetch of the costed ladder entry: the entry rung must be
#: expected to yield K·LADDER_SAFETY survivors (×2 absorbs the candidate
#: set's non-uniform overlap with the filter). The registry's SQL oracles
#: replay the entry with this same constant.
LADDER_SAFETY = 2


def ladder_entry(
    ladder: Sequence[int],
    k: int,
    n_allowed: int,
    universe: int,
    coverage: Callable[[int], int] = lambda rung: rung,
) -> int:
    """Costed entry rung of a post-filter escalation ladder.

    A rung whose candidates cover ``coverage(rung)`` of ``universe``
    units yields ≈ ``coverage(rung)·|allowed| / universe`` survivors, so
    a rung can plausibly deliver K·LADDER_SAFETY survivors only when
    ``coverage(rung) ≥ need = ceil(K·LADDER_SAFETY·universe / |allowed|)``
    — integer ceil, exactly reproducible by the SQL oracle. Enter at the
    first such rung, else at the last rung; ``|allowed| ≤ 0`` means the
    last rung only. IVF and HNSW: ``universe = N``, coverage is K′ itself.
    LSH: ``universe = 2^nbits`` buckets, ``coverage(r) = Σ_{i≤r}
    C(nbits, i)`` for probe radius r."""
    if n_allowed <= 0:
        return ladder[-1]
    need = -(-(k * LADDER_SAFETY * universe) // n_allowed)
    return next((r for r in ladder if coverage(r) >= need), ladder[-1])


def join_candidates(
    corpus: DataFrame, pred: Column, candidates: DataFrame, id_col: str = "id"
) -> DataFrame:
    """``(id, score)`` of the ANN candidates whose corpus row passes
    ``pred`` — the composable ``plan()`` form of a post-filter rung.
    Broadcasts the LADDER-BOUNDED side: ``candidates`` is a top-K′ plan
    (≤ max(ladder) rows by construction), while the filtered corpus
    approaches the full id column as selectivity → 1 — broadcasting it
    would overflow the driver at 100× scale. The inner join keeps the
    candidate scores."""
    allowed = corpus.filter(pred).select(id_col)
    return allowed.join(F.broadcast(candidates), id_col, "inner").select(
        id_col, "score"
    )


class LadderBackend(SearchBackend):
    """The P3 post-filter escalation ladder (reference src/baselines/
    post_filter.py:66-87), written once for every ANN candidate source:
    run the rungs in order, keep the candidates passing the filters,
    stop at the first rung with ≥K survivors (fewer than K after the last
    rung is a valid short answer, never an error).

    The prepared ladder: a subclass supplies ``_ranking`` — its candidate
    ranking at K′ = max(ladder), best first (IVF: the probed lists' top
    K′; HNSW: the graph walk) — and the base marks which candidates pass
    the filters once per search. A rung K′ is then a slice: the top-K′
    of a (score DESC, id ASC) ranking is the K′-prefix of the top
    max(ladder), so stop rung and survivors are those of the loop the
    reference runs, for one candidate ranking instead of one per rung.
    Membership and |allowed| come from one place per search. On a
    resident corpus the serve tier holds — :func:`serving.resident_serve`
    routes it ``resident`` or ``sharded`` and the tier's metadata holds
    every filter column — they come from the tier (``passing`` and
    ``count_allowed`` over its resident metadata, the reference's
    in-RAM metadata gather): no Spark job and no ``Column`` is built,
    and filters are checked by the pure-Python validator, so a bad one
    raises the same ``FilterSpecError``. Otherwise (an uncached handle,
    a corpus routed ``distributed``, a filter on the embedding column)
    one filter job per search returns the candidate ids passing the
    filters (:meth:`_passing`). A source whose rungs are not prefixes of
    one ranking (LSH: each radius scans other buckets) overrides
    ``_prepare`` and ``_rung`` instead. ``ladder`` names the rungs;
    ``_universe`` / ``_coverage`` map them onto :func:`ladder_entry`.

    ``costed=True`` replaces the fixed entry at the first rung with the
    COST-BASED entry of :func:`ladder_entry` (the better-than-reference
    opportunity SURVEY §4 names: the reference's fixed ladder runs — and
    exhausts — every rung on strict filters, its qids 1/5 in
    results.jsonl). Strict filters jump straight to the final rung;
    broad filters still enter at the first, so the fast path is
    untouched, and the final rung is the same in both regimes. The
    |allowed| input is ``selectivity_hint`` when given — the 100 TB form:
    catalog column statistics or a sketch, no scan — else the tier's
    count, else :func:`allowed_count`, run alongside ``_prepare``: one
    count job per search over an uncached corpus, one per (corpus,
    filters) in the session over a resident one.

    Stats (§2.10): ``ladder_entry`` / ``rungs_run`` are the ladder
    economics (the costed win IS ``rungs_run`` < len(ladder) on strict
    filters); ``selectivity_est`` = |allowed|/N when costed.
    ``kth_at_stop`` and ``bound_at_stop`` fill the fields the reference
    reserves but never fills (backend_interface.py:15-16):
    ``kth_at_stop`` is the K-th returned score, ``bound_at_stop`` is
    ``scores[-1]``, the LOWEST RETURNED score — equal to ``kth_at_stop``
    whenever K rows come back. It is not a bound on the scores of
    unkept candidates."""

    def __init__(
        self,
        corpus: DataFrame,
        n: int | None = None,
        id_col: str = "id",
        costed: bool = False,
        selectivity_hint: int | None = None,
    ):
        super().__init__(corpus, n, id_col)
        self.costed = costed
        self.selectivity_hint = selectivity_hint

    @property
    def ladder(self) -> tuple[int, ...]:
        return self.k_ladder

    def _universe(self) -> int:
        return self.n

    def _coverage(self, rung: int) -> int:
        return rung

    def _ranking(
        self, q: Any, resident: bool
    ) -> tuple[np.ndarray, np.ndarray, dict]:
        """The candidate ranking at K′ = max(ladder), best first:
        ``(int64 ids, float64 scores, the source's own stats fields)``;
        a ``route`` field (the ranking's route note) leads ``notes``
        instead. ``resident`` is whether the search runs on the tier
        route."""
        raise NotImplementedError

    def _prepare(
        self,
        q: Any,
        passing: Callable[[np.ndarray], np.ndarray] | None,
        resident: bool,
    ) -> Any:
        """The ranking and which of its candidates pass the filters, as
        ``passing(ids)`` marks them (None: no filters)."""
        ids, scores, fields = self._ranking(q, resident)
        if passing is None:
            return ids, scores, np.ones(len(ids), dtype=bool), fields
        return ids, scores, passing(ids), fields

    def _passing(self, pred: Column, ids: np.ndarray) -> np.ndarray:
        """Which candidate ids pass ``pred``, by one job: the filtered
        corpus keeps the rows whose id is among the ≤ max(ladder)
        candidates — one ``IN`` list, a hash set in each task — so
        nothing as large as the allowed side, which approaches the full
        id column as selectivity → 1, is broadcast or collected."""
        if len(ids) == 0:
            return np.zeros(0, dtype=bool)
        listed = ", ".join(str(i) for i in ids.tolist())
        among = F.expr(f"`{self.id_col}` IN ({listed})")
        passing = np.fromiter(
            (
                r[0]
                for r in self.corpus.filter(pred & among)
                .select(self.id_col)
                .collect()
            ),
            np.int64,
        )
        return np.isin(ids, passing)

    def _rung(
        self, rung: int, q: Any, pred: Column | None, k: int, prepared: Any
    ) -> tuple[Sequence[int], Sequence[float], dict[str, Any]]:
        """Run one rung: ``(kept ids ≤ K, their scores, best first; own
        stats)``; ``pred`` is None on the tier route."""
        ids, scores, keep, fields = prepared
        kept = np.flatnonzero(keep[:rung])[:k]
        # K′ at the stopping rung — the reference logs the last rung,
        # not the ladder sum (quirk Q4; post_filter.py:101)
        return ids[kept], scores[kept], {"scored_vectors": rung, **fields}

    def _stop_note(self, rung: int) -> str:
        return f"ladder_stop={rung}"

    def search(self, qvec, filters, k):
        validate_K(k, self.n)
        q = ensure_unit_l2(qvec)
        validate_filters_schema(self.corpus.schema, filters)
        t0 = time.perf_counter()
        ladder = tuple(self.ladder)
        n_allowed = self.selectivity_hint if self.costed else None
        count = self.costed and n_allowed is None
        served = self._served()
        pred = passing = None
        if served is not None and served.holds(filters):
            tier = served.tier
            if filters:
                passing = partial(tier.passing, filters)
            prepared = self._prepare(q, passing, True)
            if count:
                n_allowed = tier.count_allowed(filters)
        else:
            pred = compile_filters(self.corpus.schema, filters)
            if filters:
                passing = partial(self._passing, pred)
            # the |allowed| count is independent of the prepare step, so
            # it runs alongside it; leaving the pool joins its worker, so
            # an error never orphans an in-flight count job
            with ThreadPoolExecutor(1) as pool:
                counted = (
                    pool.submit(allowed_count, self.corpus, filters, pred)
                    if count
                    else None
                )
                prepared = self._prepare(q, passing, False)
                if counted is not None:
                    n_allowed = counted.result()
        if n_allowed is not None:
            entry = ladder_entry(
                ladder, k, n_allowed, self._universe(), self._coverage
            )
            ladder = ladder[ladder.index(entry):]
        for rungs_run, rung in enumerate(ladder, 1):
            ids, scores, fields = self._rung(rung, q, pred, k, prepared)
            if len(ids) >= k:
                break
        route = fields.pop("route", None)
        latency_ms = (time.perf_counter() - t0) * 1000.0
        scores = [float(s) for s in scores]
        stats: dict[str, Any] = {
            "method": self.name,
            "K": k,
            "latency_ms": latency_ms,
            **fields,
            "kth_at_stop": scores[k - 1] if len(scores) >= k else None,
            "bound_at_stop": scores[-1] if scores else None,
            "scores": scores,
            "ladder_entry": ladder[0],
            "rungs_run": rungs_run,
            **(
                {"selectivity_est": n_allowed / self.n}
                if n_allowed is not None
                else {}
            ),
            "notes": self.compose_notes(route, self._stop_note(rung)),
        }
        return [int(i) for i in ids], stats


def collect_ranking(
    plan: DataFrame, k: int, id_col: str = "id"
) -> tuple[np.ndarray, np.ndarray]:
    """The ``(id, score)`` rows of ``plan``, collected: int64 ids and
    float64 scores of its top ``k``, best first."""
    rows = plan.collect()
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    scores = np.array([r["score"] for r in rows], dtype=np.float64)
    top = topk_positions(ids, scores, k)
    return ids[top], scores[top]


def get_backend(
    name: str,
    corpus: DataFrame,
    n: int | None = None,
    **kwargs: Any,
) -> SearchBackend:
    """Strategy registry (reference P5: src/harness/run.py:71-87)."""
    # imported here to avoid a hard cycle: ivf/lsh build on strategies' helpers
    from hybrid_vector_search_spark.operators.ivf import PostFilterBackend
    from hybrid_vector_search_spark.operators.lsh import LSHPostFilterBackend

    registry: dict[str, type[SearchBackend]] = {
        "exact": ExactBackend,
        "pre_filter": PreFilterBackend,
        "post_filter": PostFilterBackend,
        "post_filter_lsh": LSHPostFilterBackend,
        "random": RandomBackend,
    }
    if name not in registry:
        raise ValidationError(
            f"unknown backend '{name}' (choose from {sorted(registry)})"
        )
    return registry[name](corpus, n, **kwargs)


def choose_backend_costed(
    stats: Mapping[str, Mapping[str, Any]],
    filters: Mapping[str, Any] | None,
    nprobe: int,
    nlist: int,
) -> tuple[str, int]:
    """Cost-based pre_filter vs post_filter choice from column
    statistics — the reference's MANUAL ``--backend`` flag
    (src/harness/run.py:71-87) made into a planner decision, extending
    the stats-fed ladder entry (functions/colstats.py, VERDICT r8 next
    #7) one level up: not just *where to enter* the post-filter ladder
    but *whether to run it at all*.

    Cost model in scored vectors — each strategy's dominant term:

    * pre_filter scores exactly the |allowed| rows passing the filters
      (estimated from the same System-R arithmetic the ladder entry
      uses: ``estimate_allowed``);
    * post_filter's probe scores ≈ N·nprobe/nlist rows (the probed
      fraction of the corpus — bytes read ∝ nprobe/nlist on the
      persisted layout).

    Pick pre_filter iff ``est·nlist < N·nprobe`` — integer arithmetic
    with no floats beyond the estimate itself, so an ANSI-SQL oracle
    replays the whole decision. A wrong estimate degrades COST only,
    never correctness: both strategies return exact top-K over their
    candidate sets; pre_filter is always exact, and post_filter's
    ladder escalates until K survivors. Returns ``(backend_name,
    estimated_allowed)``."""
    from hybrid_vector_search_spark.functions.colstats import (
        estimate_allowed,
    )

    est = estimate_allowed(stats, filters)
    n = int(stats["__table__"]["count"])
    name = "pre_filter" if est * nlist < n * nprobe else "post_filter"
    return name, est


def load_corpus_index(
    corpus: DataFrame,
    n: int | None = None,
    prefer_ivf: bool = True,
    nlist: int | None = None,
    nprobe: int | None = None,
    id_col: str = "id",
) -> SearchBackend:
    """K6 index fallback chain (reference ``load_vectors_index``,
    src/dataio/loaders.py:176-218: IVF preferred → HNSW → Exact).

    Spark chain: IVF (MLlib KMeans post_filter) preferred; HNSW
    (per-partition graphs, operators/hnsw.py — the reference's second
    rung) when the IVF build is unavailable; LSH as a further stateless
    fallback; exact as the floor. The chain never raises for a missing
    ANN dependency: each rung's build is attempted eagerly so a failure
    falls through *here*, not mid-query, and the landed rung is recorded
    in ``backend.fallback_note`` (surfaced in the §2.10 ``notes`` stats
    field by ``search``)."""
    from hybrid_vector_search_spark.operators.ivf import (
        DEFAULT_NPROBE,
        PostFilterBackend,
    )
    from hybrid_vector_search_spark.operators.lsh import LSHPostFilterBackend

    if prefer_ivf:
        try:
            backend: SearchBackend = PostFilterBackend(
                corpus, n, id_col=id_col, nlist=nlist,
                nprobe=nprobe if nprobe is not None else DEFAULT_NPROBE,
            )
            backend.index  # build eagerly: fall through HERE on failure
            return backend
        except Exception as e:  # noqa: BLE001 — any build failure falls through
            note = f"ivf unavailable ({type(e).__name__}); fell back"
        else:  # pragma: no cover
            note = ""
    else:
        note = "ivf skipped (prefer_ivf=False)"
    try:
        from hybrid_vector_search_spark.operators.hnsw import HNSWBackend

        backend = HNSWBackend(corpus, n, id_col=id_col)
        backend.fallback_note = f"{note} to hnsw"
        return backend
    except Exception as e:  # noqa: BLE001
        note = f"{note} to hnsw ({type(e).__name__})"
    try:
        backend = LSHPostFilterBackend(corpus, n, id_col=id_col)
        backend.planes  # eager hyperplane build — same fall-through contract
        backend.fallback_note = f"{note} to lsh"
        return backend
    except Exception as e:  # noqa: BLE001
        backend = ExactBackend(corpus, n, id_col=id_col)
        backend.fallback_note = f"{note} to lsh ({type(e).__name__}) to exact"
        return backend


def get_index_params(index: Any) -> dict[str, Any]:
    """K7 introspection (reference ``get_index_params``, src/dataio/
    loaders.py:220-232): a small dict describing the ANN configuration,
    ``{"type": "exact"}`` when the object carries no ANN state. Accepts
    either a backend or a bare index object."""
    from hybrid_vector_search_spark.operators.hnsw import HNSWBackend
    from hybrid_vector_search_spark.operators.ivf import IVFIndex, PostFilterBackend
    from hybrid_vector_search_spark.operators.lsh import LSHPostFilterBackend

    try:
        if isinstance(index, PostFilterBackend):
            # introspect only already-built state: touching .index would
            # lazily trigger a full KMeans build — an expensive side
            # effect for a read-only helper (ADVICE r2 #3). Before the
            # first search, report the configured nlist, or — when it is
            # auto-sized at build time — the value the auto-size formula
            # will pick, so callers always see an int (the reference
            # contract: nlist is never null — ADVICE r3 #2).
            from hybrid_vector_search_spark.operators.ivf import default_nlist

            built = index._index
            nlist = built.nlist if built is not None else index._nlist
            if nlist is None:
                nlist = default_nlist(index.n)
            return {
                "type": "ivfflat",
                "nlist": int(nlist),
                "nprobe": int(index.nprobe),
            }
        if isinstance(index, IVFIndex):
            return {"type": "ivfflat", "nlist": int(index.nlist)}
        if isinstance(index, HNSWBackend):
            # reference shape: {"type": "hnsw", "ef_search": N}
            # (src/dataio/loaders.py:226-227)
            return {"type": "hnsw", "ef_search": int(index.ef_search)}
        if isinstance(index, LSHPostFilterBackend):
            return {
                "type": "lsh",
                "nbits": int(index.nbits),
                "radius_ladder": list(index.radius_ladder),
            }
    except Exception:  # pragma: no cover — mirror the reference's tolerance
        pass
    return {"type": "exact"}
