"""Spark-native IVF (inverted-file) ANN index + the post_filter strategy.

Reference K4 (src/dataio/loaders.py:106-120, 142-151) wraps FAISS
IndexIVFFlat: k-means coarse quantization into ``nlist`` lists, probe the
``nprobe`` nearest lists, exact inner product within probed lists. The
Spark-native translation (SURVEY.md §2.3 K4):

* **build** — MLlib ``KMeans(k=nlist)`` over the embedding column → assign
  each row its ``list_id`` → optionally persist as parquet
  ``partitionBy("list_id")``. The lists become physical partitions.
* **probe** — score the query against the tiny centroid matrix on the
  driver, pick the top-``nprobe`` list ids, then
  ``filter(col("list_id").isin(probed))``. On partitioned parquet this is
  native partition pruning: only probed lists are read — the I/O-skipping
  FAISS gets from its inverted lists, Spark gets from the file layout. At
  100 TB the probed fraction (nprobe/nlist) is exactly the fraction of
  bytes scanned.

Defaults mirror the reference: ``nlist ≈ √N`` clamped to [64, 4096]
(loaders.py:167-173), ``nprobe = 32`` (loaders.py:167), candidate ladder
``(200, 500, 1000)`` (src/backends/post_filter_backend.py:37).
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Iterator, Sequence
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

# module-level: pandas_udf resolves the Iterator[pd.Series] hints against
# module globals (PEP 563 strings under `from __future__ import annotations`)
import pandas as pd  # noqa: E402

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hybrid_vector_search_spark.errors import ValidationError
from hybrid_vector_search_spark.functions.predicates import compile_filters
from hybrid_vector_search_spark.functions.vector import dot_score_pandas_udf
from hybrid_vector_search_spark.operators.strategies import (
    LadderBackend,
    join_candidates,
)
from hybrid_vector_search_spark.operators.topk import topk, topk_positions

DEFAULT_NPROBE = 32
DEFAULT_K_LADDER = (200, 500, 1000)


def default_nlist(n: int) -> int:
    """``nlist ≈ √N`` clamped to [64, 4096], never exceeding N
    (reference: src/dataio/loaders.py:167-173)."""
    return max(1, min(max(int(n**0.5), 64), 4096, n))


def assign_list_udf(centroids: "np.ndarray"):
    """Pandas UDF assigning each embedding to its nearest fixed centroid:
    ``list_id = argmax_i ⟨embedding, centroid_i⟩`` — one GEMM per Arrow
    batch, ties to the lowest list index (np.argmax takes the first max,
    matching SQL ``list_position(d, list_max(d))``).

    STATELESS by construction — a pure function of (embedding, centroid
    literals) — which is what lets the same kernel run in a batch build
    (:meth:`IVFIndex.build_fixed`) and per micro-batch in a Structured
    Streaming ingest (plans/registry.py streaming_ivf_ingest): continuous
    index maintenance needs no state store and no rebuild, because the
    index IS the partitioned file layout."""
    from pyspark.sql import types as T

    cents = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.IntegerType())
    def _assign(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for batch in it:
            if len(batch) == 0:
                yield pd.Series([], dtype="int32")
                continue
            m = np.vstack(batch.to_numpy()).astype(np.float64)
            yield pd.Series((m @ cents.T).argmax(axis=1).astype("int32"))

    return _assign


class IVFIndex:
    """KMeans-clustered corpus with per-row ``list_id``; centroids live on
    the driver (nlist × D floats — the only driver-resident index state)."""

    def __init__(
        self,
        assigned: DataFrame,
        centroids: np.ndarray,
        id_col: str = "id",
        partitioned_path: str | None = None,
    ):
        self.assigned = assigned
        self.centroids = centroids.astype(np.float64)
        self.id_col = id_col
        self.partitioned_path = partitioned_path
        self._row_count: int | None = None
        self._serve_cache: OrderedDict = OrderedDict()
        self._serve_cache_bytes = 0

    @property
    def nlist(self) -> int:
        return int(self.centroids.shape[0])

    def row_count(self) -> int:
        """Indexed-row count, computed once per index object. The
        assigned rows are immutable for this object's lifetime (upserts
        build a NEW index / version), so re-running the count job per
        costed-dispatch call was pure overhead (guide §1.2)."""
        if self._row_count is None:
            self._row_count = int(self.assigned.count())
        return self._row_count

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        nlist: int | None = None,
        n: int | None = None,
        seed: int = 42,
        id_col: str = "id",
        persist_path: str | None = None,
    ) -> "IVFIndex":
        """Cluster embeddings with MLlib KMeans and attach ``list_id``.

        With ``persist_path``, lists are written as
        ``partitionBy("list_id")`` parquet and re-read — the scale path
        where probing prunes files. Without it the assigned DataFrame is
        cached in memory (test path).
        """
        try:
            from pyspark.ml.clustering import KMeans
            from pyspark.ml.functions import array_to_vector
        except ImportError as e:  # pragma: no cover
            raise ValidationError(f"pyspark.ml unavailable: {e}") from e

        if n is None:
            n = corpus.count()
        auto_sized = nlist is None
        if auto_sized:
            nlist = default_nlist(n)

        feats = corpus.withColumn("__features", array_to_vector("embedding"))
        # coarse quantization needs rough cells, not converged clusters —
        # few iterations, like FAISS's default clustering budget
        def _fit(k: int):
            km = KMeans(
                k=k, seed=seed, maxIter=8,
                featuresCol="__features", predictionCol="list_id",
            )
            return km.fit(feats)

        try:
            model = _fit(nlist)
        except Exception:
            # MLlib KMeans throws (ArrayIndexOutOfBounds) when k exceeds
            # the number of DISTINCT vectors — a real hazard for dedup
            # corpora, where duplicates are the point. The exact distinct
            # count is a full shuffle of the widest column, so it runs
            # only on this recovery path (ADVICE r3 #5), keeping the
            # common build one narrow count + the KMeans fit.
            if not auto_sized:
                raise
            n_distinct = corpus.select("embedding").distinct().count()
            nlist = default_nlist(min(n, n_distinct))
            model = _fit(nlist)
        centroids = np.vstack([np.asarray(c) for c in model.clusterCenters()])
        assigned = model.transform(feats).drop("__features")

        assigned = cls._materialize(assigned, persist_path, nlist=nlist)
        return cls(assigned, centroids, id_col=id_col, partitioned_path=persist_path)

    @staticmethod
    def _materialize(
        assigned: DataFrame, persist_path: str | None, nlist: int | None = None
    ) -> DataFrame:
        """Persist the assigned corpus: ``partitionBy("list_id")`` parquet
        when a path is given (the scale path — probing becomes native
        partition pruning, only probed list directories are read), else an
        in-memory cache (test path).

        The pre-write ``repartition(nlist, "list_id")`` is load-bearing:
        without it every upstream task writes its own sliver into every
        list directory (32 write partitions × nlist lists ≈ 12k tiny
        files at the reference shape), and the probed scan pays a
        file-open per sliver — measured 434.6 ms/query at the reference's
        150,346×384 corpus, 27.7× the FAISS baseline (BASELINE_PARITY.md
        r6). Hash-partitioning on the partition column first puts each
        list wholly inside one task, so the write emits exactly ONE file
        per list directory; a 32-list probe then opens 32 files instead
        of ~1,000. At 100 TB the same layout holds per list — and if a
        single list outgrows a healthy file size, ``maxRecordsPerFile``
        splits it without changing the pruning story (bytes read stays
        ∝ nprobe/nlist either way)."""
        if persist_path:
            writer = assigned
            if nlist:
                writer = assigned.repartition(nlist, "list_id")
            writer.write.mode("overwrite").partitionBy("list_id").parquet(
                persist_path
            )
            return assigned.sparkSession.read.parquet(persist_path)
        assigned = assigned.cache()
        assigned.count()  # materialize once
        return assigned

    @classmethod
    def build_fixed(
        cls,
        corpus: DataFrame,
        centroids: "np.ndarray",
        id_col: str = "id",
        persist_path: str | None = None,
    ) -> "IVFIndex":
        """IVF with a FIXED coarse quantizer: ``list_id = argmax_i
        ⟨embedding, centroid_i⟩`` over caller-supplied centroids.

        FAISS's IndexIVF accepts any coarse quantizer (the KMeans one in
        :meth:`build` is just the default — reference src/dataio/
        loaders.py:106-120); a seeded-centroid quantizer keeps the
        identical physical plan (assign → prune probed lists → exact
        scoring within) while making the assignment a pure function of
        (embedding, centroid literals). That determinism is what lets
        plans/registry.py give the ANN query a full value-hash DuckDB
        oracle — the oracle replays the same argmax assignment in SQL —
        instead of an unverifiable no-oracle row. One Arrow pass, one
        GEMM per batch; ties broken toward the lowest list index in both
        engines (np.argmax / list_position both take the first max)."""
        cents = np.asarray(centroids, dtype=np.float64)
        assigned = corpus.withColumn(
            "list_id", assign_list_udf(cents)(F.col("embedding"))
        )
        assigned = cls._materialize(
            assigned, persist_path, nlist=int(cents.shape[0])
        )
        return cls(assigned, cents, id_col=id_col, partitioned_path=persist_path)

    def probe(self, qvec: Sequence[float], nprobe: int = DEFAULT_NPROBE) -> list[int]:
        """Driver-side probe planner: top-``nprobe`` centroid lists by inner
        product. Parameterizes the plan; Catalyst's partition pruning does
        the I/O skipping (SURVEY.md §4)."""
        q = np.asarray(qvec, dtype=np.float64).reshape(-1)
        scores = self.centroids @ q
        nprobe = min(nprobe, self.nlist)
        # stable argsort, NOT argpartition: an exact score tie at the
        # nprobe boundary must resolve identically to the registry's
        # oracle-side probe computation (_ann_ivf_probed uses the same
        # stable ordering), so plan and oracle always probe the same
        # lists (ADVICE r2 #2). nlist is small; O(n log n) is free.
        idx = np.argsort(-scores, kind="stable")[:nprobe]
        return [int(i) for i in idx]

    def serve_local_topk(
        self,
        qvec: Sequence[float],
        k: int,
        nprobe: int = DEFAULT_NPROBE,
    ) -> list[tuple[int, float]]:
        """DRIVER-LOCAL point-query serving over the persisted layout:
        read ONLY the probed ``list_id=`` directories via Arrow — no
        Spark job, no task dispatch — and score float64 in numpy.

        Why it exists: a single-point ANN probe is bounded below by
        Spark's per-job launch floor (~60-100 ms on this host;
        BASELINE_PARITY.md), which an in-process FAISS probe (15.7 ms)
        never pays. But the probe's I/O is nprobe/nlist of the corpus —
        a few small parquet files — and the layout Spark wrote is plain
        parquet, so a serving tier can answer the q=1 shape the same
        way FAISS does: open the probed lists in-process and GEMM. Same
        artifacts, same probe planner, same float64 scoring and
        (score DESC, id ASC) tiebreak as :meth:`search_plan` — the
        registry pins it to the same DuckDB oracle as the Spark plan.
        Falls back loudly when the index has no persisted layout; the
        micro-batch Spark path stays the answer for q ≥ 2 and the only
        answer when the serving node cannot see the storage directly."""
        ids, scores, _ = self.local_ranking(qvec, k, nprobe)
        return [(int(i), float(s)) for i, s in zip(ids, scores)]

    def local_ranking(
        self,
        qvec: Sequence[float],
        k: int,
        nprobe: int = DEFAULT_NPROBE,
    ) -> tuple[np.ndarray, np.ndarray, int]:
        """:meth:`serve_local_topk` as arrays: ``(ids, scores, rows
        scored)``, best first."""
        if self.partitioned_path is None:
            raise ValidationError(
                "serve_local_topk requires a persisted partitioned "
                "layout (IVFIndex.build*(persist_path=...))"
            )
        q = np.asarray(qvec, dtype=np.float64).reshape(-1)
        # an empty list has no directory: the writer emitted none
        blocks = [
            b for b in self._serve_blocks(self.probe(qvec, nprobe))
            if b is not None
        ]
        if not blocks:
            return np.zeros(0, np.int64), np.zeros(0), 0
        ids = np.concatenate([b[0] for b in blocks])
        scores = np.concatenate([b[1] @ q for b in blocks])
        top = topk_positions(ids, scores, k)
        return ids[top], scores[top], len(ids)

    def serve_local_batch(
        self,
        qvecs: dict,
        k: int,
        nprobe: int = DEFAULT_NPROBE,
    ) -> list[tuple[int, int, float]]:
        """Multi-query form of :meth:`serve_local_topk`: one GEMM per
        hot block against the stacked query matrix, per-query merge —
        (qid, id, score) rows. Same probe planner/scoring/tiebreak as
        the Spark micro-batch plan (registry ann_ivf_microbatch_topk),
        so the serving tier can run EITHER execution depending on
        where it sits relative to the storage."""
        qids = sorted(qvecs)
        qmat = np.vstack(
            [np.asarray(qvecs[qid], dtype=np.float64) for qid in qids]
        )  # (Q, D)
        probes = {qid: self.probe(qvecs[qid], nprobe) for qid in qids}
        union = sorted({li for p in probes.values() for li in p})
        blocks = {
            li: b
            for li, b in zip(union, self._serve_blocks(union))
            if b is not None
        }
        out: list[tuple[int, int, float]] = []
        for qi, qid in enumerate(qids):
            mine = [blocks[li] for li in probes[qid] if li in blocks]
            if not mine:
                continue
            ids = np.concatenate([b[0] for b in mine])
            scores = np.concatenate([b[1] @ qmat[qi] for b in mine])
            top = topk_positions(ids, scores, k)
            out.extend(
                (qid, int(ids[i]), float(scores[i])) for i in top
            )
        return out

    # serving-tier block cache: hot probed lists stay RAM-resident as
    # (ids, float64 embedding matrix) — the in-process residency the
    # reference's 15.7 ms/query assumes (its FAISS index holds the WHOLE
    # corpus in memory; this holds at most SERVE_CACHE_BYTES of lists,
    # LRU, sized as ann_serve_or_plan estimates them: rows × (D×8 + 8)).
    # A list is upcast from the layout's float32 once, when it is read
    # (exact, so scores are those of scoring float32 upcast per query);
    # steady-state serving is GEMV + merge. A post-filter search on the
    # tier route reads the whole layout once when it fits this budget
    # (PostFilterBackend._ranking).
    SERVE_CACHE_BYTES = 1 << 30

    def _serve_blocks(self, list_ids: Sequence[int]) -> list:
        """The cached ``(ids, matrix)`` block of each list in
        ``list_ids`` (None for a list with no directory), reading the
        missed lists concurrently: the Arrow decode releases the GIL."""
        cache = self._serve_cache
        got = {}
        for li in list_ids:
            if li in cache:
                cache.move_to_end(li)
                got[li] = cache[li][0]
        missed = [li for li in dict.fromkeys(list_ids) if li not in got]
        if missed:
            # at most 8 reads in flight: each is a few small files
            with ThreadPoolExecutor(min(len(missed), 8)) as pool:
                got.update(zip(missed, pool.map(self._read_block, missed)))
        for li in missed:
            blk = got[li]
            nbytes = 0 if blk is None else blk[0].nbytes + blk[1].nbytes
            while cache and (
                self._serve_cache_bytes + nbytes > self.SERVE_CACHE_BYTES
            ):
                _, (_, old_b) = cache.popitem(last=False)
                self._serve_cache_bytes -= old_b
            cache[li] = (blk, nbytes)
            self._serve_cache_bytes += nbytes
        return [got[li] for li in list_ids]

    def _read_block(self, list_id: int):
        import os

        import pyarrow.parquet as pq

        d = os.path.join(self.partitioned_path, f"list_id={list_id}")
        if not os.path.isdir(d):
            return None
        t = pq.read_table(d, columns=[self.id_col, "embedding"])
        ids = t.column(self.id_col).to_numpy()
        flat = t.column("embedding").combine_chunks().flatten()
        return ids, np.asarray(flat, dtype=np.float64).reshape(len(t), -1)

    def search_plan(
        self,
        qvec: Sequence[float],
        k: int,
        nprobe: int = DEFAULT_NPROBE,
        jvm_score: bool = True,
    ) -> tuple[DataFrame, list[int]]:
        """ANN top-K plan: prune to probed lists → exact IP within → top-K.

        Scoring regime is latency-tuned: the probed subset is
        nprobe/nlist-bounded (7-8% of the corpus at reference settings),
        and for a POINT query the Arrow round trip of a pandas UDF
        dominates the GEMM it buys — the r7 profile at the reference
        shape measured 338 ms for the UDF plan vs 73 ms for the same
        top-K with the dot product as a JVM ``zip_with``/``aggregate``
        expression (whole-stage codegen, no Python worker in the plan).
        ``jvm_score=False`` restores the Arrow-GEMM kernel — the right
        regime when one plan scores MANY queries per scanned row (the
        batch path, functions/vector.py per_qid_dot_scores) or when
        per-row array allocation in codegen would GC-thrash (very wide
        probed scans feeding further pipeline stages)."""
        from hybrid_vector_search_spark.functions.vector import (
            dot_score_column,
        )

        probed = self.probe(qvec, nprobe)
        pruned = self.assigned.filter(F.col("list_id").isin(probed))
        if jvm_score:
            score = dot_score_column(qvec)
        else:
            score = dot_score_pandas_udf(qvec)(F.col("embedding"))
        scored = pruned.select(F.col(self.id_col), score.alias("score"))
        return topk(scored, k, id_col=self.id_col), probed


class PostFilterBackend(LadderBackend):
    """P3: IVF ANN candidates over the full corpus, escalating K′ ladder,
    keep candidates passing the filters, stop when ≥K kept
    (reference src/baselines/post_filter.py:17-109). The ladder, its
    costed entry, the filter membership and the stats are
    :class:`LadderBackend`'s; this class supplies the IVF candidate
    ranking.

    One ranking per search, at K′ = max(ladder): with a fixed probe set a
    rung's top-K′ is the K′-prefix of the top max(ladder), so each rung
    is a slice and the final rung's survivors are the reference's
    best-score-dedup union (A5) without re-accumulating. The ranking
    is ``CostedAnnServe.ranking`` of the dispatch
    :func:`serving.ann_serve_or_plan` builds for the index — the one
    place the ANN route is chosen: on ``local_probe`` (a persisted
    layout whose probed lists fit the serve budget) from
    :meth:`IVFIndex.local_ranking` — an Arrow read of the probed lists,
    cached across queries, and no Spark job; else from one collect of
    :meth:`IVFIndex.search_plan`. ``notes`` lead with that route
    (``route=local_probe(nprobe=…)`` or ``route=distributed(nprobe=…)``)
    ahead of ``ladder_stop=``. On a corpus the
    serve tier holds, a search then submits no Spark job at all — the
    reference's in-memory metadata gather — and the first such search
    on ``local_probe`` reads every list once, when the whole float64
    layout (N × (D×8 + 8) bytes) fits ``IVFIndex.SERVE_CACHE_BYTES``: the
    reference's index held whole in memory, so no later query reads a
    probed list cold. Scores on the local route are numpy's float64
    GEMV, equal to the plan's sequential float64 sum to ~1e-16."""

    name = "post_filter"

    def __init__(
        self,
        corpus: DataFrame,
        n: int | None = None,
        id_col: str = "id",
        index: IVFIndex | None = None,
        nlist: int | None = None,
        nprobe: int = DEFAULT_NPROBE,
        k_ladder: Sequence[int] = DEFAULT_K_LADDER,
        seed: int = 42,
        costed: bool = False,
        selectivity_hint: int | None = None,
    ):
        super().__init__(corpus, n, id_col, costed, selectivity_hint)
        self.nprobe = nprobe
        self.k_ladder = tuple(k_ladder)
        self._index = index
        self._nlist = nlist
        self._seed = seed
        self._layout_read = False

    @property
    def index(self) -> IVFIndex:
        if self._index is None:
            self._index = IVFIndex.build(
                self.corpus, nlist=self._nlist, n=self.n, seed=self._seed,
                id_col=self.id_col,
            )
        return self._index

    def plan(self, qvec, filters, k, kprime: int | None = None):
        """One ladder rung as a composable plan: ANN candidates → join
        against the allowed set → top-K."""
        kprime = kprime or max(self.k_ladder)
        candidates, _probed = self.index.search_plan(qvec, kprime, self.nprobe)
        pred = compile_filters(self.corpus.schema, filters)
        kept = join_candidates(self.corpus, pred, candidates, self.id_col)
        return topk(kept, k, id_col=self.id_col), None

    def _ranking(self, q, resident):
        from hybrid_vector_search_spark.serving import ann_serve_or_plan

        index = self.index
        served = ann_serve_or_plan(index, self.nprobe, n=self.n)
        if served.route == "local_probe" and resident and not self._layout_read:
            d = int(index.centroids.shape[1])
            if self.n * (d * 8 + 8) <= index.SERVE_CACHE_BYTES:
                index._serve_blocks(range(index.nlist))
            self._layout_read = True
        ids, scores, _ = served.ranking(q, max(self.k_ladder))
        return ids, scores, {
            "lists_probed": min(self.nprobe, index.nlist),
            "nprobe": self.nprobe,
            "route": served.note,
        }


#: begin/commit marker for the upsert's apply window. Underscore-prefixed
#: → invisible to Spark's file index, like _SUCCESS.
_UPSERT_PENDING = "_UPSERT_PENDING.json"


@contextmanager
def _dynamic_overwrite(spark: SparkSession):
    """Scope ``partitionOverwriteMode=dynamic``, restoring the prior
    session value (or unsetting) on exit."""
    _MODE_KEY = "spark.sql.sources.partitionOverwriteMode"
    conf = spark.conf
    try:
        prev = conf.get(_MODE_KEY)
    except Exception:
        prev = None
    conf.set(_MODE_KEY, "dynamic")
    try:
        yield
    finally:
        if prev is not None:
            conf.set(_MODE_KEY, prev)
        else:
            conf.unset(_MODE_KEY)


def recover_pending_upsert(spark: SparkSession, path: str) -> bool:
    """Complete a crashed :func:`upsert_partitioned` apply, if one is
    pending. Returns True when recovery ran.

    The upsert's apply window (dynamic partition overwrite → rmtree of
    emptied list dirs) is bracketed by a ``_UPSERT_PENDING.json`` marker
    holding the staged-batch path and the emptied list ids. A crash
    anywhere inside the window leaves the marker behind; replaying from
    the immutable staged batch is idempotent, so recovery simply redoes
    the whole apply: re-overwrite the touched partitions from the stage
    (when it still exists), drop the emptied dirs, remove the marker.
    Without this, a crash between overwrite-commit and rmtree left a
    fully-deleted list's directory on disk and probes silently returned
    deleted ids (VERDICT r7 "what's wrong" #3). Plain-parquet caveat
    stands: partition overwrite is not atomic ACROSS partitions — a
    table format's MERGE is the 100-TB answer; this marker closes the
    stale-rows window, which is the silent-wrong-answer hazard."""
    import json
    import os
    import shutil

    marker = os.path.join(path, _UPSERT_PENDING)
    if not os.path.exists(marker):
        return False
    with open(marker, encoding="utf-8") as f:
        info = json.load(f)
    stage = info.get("stage")
    if not (stage and os.path.isdir(stage)):
        # The staged batch is GONE (e.g. scratch cleanup ran after the
        # crash): the replay is impossible and we cannot know how much
        # of the apply committed. Completing the marker anyway would
        # SILENTLY drop the batch's deletes/upserts in every list whose
        # overwrite didn't land — the exact wrong-answers hazard this
        # protocol exists to close. Fail loudly and leave the marker:
        # the operator restores the staged batch (or rebuilds the
        # touched lists from the source of truth) before probing again.
        raise ValidationError(
            f"pending upsert at '{path}' cannot be replayed: staged "
            f"batch '{stage}' is missing. Restore it or rebuild the "
            f"touched lists; refusing to expose a half-applied layout."
        )
    staged = spark.read.parquet(stage).repartition(
        max(int(info.get("n_touched", 1)), 1), "list_id"
    )
    with _dynamic_overwrite(spark):
        staged.write.mode("overwrite").partitionBy("list_id").parquet(
            path
        )
    for li in info.get("emptied", []):
        shutil.rmtree(
            os.path.join(path, f"list_id={li}"), ignore_errors=True
        )
    os.remove(marker)
    return True


def open_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Open a persisted ``partitionBy("list_id")`` layout for probing,
    first completing any crashed upsert apply (see
    :func:`recover_pending_upsert`) so readers never see a half-applied
    batch's stale rows."""
    recover_pending_upsert(spark, path)
    return spark.read.parquet(path)


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    centroids: "np.ndarray",
    upserts: DataFrame,
    delete_ids: DataFrame,
    id_col: str = "id",
) -> DataFrame:
    """Apply an upsert/delete batch to a persisted ``partitionBy
    ("list_id")`` layout by rewriting ONLY the touched list partitions —
    the index-maintenance operation FAISS answers with a full rebuild
    (its IndexIVF is a mutable in-memory structure; reference
    src/dataio/loaders.py:106-120 constructs it from the whole matrix).

    Touched lists = lists receiving new/replacement rows ∪ lists holding
    rows being removed; everything else is untouched bytes. The write
    uses ``partitionOverwriteMode=dynamic`` so only partitions present
    in the output frame are replaced; per-batch cost is
    O(|touched lists| · rows-per-list), independent of nlist and corpus
    size. Two bounded driver collects (touched list ids, ≤ nlist each).
    The rebuilt rows stage through scratch parquet first — Spark refuses
    a plan that reads the path it overwrites, and at 100 TB this staging
    hop is where a table format's MERGE/commit protocol slots in. A
    touched list left EMPTY is removed explicitly (dynamic overwrite
    only replaces partitions it writes; an empty result writes nothing
    and would leave stale rows behind).

    Crash safety: the apply window (overwrite → emptied-dir cleanup) is
    bracketed by a ``_UPSERT_PENDING.json`` begin/commit marker; a crash
    inside it is repaired on the next :func:`open_partitioned` /
    :func:`upsert_partitioned` call by idempotent replay from the staged
    batch (:func:`recover_pending_upsert`). Directory ops are
    ``os``/``shutil`` — local/POSIX filesystems; object storage wants a
    table format's transactional commit instead of this marker."""
    import json
    import os
    import shutil

    from hybrid_vector_search_spark.scratch import scratch_path

    recover_pending_upsert(spark, path)  # never stack a batch on a crash
    cents = np.asarray(centroids, dtype=np.float64)
    assigned_new = upserts.withColumn(
        "list_id", assign_list_udf(cents)(F.col("embedding"))
    )
    layout = spark.read.parquet(path)
    removed = delete_ids.select(id_col).unionByName(
        upserts.select(id_col)
    )
    old_touched = (
        layout.join(F.broadcast(removed), id_col, "left_semi")
        .select("list_id")
        .distinct()
    )
    new_touched = assigned_new.select("list_id").distinct()
    touched = sorted(
        r["list_id"]
        for r in old_touched.unionByName(new_touched).distinct().collect()
    )
    if not touched:
        return layout
    surviving = layout.filter(F.col("list_id").isin(touched)).join(
        F.broadcast(removed), id_col, "left_anti"
    )
    out = surviving.unionByName(assigned_new)
    stage = scratch_path("ivf_upsert_stage")
    out.repartition(len(touched), "list_id").write.mode(
        "overwrite"
    ).parquet(stage)
    # re-shuffle the staged READ by list_id too: a staged file larger
    # than maxPartitionBytes splits at row-group boundaries on read-back,
    # and without this the final write would emit one file per SPLIT —
    # breaking the one-file-per-list contract at scale (ADVICE r7 #3)
    staged = spark.read.parquet(stage).repartition(
        len(touched), "list_id"
    )
    present = {
        r["list_id"] for r in staged.select("list_id").distinct().collect()
    }
    emptied = sorted(set(touched) - present)
    # ---- begin marker: everything from here to marker removal is the
    # replayable apply window
    marker = os.path.join(path, _UPSERT_PENDING)
    with open(marker, "w", encoding="utf-8") as f:
        json.dump(
            {"stage": stage, "n_touched": len(touched), "emptied": emptied},
            f,
        )
    with _dynamic_overwrite(spark):
        staged.write.mode("overwrite").partitionBy("list_id").parquet(path)
    for li in emptied:  # emptied lists: drop the stale dir
        shutil.rmtree(
            os.path.join(path, f"list_id={li}"), ignore_errors=True
        )
    os.remove(marker)  # ---- commit
    return spark.read.parquet(path)


def compact_partitions(
    spark: SparkSession,
    path: str,
    max_files_per_partition: int = 1,
    partition_col: str = "list_id",
) -> dict[str, int]:
    """Partition-local small-files compaction for ANY hive-partitioned
    parquet layout — IVF lists (``list_id``, the default), LSH/BM25
    buckets (``partition_col="bucket"`` — each postings append adds one
    file per touched bucket), or any other partitioned ingest target:
    every append/micro-batch adds files per touched partition, and read
    amplification creeps back exactly the way the r6 layout bug
    demonstrated (file-opens, not bytes, dominate pruned point reads).

    Partitions at or under ``max_files_per_partition`` are NOT touched —
    compaction cost is O(oversized partitions), and healthy partitions
    stay byte-identical (no churn for downstream caches or object-store
    versioning). Oversized partitions are rewritten through scratch
    staging + dynamic partition overwrite with ``maxRecordsPerFile``
    unset and one task per partition, yielding one file each. Returns
    ``{"compacted_lists": n, "files_before": a, "files_after": b}``."""
    import os

    from hybrid_vector_search_spark.scratch import scratch_path

    def _files(d: str) -> list[str]:
        return [
            f
            for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(".")
        ]

    if os.path.isdir(os.path.join(path, "_spark_metadata")):
        # a streaming file sink's exactly-once view is DEFINED by its
        # commit log: files this compactor writes would be invisible to
        # log-based reads and removed files would break resume. Refusing
        # is the only honest move on plain parquet — a table format
        # (where compaction is a transaction) is the production answer.
        raise ValidationError(
            "refusing to compact a streaming-sink layout (_spark_metadata "
            "present): rewrite would diverge from the sink's commit log. "
            "Drain to a new layout or use a transactional table format."
        )
    part_dirs = {
        name.split("=", 1)[1]: os.path.join(path, name)
        for name in os.listdir(path)
        if name.startswith(f"{partition_col}=")
    }
    files_before = {li: len(_files(d)) for li, d in part_dirs.items()}
    oversized = sorted(
        li
        for li, c in files_before.items()
        if c > max_files_per_partition
    )
    if not oversized:
        return {
            "compacted_lists": 0,
            "files_before": sum(files_before.values()),
            "files_after": sum(files_before.values()),
        }
    layout = spark.read.parquet(path)
    stage = scratch_path("ivf_compact_stage")
    layout.filter(
        F.col(partition_col).cast("string").isin(oversized)
    ).repartition(len(oversized), partition_col).write.mode(
        "overwrite"
    ).parquet(stage)
    # re-shuffle the staged READ by list_id: a staged file larger than
    # maxPartitionBytes splits at row-group boundaries on read-back, and
    # each split would otherwise become its own final file — violating
    # the one-file-per-list contract for exactly the oversized lists the
    # compactor exists to fix (ADVICE r7 #3)
    staged = spark.read.parquet(stage).repartition(
        len(oversized), partition_col
    )
    with _dynamic_overwrite(spark):
        staged.write.mode("overwrite").partitionBy(partition_col).parquet(
            path
        )
    files_after = {li: len(_files(d)) for li, d in part_dirs.items()}
    return {
        "compacted_lists": len(oversized),
        "files_before": sum(files_before.values()),
        "files_after": sum(files_after.values()),
    }


def compact_streaming_layout(
    spark: SparkSession,
    sink_path: str,
    probe_root: str,
) -> dict[str, int]:
    """Drain-and-swap maintenance for a streaming IVF ingest
    (plans/registry.py ``streaming_ivf_ingest``): read the sink through
    its exactly-once commit log, write a compacted ONE-file-per-list
    batch layout, and atomically swap it in as the probe root.

    Division of labor (the piece r7 left open — ``compact_partitions``
    rightly refuses ``_spark_metadata`` layouts, but the streaming sink
    accumulates one file per touched list per micro-batch forever):

    * the SINK stays append-only and log-consistent — the running stream
      and its checkpoint are never touched, so ingest needs no pause
      beyond "no compaction mid-micro-batch is observed" (the commit log
      makes half-written batch files invisible to this read);
    * the PROBE ROOT is a plain ``partitionBy("list_id")`` batch layout,
      refreshed by each drain: point-probe cost stays ∝ probed lists ×
      one file, however many micro-batches have landed;
    * the swap is two directory renames (stage → root via an ``.old``
      hop) bracketed by a ``<probe_root>.COMPACT_PENDING.json`` marker
      — the same begin/commit protocol as the upsert and BM25-append
      siblings (:func:`recover_pending_upsert`, operators/bm25.py
      recover_pending_append): readers either see the previous layout
      or the new one, never a mix, and a crash ANYWHERE between marker
      creation and removal is repaired by idempotent replay on the
      next drain or probe (:func:`recover_pending_compaction`) instead
      of leaving no probe root behind.

    At 100 TB the same split is how LSM-style vector stores serve under
    continuous ingest (sink = WAL tier, probe root = compacted tier);
    a transactional table format would replace the rename pair with a
    metadata commit. Freshness contract: probes over ``probe_root`` see
    data as of the LAST drain — the returned ``drained_batch_id`` (the
    sink's highest committed micro-batch id at drain time) makes that
    contract MEASURABLE: compare it against
    :func:`sink_latest_batch_id` to know how many micro-batches a probe
    root is behind, and re-drain when the lag exceeds the freshness
    SLO. Callers needing read-your-writes probe the sink path
    (log-consistent but file-fragmented) instead.

    Returns ``{"lists": L, "files": F, "source_batches": B,
    "drained_batch_id": max committed batch id}``.
    """
    import json
    import os
    import shutil
    import uuid

    if not os.path.isdir(os.path.join(sink_path, "_spark_metadata")):
        raise ValidationError(
            "compact_streaming_layout expects a streaming file-sink "
            "layout (_spark_metadata present); use compact_partitions "
            "for plain batch layouts"
        )
    # never stack a new drain on a crashed swap: finish it first
    recover_pending_compaction(probe_root)
    # freshness watermark BEFORE the drain read: the drain sees at least
    # these commits, so advertising this id never overstates freshness
    # (a micro-batch landing mid-drain is credited to the next drain)
    drained_batch_id = sink_latest_batch_id(sink_path)
    # exactly-once view: a batch read of a file-sink directory resolves
    # through _spark_metadata, so uncommitted/orphaned files are invisible
    drained = spark.read.parquet(sink_path)
    lists = sorted(
        r["list_id"]
        for r in drained.select("list_id").distinct().collect()
    )
    n_lists = max(len(lists), 1)
    stage = f"{probe_root}.stage-{uuid.uuid4().hex[:12]}"
    drained.repartition(n_lists, "list_id").write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(stage)
    old = f"{probe_root}.old-{uuid.uuid4().hex[:12]}"
    # begin marker: from here to marker removal, every step is a pure
    # file move replayable from the immutable stage (see
    # recover_pending_compaction for the per-state replay argument)
    marker = probe_root + _COMPACT_PENDING_SUFFIX
    with open(marker, "w", encoding="utf-8") as f:
        json.dump({"stage": stage, "old": old}, f)
    if os.path.isdir(probe_root):
        os.rename(probe_root, old)
    os.rename(stage, probe_root)
    shutil.rmtree(old, ignore_errors=True)
    os.remove(marker)  # commit: swap complete, old layout gone
    n_files = sum(
        1
        for entry in os.scandir(probe_root)
        if entry.name.startswith("list_id=")
        for f in os.listdir(entry.path)
        if f.endswith(".parquet")
    )
    meta_dir = os.path.join(sink_path, "_spark_metadata")
    n_batches = sum(
        1 for f in os.listdir(meta_dir) if f.split(".")[0].isdigit()
    )
    return {
        "lists": len(lists),
        "files": n_files,
        "source_batches": n_batches,
        "drained_batch_id": drained_batch_id,
    }


#: begin/commit marker for the drain-and-swap window, placed BESIDE the
#: probe root (the root itself is renamed away mid-swap).
_COMPACT_PENDING_SUFFIX = ".COMPACT_PENDING.json"


def sink_latest_batch_id(sink_path: str) -> int:
    """Highest committed micro-batch id in a streaming file sink's
    ``_spark_metadata`` commit log (-1 when no batch has committed) —
    the sink side of the probe root's freshness contract: a probe root
    whose ``drained_batch_id`` trails this value is stale by exactly
    the in-between micro-batches, and the caller decides whether that
    violates its SLO (then re-drain) or not (serve as-of the drain)."""
    import os

    meta_dir = os.path.join(sink_path, "_spark_metadata")
    if not os.path.isdir(meta_dir):
        # fresh sink dir (or pre-first-commit call): no commit log yet
        # is the same freshness fact as an empty one
        return -1
    ids = [
        int(f.split(".")[0])
        for f in os.listdir(meta_dir)
        if f.split(".")[0].isdigit()
    ]
    return max(ids) if ids else -1


def recover_pending_compaction(probe_root: str) -> bool:
    """Complete a crashed :func:`compact_streaming_layout` swap, if one
    is pending. Returns True when recovery ran.

    The swap window (rename root → .old, rename stage → root, drop
    .old) is bracketed by a ``.COMPACT_PENDING.json`` marker beside the
    probe root. Every reachable crash state replays idempotently:

    * stage still present — the swap never completed: move any live
      root aside (the crash may have happened before the first rename)
      and promote the stage, exactly the steps the drain would run;
    * stage gone, root present — the swap completed but the crash hit
      before cleanup: just drop the ``.old`` hop and the marker;
    * stage gone, root gone — nothing to replay from (both the staged
      and previous layouts lost): raise loudly rather than let probes
      fail with a confusing missing-path error. The ``.old`` dir, when
      it survived, is named in the message for manual restore.

    Pure ``os``-level repair (no SparkSession) so probe-open paths can
    run it unconditionally — the "auto-replay on next probe/compaction"
    half of the protocol (VERDICT r8 what's-wrong #1)."""
    import json
    import os
    import shutil

    marker = probe_root + _COMPACT_PENDING_SUFFIX
    if not os.path.exists(marker):
        return False
    with open(marker, encoding="utf-8") as f:
        info = json.load(f)
    stage, old = info.get("stage"), info.get("old")
    if stage and os.path.isdir(stage):
        if os.path.isdir(probe_root):
            os.rename(probe_root, old)
        os.rename(stage, probe_root)
    elif not os.path.isdir(probe_root):
        hint = (
            f" Previous layout may survive at '{old}'."
            if old and os.path.isdir(old)
            else ""
        )
        raise ValidationError(
            f"pending compaction at '{probe_root}' cannot be replayed: "
            f"staged layout '{stage}' is missing and no live root "
            f"exists. Re-drain the sink.{hint}"
        )
    if old and os.path.isdir(old):
        shutil.rmtree(old, ignore_errors=True)
    os.remove(marker)
    return True


def open_streaming_probe_root(spark: SparkSession, probe_root: str) -> DataFrame:
    """Open a drain-and-swap probe root, first completing any crashed
    swap (see :func:`recover_pending_compaction`) — the
    :func:`open_partitioned` contract, streaming-maintenance edition."""
    recover_pending_compaction(probe_root)
    return spark.read.parquet(probe_root)


def assignment_drift_psi(emb1, emb2, centroids, id_col: str = "id") -> float:
    """PSI between the list-assignment histograms of two corpus
    versions under ONE fixed centroid set — the distribution-shift half
    of INDEX-STALENESS monitoring (the coverage half is the unindexed
    fraction, computed from plain counts). +1-smoothed over nlist bins,
    same formula as the snapshot/sketch drift family
    (plans/registry_lakehouse.py corpus_snapshot_drift_psi). Driver
    state is 2 × nlist count rows; each histogram is one grouped
    aggregate over an assignment scan — the shape that survives 100 TB
    because the histogram, not the corpus, crosses to the driver."""
    import math

    cents = np.asarray(centroids, dtype=np.float64)
    L = int(cents.shape[0])

    def hist(df) -> tuple[dict[int, int], int]:
        rows = (
            df.select(
                assign_list_udf(cents)(F.col("embedding")).alias("l")
            )
            .groupBy("l")
            .count()
            .collect()
        )  # bounded: ≤ nlist rows
        h = {int(r["l"]): int(r["count"]) for r in rows}
        return h, sum(h.values())

    h1, t1 = hist(emb1)
    h2, t2 = hist(emb2)
    psi = 0.0
    for li in range(L):
        p1 = (h1.get(li, 0) + 1.0) / (t1 + L)
        p2 = (h2.get(li, 0) + 1.0) / (t2 + L)
        psi += (p2 - p1) * math.log(p2 / p1)
    return psi
