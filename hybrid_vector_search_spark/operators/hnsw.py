"""K5: HNSW approximate nearest neighbor — per-partition graphs, global
top-K merge.

Reference parity: ``src/dataio/loaders.py:123-139`` (``_HNSWWrapper`` —
inner-product HNSW search with an ``ef_search`` knob) and ``:154-163``
(``_build_faiss_hnsw_ip`` — FAISS ``HNSW{m}``, ``METRIC_INNER_PRODUCT``).
The reference builds ONE driver-memory FAISS graph over the whole corpus;
that shape cannot hold 100 TB. The Spark-native shape is the standard
distributed ANN decomposition:

* each PARTITION builds a navigable-small-world graph over its own rows
  and answers with its local approximate top-K (``mapInPandas`` — one
  Arrow pass, graph lives only for the task's lifetime);
* the global answer is ``TakeOrderedAndProject`` over the ≤ K·partitions
  candidate rows — the same merge the IVF/LSH paths use.

Per-partition recall composes: the true global top-K rows each live in
some partition, so global recall ≥ min per-partition recall (misses only
when a partition's own graph misses its local winner). FAISS/hnswlib are
not available in this environment, so the graph is a seeded pure-numpy
implementation of the HNSW insert/search algorithm (Malkov & Yashunin,
arXiv:1603.09320): exponential level assignment, greedy descent through
upper layers, beam (ef) search at layer 0. Level draws derive from a
SHA-256 digest of the row id — build order and partitioning never change
a node's level, keeping graphs reproducible for a fixed layout.

At 100 TB: build each partition's graph OFFLINE at ingest and search
against the persisted artifact — that split is implemented here:

* :class:`HNSWIndex.build` runs ONE ``mapInPandas`` pass that builds
  every partition's graph and writes (ids, vectors, adjacency arrays,
  entry point) to parquet — the index is a table, like the IVF layout;
* :meth:`HNSWIndex.search_plan` reads the artifact, reconstructs each
  partition's graph from its stored adjacency (``HNSWGraph.from_parts``
  — zero insert work) and beam-searches it, merging local top-Ks with
  the engine-wide ``TakeOrderedAndProject``. Probe cost is
  O(partitions × ef · M · D); the only wide exchange is the
  ``groupBy("part")`` that reunites each graph's rows — on a real
  deployment, write the artifact bucketed by ``part`` and that exchange
  disappears.

Degenerate-exact contract: ``ef_search ≥ n`` means the beam retains
every node, i.e. the search is exhaustive by definition — implemented
as a direct scored scan, which both matches the textbook semantics
independent of graph connectivity and is the cheaper evaluation. The
registry's ``ann_hnsw_topk`` uses this degenerate form so the whole
distributed pipeline (build → persist → reconstruct → per-partition
search → global merge) is value-hash checked against an exact SQL
oracle; approximate-recall properties live in tests/test_hnsw.py.

``hnsw_topk`` (build-at-search convenience) remains for one-shot
queries over corpora with no published index.
"""

from __future__ import annotations

import hashlib
import heapq
import math
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from hybrid_vector_search_spark.scratch import (
    recover_swap,
    swap_directory,
    swap_stage,
)

DEFAULT_M = 8  # graph degree (FAISS HNSW32 scaled down for 64-d testdata)
DEFAULT_EF_CONSTRUCTION = 64
DEFAULT_EF_SEARCH = 64  # reference default (loaders.py:154)
EXHAUSTIVE_EF = 1 << 30  # ≥ any partition: forces the degenerate-exact path

# driver-side insert-work counter: tests assert searches against a
# persisted index perform ZERO graph-construction work (the from_parts
# reconstruction never touches _insert)
INSERT_CALLS = 0


def _level_for_id(node_id: int, m_l: float) -> int:
    """Deterministic exponential level draw: uniform from a SHA-256 digest
    of the id, so a node's level depends on nothing but the id itself."""
    h = hashlib.sha256(str(int(node_id)).encode()).digest()
    u = (int.from_bytes(h[:8], "big") + 1) / float(1 << 64)  # (0, 1]
    return int(-math.log(u) * m_l)


class HNSWGraph:
    """In-memory HNSW over one partition's vectors (inner-product metric).

    Pure numpy/heapq — no native index libs. Scores are float64 inner
    products (embeddings are unit-norm, so IP ordering == cosine).
    """

    def __init__(
        self,
        ids: np.ndarray,
        vectors: np.ndarray,
        M: int = DEFAULT_M,
        ef_construction: int = DEFAULT_EF_CONSTRUCTION,
    ):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.vectors = np.asarray(vectors, dtype=np.float64)
        self.M = int(M)
        self.m_l = 1.0 / math.log(self.M)
        self.ef_construction = int(ef_construction)
        # adjacency[layer][node] -> list of neighbor node indices
        self.adjacency: list[dict[int, list[int]]] = []
        self.entry: int | None = None
        self.entry_level = -1
        #: nodes visited by the MOST RECENT ``_search_layer`` call only
        #: (on multi-layer graphs the final layer-0 call, not the sum
        #: across layers) — initialized so reading it before any search
        #: is 0, never an AttributeError
        self._last_visited = 0
        for i in range(len(self.ids)):
            self._insert(i)

    # ---- internals -------------------------------------------------
    def _scores(self, q: np.ndarray, nodes: list[int]) -> np.ndarray:
        return self.vectors[nodes] @ q

    def _search_layer(
        self, q: np.ndarray, entry: int, ef: int, layer: int
    ) -> list[tuple[float, int]]:
        """Beam search on one layer: returns up to ``ef`` (score, node)
        best-first. HNSW SEARCH-LAYER with BATCH neighbor admission
        (r11): each expansion scores ALL unvisited neighbors of the
        popped node at once; the result beam becomes the top-ef of
        (current ∪ fresh) under the engine-wide (score DESC, node ASC)
        order, and exactly the surviving fresh join the candidate
        queue. The textbook one-at-a-time admission makes the candidate
        set depend on the ORDER neighbors appear in the adjacency list
        (a sibling processed first can raise the bar against the next);
        the batch rule is a pure function of (graph, query, ef), which
        is what lets an independent SQL oracle replay the walk
        (metrics_hnsw_recall_sweep). Sets ``_last_visited`` — the
        sweep's work axis."""
        adj = self.adjacency[layer]
        d0 = float(self.vectors[entry] @ q)
        visited = {entry}
        # both kept sorted by (score DESC, node ASC)
        results = [(d0, entry)]
        candidates = [(d0, entry)]
        while candidates:
            sc, c = candidates[0]
            if len(results) >= ef and sc < results[-1][0]:
                break
            candidates = candidates[1:]
            fresh = [n for n in adj.get(c, ()) if n not in visited]
            if not fresh:
                continue
            visited.update(fresh)
            scored = [
                (float(s), int(n))
                for n, s in zip(fresh, self._scores(q, fresh))
            ]
            results = sorted(
                results + scored, key=lambda t: (-t[0], t[1])
            )[:ef]
            keep = set(results)
            candidates = sorted(
                candidates + [t for t in scored if t in keep],
                key=lambda t: (-t[0], t[1]),
            )
        self._last_visited = len(visited)
        return results

    def _insert(self, i: int) -> None:
        global INSERT_CALLS
        INSERT_CALLS += 1
        level = _level_for_id(int(self.ids[i]), self.m_l)
        while len(self.adjacency) <= level:
            self.adjacency.append({})
        if self.entry is None:
            self.entry, self.entry_level = i, level
            for lay in range(level + 1):
                self.adjacency[lay][i] = []
            return
        q = self.vectors[i]
        ep = self.entry
        # greedy descent through layers above the node's level
        for lay in range(self.entry_level, level, -1):
            ep = self._search_layer(q, ep, 1, lay)[0][1]
        # connect on each layer ≤ level
        for lay in range(min(level, self.entry_level), -1, -1):
            found = self._search_layer(q, ep, self.ef_construction, lay)
            ep = found[0][1]
            m_max = self.M * 2 if lay == 0 else self.M
            neigh = [n for _, n in found[: self.M]]
            adj = self.adjacency[lay]
            adj[i] = list(neigh)
            for n in neigh:
                links = adj.setdefault(n, [])
                links.append(i)
                if len(links) > m_max:
                    # keep the m_max highest-scoring links (simple prune)
                    s = self._scores(self.vectors[n], links)
                    keep = np.argsort(-s, kind="stable")[:m_max]
                    adj[n] = [links[j] for j in keep]
        for lay in range(self.entry_level + 1, level + 1):
            self.adjacency[lay][i] = []
        if level > self.entry_level:
            self.entry, self.entry_level = i, level

    # ---- public ----------------------------------------------------
    @classmethod
    def from_parts(
        cls,
        ids: np.ndarray,
        vectors: np.ndarray,
        adjacency: list[dict[int, list[int]]],
        entry: int,
        entry_level: int,
        M: int = DEFAULT_M,
    ) -> "HNSWGraph":
        """Reconstruct a graph from a persisted adjacency — NO insert work
        (``INSERT_CALLS`` untouched): this is the search-from-artifact path
        (:class:`HNSWIndex`)."""
        g = cls.__new__(cls)
        g.ids = np.asarray(ids, dtype=np.int64)
        g.vectors = np.asarray(vectors, dtype=np.float64)
        g.M = int(M)
        g.m_l = 1.0 / math.log(max(g.M, 2))
        g.ef_construction = DEFAULT_EF_CONSTRUCTION
        g.adjacency = adjacency
        g.entry = int(entry) if len(g.ids) else None
        g.entry_level = int(entry_level) if len(g.ids) else -1
        return g

    def node_adjacency(self) -> list[list[list[int]]]:
        """Per-node adjacency, layers 0..node_level (contiguous by the
        insert invariant) — the persisted ``adj ARRAY<ARRAY<INT>>``."""
        out: list[list[list[int]]] = []
        for i in range(len(self.ids)):
            layers: list[list[int]] = []
            for lay in range(len(self.adjacency)):
                if i in self.adjacency[lay]:
                    layers.append([int(x) for x in self.adjacency[lay][i]])
                else:
                    break
            out.append(layers)
        return out

    def search(
        self, qvec: Sequence[float], k: int, ef_search: int = DEFAULT_EF_SEARCH
    ) -> tuple[np.ndarray, np.ndarray]:
        """Approximate top-k by inner product: (ids, scores), score-desc
        with ascending-id tie-break (the engine-wide stable order).

        ``ef_search ≥ n`` degenerates to an EXACT scored scan: a beam
        that retains every node is exhaustive by definition, and the
        direct evaluation guarantees that semantics independent of graph
        connectivity (the oracle-checked registry form)."""
        if self.entry is None:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        q = np.asarray(qvec, dtype=np.float64).reshape(-1)
        if ef_search >= len(self.ids):
            scores = self.vectors @ q
            order = np.lexsort((self.ids, -scores))[: int(k)]
            return self.ids[order], scores[order]
        ep = self.entry
        for lay in range(self.entry_level, 0, -1):
            ep = self._search_layer(q, ep, 1, lay)[0][1]
        found = self._search_layer(q, ep, max(ef_search, k), 0)[:k]
        idx = [n for _, n in found]
        ids = self.ids[idx]
        scores = np.array([s for s, _ in found], dtype=np.float64)
        order = np.lexsort((ids, -scores))
        return ids[order], scores[order]


def knn_adjacency(vectors: np.ndarray, M: int = DEFAULT_M) -> list[list[int]]:
    """Exact top-M out-neighbor lists by inner product (ties by node
    index ASC, self excluded) — the deterministic single-layer NSW graph
    of the oracle-checked beam sweep (``metrics_hnsw_recall_sweep``).
    Unlike the insert-order HNSW adjacency (a function of the whole
    insertion history), this graph is a closed-form function of the
    vectors, so an independent SQL oracle re-derives it from the base
    table (window over the pairwise-dot self-join) instead of trusting
    the engine's own build. O(n²) — bounded-sample calibration use."""
    sim = np.asarray(vectors, dtype=np.float64) @ np.asarray(
        vectors, dtype=np.float64
    ).T
    np.fill_diagonal(sim, -np.inf)
    n = sim.shape[0]
    m = min(int(M), n - 1)
    if m <= 0:
        return [[] for _ in range(n)]
    # Top-M prefix WITHOUT a full-row stable argsort (r16, guide §4.2:
    # the O(n² log n) sort was ~95% of the recall-sweep kernel; the
    # walks it feeds are milliseconds). np.partition finds each row's
    # m-th largest similarity in O(n); the exact prefix is then every
    # index whose similarity reaches that threshold, stable-ordered.
    # Tie handling is IDENTICAL to the old full stable argsort: the
    # candidate set contains every index tying the m-th value, and a
    # stable sort over candidates listed in ascending index order
    # breaks equal similarities by ascending node index — the same
    # prefix the full sort produced, for every tie pattern.
    neg = -sim
    kth = np.partition(neg, m - 1, axis=1)[:, m - 1]
    out: list[list[int]] = []
    for i in range(n):
        cand = np.flatnonzero(neg[i] <= kth[i])
        order = cand[np.argsort(neg[i, cand], kind="stable")]
        out.append([int(j) for j in order[:m]])
    return out


def hnsw_topk(
    corpus: DataFrame,
    qvec: Sequence[float],
    k: int,
    M: int = DEFAULT_M,
    ef_search: int = DEFAULT_EF_SEARCH,
    id_col: str = "id",
) -> DataFrame:
    """Distributed HNSW top-K: per-partition graph + local top-k via one
    ``mapInPandas`` pass, global ``TakeOrderedAndProject`` merge.

    Candidate volume into the merge is ≤ k rows per partition — the same
    slim merge the IVF probe plan uses. See module docstring for the
    offline-build variant this plan becomes at scale.
    """
    from hybrid_vector_search_spark.operators.topk import topk
    from hybrid_vector_search_spark.sources.loaders import spread

    q = [float(x) for x in qvec]
    kk = int(k)

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_parts, vec_parts = [], []
        for p in batches:
            if len(p):
                ids_parts.append(p[id_col].to_numpy(dtype=np.int64))
                vec_parts.append(np.vstack(p["embedding"].to_numpy()))
        if not ids_parts:
            return
        ids = np.concatenate(ids_parts)
        mat = np.vstack(vec_parts).astype(np.float64)
        graph = HNSWGraph(ids, mat, M=M)
        top_ids, top_scores = graph.search(q, kk, ef_search)
        yield pd.DataFrame({id_col: top_ids, "score": top_scores})

    cand = spread(corpus.select(id_col, "embedding")).mapInPandas(
        part, f"{id_col} LONG, score DOUBLE"
    )
    return topk(cand, kk, id_col=id_col)


_INDEX_SCHEMA = (
    "part INT, node_idx INT, id LONG, vec ARRAY<DOUBLE>, "
    "adj ARRAY<ARRAY<INT>>, entry_idx INT, entry_level INT"
)


def _exact_topk_frame(
    ids: "np.ndarray", vecs: "np.ndarray", q: "np.ndarray", k: int, idc: str
) -> pd.DataFrame:
    """Exact local top-k for the degenerate (ef ≥ nodes) paths: one GEMM,
    ordered by the engine-wide tie discipline (score DESC, id ASC). ONE
    kernel shared by both exhaustive call sites so the tie rule the
    oracles pin cannot desynchronize between them."""
    scores = vecs @ q
    order = np.lexsort((ids, -scores))[:k]
    return pd.DataFrame({idc: ids[order], "score": scores[order]})


class HNSWIndex:
    """Persisted per-partition HNSW artifact (the offline-build path the
    module docstring specifies; reference parity: the prebuilt FAISS HNSW
    artifact of src/dataio/loaders.py:154-163, re-expressed as a parquet
    table instead of a driver-memory blob).

    One row per graph node: partition id, node index within the
    partition, external id, float64 vector, adjacency lists for layers
    0..node_level, and the partition's (entry_idx, entry_level) repeated
    on every row. Search reconstructs each graph with
    ``HNSWGraph.from_parts`` — zero insert work per query."""

    def __init__(
        self,
        spark,
        path: str,
        M: int = DEFAULT_M,
        id_col: str = "id",
    ):
        self.spark = spark
        self.path = path
        self.M = int(M)
        self.id_col = id_col

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        path: str,
        M: int = DEFAULT_M,
        ef_construction: int = DEFAULT_EF_CONSTRUCTION,
        id_col: str = "id",
    ) -> "HNSWIndex":
        """One ``mapInPandas`` pass: build every partition's graph, write
        nodes+adjacency to ``path``. At 100 TB this is the ingest-time
        index publish; bucket the write by ``part`` to make the search's
        regroup exchange free."""
        from hybrid_vector_search_spark.sources.loaders import spread

        m, efc, idc = int(M), int(ef_construction), id_col

        def build_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = int(ctx.partitionId()) if ctx is not None else 0
            ids_parts, vec_parts = [], []
            for p in batches:
                if len(p):
                    ids_parts.append(p["id"].to_numpy(dtype=np.int64))
                    vec_parts.append(np.vstack(p["embedding"].to_numpy()))
            if not ids_parts:
                return
            ids = np.concatenate(ids_parts)
            mat = np.vstack(vec_parts).astype(np.float64)
            g = HNSWGraph(ids, mat, M=m, ef_construction=efc)
            n = len(ids)
            yield pd.DataFrame(
                {
                    "part": np.full(n, pid, dtype=np.int32),
                    "node_idx": np.arange(n, dtype=np.int32),
                    "id": ids,
                    "vec": list(mat),
                    "adj": g.node_adjacency(),
                    "entry_idx": np.full(n, g.entry, dtype=np.int32),
                    "entry_level": np.full(n, g.entry_level, dtype=np.int32),
                }
            )

        src = spread(
            corpus.select(idc, "embedding").withColumnRenamed(idc, "id")
        )
        rows = src.mapInPandas(build_part, _INDEX_SCHEMA)
        rows.write.mode("overwrite").parquet(path)
        return cls(corpus.sparkSession, path, M=m, id_col=idc)

    def search_plan(
        self,
        qvec: Sequence[float],
        k: int,
        ef_search: int = DEFAULT_EF_SEARCH,
    ) -> DataFrame:
        """Top-K plan over the persisted artifact: regroup rows by
        ``part``, reconstruct each graph (``from_parts`` — no inserts),
        beam-search it, merge ≤ k·partitions candidates with
        ``TakeOrderedAndProject``."""
        from hybrid_vector_search_spark.operators.topk import topk

        q = np.asarray([float(x) for x in qvec], dtype=np.float64)
        kk, ef, m, idc = int(k), int(ef_search), self.M, self.id_col

        def search_part(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("node_idx")
            ids = pdf["id"].to_numpy(dtype=np.int64)
            vecs = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
            if ef >= len(ids):
                # beam ≥ node count retains every node — the walk is
                # pure overhead; the shared exact kernel gives the
                # identical top-k under the global tie discipline
                return _exact_topk_frame(ids, vecs, q, kk, idc)
            adjacency: list[dict[int, list[int]]] = []
            for i, layers in enumerate(pdf["adj"].tolist()):
                for lay, neigh in enumerate(layers):
                    while len(adjacency) <= lay:
                        adjacency.append({})
                    adjacency[lay][i] = [int(x) for x in neigh]
            g = HNSWGraph.from_parts(
                ids, vecs, adjacency,
                int(pdf["entry_idx"].iloc[0]),
                int(pdf["entry_level"].iloc[0]), M=m,
            )
            top_ids, top_scores = g.search(q, kk, ef)
            return pd.DataFrame({idc: top_ids, "score": top_scores})

        # a crashed purge swap must self-heal on the next READ, not wait
        # for a manual recovery call (r14 advice): between the two swap
        # renames the index dir is missing and every read would fail
        recover_swap(self.path)
        idx = self.spark.read.parquet(self.path)
        if ef >= EXHAUSTIVE_EF:
            # known-exhaustive plan: every node scores, so graph (and
            # partition!) structure is irrelevant — skip the groupBy
            # regroup exchange entirely and prune the adjacency + entry
            # columns out of the parquet scan (adj is the widest column
            # in the artifact). One mapInPandas GEMM per Arrow batch,
            # local top-k per batch, TakeOrderedAndProject merges.
            def score_batches(
                it: Iterator[pd.DataFrame],
            ) -> Iterator[pd.DataFrame]:
                for pdf in it:
                    if not len(pdf):
                        continue
                    ids = pdf["id"].to_numpy(dtype=np.int64)
                    vecs = np.vstack(pdf["vec"].to_numpy()).astype(
                        np.float64
                    )
                    yield _exact_topk_frame(ids, vecs, q, kk, idc)

            cand = idx.select("id", "vec").mapInPandas(
                score_batches, f"{idc} LONG, score DOUBLE"
            )
            return topk(cand, kk, id_col=idc)
        cand = idx.groupBy("part").applyInPandas(
            search_part, f"{idc} LONG, score DOUBLE"
        )
        return topk(cand, kk, id_col=idc)

    def purge_nodes(self, subject_ids: Sequence[int]) -> dict:
        """GDPR erasure for the persisted graph artifact (r14) — the
        derived root the manifest-based cascade can't cover: adjacency
        lists reference neighbors BY ``node_idx`` within the partition
        and the entry point is one of them, so dropping a subject's
        rows would leave DANGLING edges (and possibly a dangling entry)
        in every surviving node of its partition. The honest erasing
        commit is a PARTITION-LOCAL REBUILD: partitions that contain a
        subject node re-run the graph construction over their remaining
        vectors; untouched partitions' rows are carried through
        unchanged — cost tracks the subject's partitions, not the
        index (the same bounded-touch shape as the IVF targeted
        purge). The rebuilt artifact is staged, then swapped in through
        :func:`scratch.swap_directory` (the staged-commit protocol is
        described at :func:`scratch.staged_commit`; this layout is plain
        parquet, not manifest-committed — the cascade's roots get the
        atomic version instead). Returns the audit dict the forensic
        scan + integrity validation fill: residual_nodes /
        bad_adjacency_refs / bad_entry_refs must all be 0."""
        from pyspark.sql import functions as F

        spark = self.spark
        # self-heal a crashed prior swap before touching self.path — a
        # purge retried after a crash must find the committed (or
        # rolled-back) artifact, never the mid-swap gap (r14 advice)
        recover_swap(self.path)
        subj = sorted({int(i) for i in subject_ids})
        idx = spark.read.parquet(self.path)
        is_subj = F.col("id").isin(subj)
        agg = idx.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(is_subj.cast("long")).alias("p"),
        ).first()
        rows_before, purged = int(agg["n"] or 0), int(agg["p"] or 0)
        affected: list[int] = []
        if purged:
            affected = [
                r[0]
                for r in idx.filter(is_subj)
                .select("part")
                .distinct()
                .collect()
            ]  # bounded: ≤ number of partitions
            m, efc = self.M, DEFAULT_EF_CONSTRUCTION

            def rebuild(pdf: pd.DataFrame) -> pd.DataFrame:
                pdf = pdf.sort_values("node_idx")  # original insert order
                keep = ~pdf["id"].isin(subj)
                ids = pdf.loc[keep, "id"].to_numpy(dtype=np.int64)
                if len(ids) == 0:  # partition wholly subject-owned
                    return pd.DataFrame(
                        {
                            "part": pd.Series([], dtype="int32"),
                            "node_idx": pd.Series([], dtype="int32"),
                            "id": pd.Series([], dtype="int64"),
                            "vec": pd.Series([], dtype="object"),
                            "adj": pd.Series([], dtype="object"),
                            "entry_idx": pd.Series([], dtype="int32"),
                            "entry_level": pd.Series([], dtype="int32"),
                        }
                    )
                mat = np.vstack(pdf.loc[keep, "vec"].to_numpy()).astype(
                    np.float64
                )
                g = HNSWGraph(ids, mat, M=m, ef_construction=efc)
                n = len(ids)
                return pd.DataFrame(
                    {
                        "part": np.full(
                            n, int(pdf["part"].iloc[0]), dtype=np.int32
                        ),
                        "node_idx": np.arange(n, dtype=np.int32),
                        "id": ids,
                        "vec": list(mat),
                        "adj": g.node_adjacency(),
                        "entry_idx": np.full(n, g.entry, dtype=np.int32),
                        "entry_level": np.full(
                            n, g.entry_level, dtype=np.int32
                        ),
                    }
                )

            rebuilt = (
                idx.filter(F.col("part").isin(affected))
                .groupBy("part")
                .applyInPandas(rebuild, _INDEX_SCHEMA)
            )
            new = idx.filter(~F.col("part").isin(affected)).unionByName(
                rebuilt
            )
            stage = swap_stage(self.path)
            new.write.mode("overwrite").parquet(stage)
            swap_directory(stage, self.path)
        # forensic + integrity pass over the artifact as it now exists
        # on disk: no subject node, no adjacency index outside the
        # partition's node range, no dangling entry point
        post = spark.read.parquet(self.path)

        def check(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("node_idx")
            n = len(pdf)
            bad_adj = 0
            for layers in pdf["adj"].tolist():
                for neigh in layers:
                    bad_adj += sum(
                        1 for x in neigh if int(x) < 0 or int(x) >= n
                    )
            bad_entry = int(
                (pdf["entry_idx"] < 0).sum()
                + (pdf["entry_idx"] >= n).sum()
            )
            structural = int(
                (pdf["node_idx"].to_numpy() != np.arange(n)).sum()
            )
            return pd.DataFrame(
                {
                    "bad_adj": [bad_adj],
                    "bad_entry": [bad_entry + structural],
                }
            )

        viol = (
            post.groupBy("part")
            .applyInPandas(check, "bad_adj LONG, bad_entry LONG")
            .agg(
                F.coalesce(F.sum("bad_adj"), F.lit(0)).alias("a"),
                F.coalesce(F.sum("bad_entry"), F.lit(0)).alias("e"),
            )
            .first()
        )
        residual = post.filter(F.col("id").isin(subj)).count() if subj else 0
        return {
            "rows_before": rows_before,
            "purged_rows": purged,
            "rows_after": rows_before - purged,
            "residual_nodes": int(residual),
            "bad_adjacency_refs": int(viol["a"]),
            "bad_entry_refs": int(viol["e"]),
            "parts_rebuilt": len(affected),
        }


from hybrid_vector_search_spark.operators.strategies import (  # noqa: E402
    LadderBackend,
    collect_ranking,
    join_candidates,
)


class HNSWBackend(LadderBackend):
    """P3-shaped strategy on HNSW candidates: approximate top-K′ over the
    full corpus, keep the candidates in the allowed-id set, reference ladder
    K′ ∈ (200, 500, 1000) with early stop (src/baselines/
    post_filter.py:66-87 — same ladder, HNSW instead of IVF as the
    candidate source; reference index parity at src/dataio/
    loaders.py:123-139). Slots between IVF and LSH in the K6 fallback
    chain (load_vectors_index prefers IVF, falls back to HNSW, then
    exact — loaders.py:204-215).

    Two r3-ADVICE fixes shape the execution: (a) the per-partition
    graphs are built ONCE into a persisted :class:`HNSWIndex` (scratch
    parquet) on first use — searches reconstruct, never rebuild; (b)
    ``_ranking`` runs ONE distributed pass at K′ = max(ladder) and the
    :class:`LadderBackend` rungs replay the escalation client-side over
    the ≤ max(ladder) collected candidates — a rung's candidate set is
    exactly the top-K′ prefix of the max rung's, so the stop rung and
    survivors are identical to the loop the reference runs, for one
    corpus probe instead of up to three. Skipped costed rungs therefore
    save list scans, not Spark jobs."""

    name = "post_filter_hnsw"

    def __init__(
        self,
        corpus: DataFrame,
        n: int | None = None,
        id_col: str = "id",
        M: int = DEFAULT_M,
        ef_search: int = DEFAULT_EF_SEARCH,
        k_ladder: Sequence[int] = (200, 500, 1000),
        index: "HNSWIndex | None" = None,
        costed: bool = False,
        selectivity_hint: int | None = None,
    ):
        super().__init__(corpus, n, id_col, costed, selectivity_hint)
        self.M = int(M)
        self.ef_search = int(ef_search)
        self.k_ladder = tuple(k_ladder)
        self._index = index
        # eager corpus probe: surface a broken corpus HERE (the K6
        # chain's fall-through contract) rather than mid-query
        first = corpus.select("embedding").first()
        if first is None or first["embedding"] is None:
            raise ValueError("HNSW backend needs a non-empty embedding column")
        self.dim = len(first["embedding"])

    @property
    def index(self) -> "HNSWIndex":
        """The persisted graph artifact, built once per backend."""
        if self._index is None:
            from hybrid_vector_search_spark.scratch import scratch_path

            self._index = HNSWIndex.build(
                self.corpus, scratch_path("hnsw_backend"),
                M=self.M, id_col=self.id_col,
            )
        return self._index

    def plan(self, qvec, filters, k, kprime: int | None = None):
        from hybrid_vector_search_spark.functions.predicates import (
            compile_filters,
        )
        from hybrid_vector_search_spark.operators.topk import topk as _topk

        kprime = kprime or max(self.k_ladder)
        cand = self.index.search_plan(
            qvec, kprime, ef_search=max(self.ef_search, kprime)
        )
        pred = compile_filters(self.corpus.schema, filters)
        kept = join_candidates(self.corpus, pred, cand, self.id_col)
        return _topk(kept, k, id_col=self.id_col), None

    def _ranking(self, q, resident):
        """The one graph walk at K′ = max(ladder), collected (≤ max(ladder)
        rows) and ranked best first."""
        kmax = max(self.k_ladder)
        ef = max(self.ef_search, kmax)
        ids, scores = collect_ranking(
            self.index.search_plan(q, kmax, ef_search=ef), kmax, self.id_col
        )
        return ids, scores, {"ef_search": ef}
