"""The two workloads. Each drives one closed-loop client through the
engine's public functions and checks every answer outside the timed region.

* ``hybrid_point`` — single filtered top-10 queries over a generated
  50,000 x 384 corpus through ``pre_filter``, costed ``post_filter`` over a
  persisted fixed-quantizer IVF layout, and the resident serving tier.
* ``ingest`` — write cycles beside reads (an upsert/delete batch into an
  IVF layout and a manifest table, a fresh ANN read, a snapshot read), then
  seeded-order warm streaming registry drains at sf0.1, each compared with
  its DuckDB oracle.

Ops run in whole rounds until ``--seconds`` have passed, so every run
measures the same mix.
"""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict

import numpy as np

from perfbench import gen, metrics, oracle
from perfbench.trace import (
    STREAM_PHASES,
    SparkCounters,
    Tracer,
    peak_rss_mb,
    stream_listener,
)

#: the generated corpora are fixed; ``--seed`` draws the query stream, the
#: method order and the write batches (see README.md, "Inputs")
CORPUS_SEED = 0
#: canonical template qids of a round: strict (1), medium (4, and 6: the
#: LIKE), broad (8, and 10: unfiltered), interleaved. Five of the ten, to
#: keep a round near 9 s within the benchmark's time budget (README.md)
TEMPLATES = (1, 8, 4, 10, 6)
#: template of every ``ingest`` snapshot read (medium): the set-up's
#: warm cycle has then run the same filter
SNAPSHOT_TEMPLATE = 4
#: serve ops per template and round: the resident tier answers in ~20 ms,
#: so its median needs more samples than the Spark methods' to be as steady
SERVE_REPEAT = 3

HYBRID_ROWS = 50_000
HYBRID_LISTS = 223  # = default_nlist(50,000): planted clusters are IVF lists
UPSERT_ROWS = 4_096
UPSERT_LISTS = 64  # = default_nlist(4,096): planted clusters are IVF lists
UPSERT_BATCH = (8, 4, 4)  # inserts, replacements, deletes per cycle
#: write cycles per round: each op varies by 10-20% from one cycle to the
#: next, so each kind's median takes two
UPSERT_ROUND = 2

#: streaming registry drains measured by ``ingest``, spanning the
#: three registry modules that hold them (see README.md for the ones left out)
STREAM_QUERIES = (
    "streaming_sliding_2h_counts",
    "streaming_topk_view",
    "streaming_range_alerts",
    "streaming_session_windows",
    "streaming_hll_users",
)


def source_digest(root: str) -> str:
    """Hash of every engine source file: keys artifacts the engine built."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "hybrid_vector_search_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:12]


class Run:
    """State of one benchmark run: timed ops, checks, traces, stamps."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 root: str, work: str, sf_dir: str, t_start: float):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.root, self.work, self.sf_dir = root, work, sf_dir
        self.t_start = t_start
        self.cache = os.path.join(work, "cache")
        self.scratch = os.path.join(work, "run")
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(self.scratch)
        os.makedirs(self.cache, exist_ok=True)
        self.ops: list[dict] = []
        self.ledger = oracle.Ledger()
        self.tracer = Tracer() if traced else None
        self.counters: SparkCounters | None = None
        self.excluded_s = 0.0  # benchmark-only work inside the set-up window
        self.setup_s: float | None = None
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.spark = None
        self.round = 0
        self.round_start = 0  # index of the current round's first op

    # ---------------------------------------------------------------- session
    def session(self):
        from hybrid_vector_search_spark.session import get_spark

        tmp = os.environ["TMPDIR"]
        self.spark = get_spark(
            f"perfbench-{self.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                # a heap and young generation of fixed size: G1's sizing of
                # either from GC pause times made the JVM's peak RSS wander
                # by up to 25% between runs
                "spark.driver.extraJavaOptions":
                    f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -Xmn512m"
                    f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            self.counters = SparkCounters(self.spark)
        return self.spark

    def log(self, msg: str) -> None:
        print(f"perfbench: {time.perf_counter() - self.t_start:7.1f}s {msg}",
              file=sys.stderr, flush=True)

    def excluded(self, fn):
        """Run benchmark-only work (input generation, oracle preparation)
        and keep its time out of ``setup_s``."""
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.excluded_s += time.perf_counter() - t0

    # -------------------------------------------------------------------- ops
    def op(self, kind: str, fn, check, variant: str = ""):
        """Time ``fn()`` as one op of ``kind`` (``variant`` names the query
        template or registry query within the kind); ``check(result)`` runs
        after the clock stops and returns ``None`` or a failure reason."""
        if self.setup_s is None:
            self.setup_s = time.perf_counter() - self.t_start - self.excluded_s
        op_id = len(self.ops)
        # round 0 of a traced run traces every op; rounds 1 and 2 trace
        # alternate ops, the other half in each, so every op type has
        # traced and untraced samples for the overhead
        traced = self.tracer is not None and (
            self.round == 0 or (op_id - self.round_start + self.round) % 2 == 1)
        if traced:
            self.tracer.active, self.tracer.op_id = True, op_id
            self.counters.start()
            cpu0 = time.process_time()
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span(f"op.{kind}"):
                    out = fn()
            else:
                out = fn()
            err = None
        except Exception as e:  # counted, printed, and the run goes on
            out, err = None, f"{type(e).__name__}: {str(e)[:300]}"
        ms = (time.perf_counter() - t0) * 1000.0
        if traced:
            self.tracer.active = False
            self.samples[f"driver.{kind}.cpu_ms"].append(
                (time.process_time() - cpu0) * 1000.0)
            if kind in metrics.SPARK_KINDS:
                for k, v in self.counters.read(ms).items():
                    self.samples[f"spark.{kind}.{k}"].append(v)
        if err is None:
            try:
                err = check(out)
            except Exception as e:
                err = f"check raised {type(e).__name__}: {e}"
        ok = self.ledger.record(f"{kind}#{op_id}", err)
        self.ops.append({"id": op_id, "kind": kind, "variant": variant, "ms": ms,
                         "ok": ok, "traced": traced, "round": self.round})
        return out

    def rounds(self):
        """Round numbers to run. Untraced: whole rounds until ``seconds``
        have passed. Traced: three rounds, see ``op``."""
        t0 = time.perf_counter()
        rnd = 0
        while True:
            self.round, self.round_start = rnd, len(self.ops)
            yield rnd
            rnd += 1
            if (rnd == 3 if self.tracer is not None
                    else time.perf_counter() - t0 >= self.seconds):
                return

    def traced_ops(self, kind: str | None = None) -> set[int]:
        return {o["id"] for o in self.ops
                if o["traced"] and (kind is None or o["kind"] == kind)}

    def span_mean(self, span: str, kind: str) -> float:
        vals = self.tracer.per_op_ms(span, self.traced_ops(kind))
        return statistics.fmean(vals) if vals else 0.0

    # ---------------------------------------------------------------- results
    def per_layer(self) -> dict[str, float]:
        """Every ``PER_LAYER`` metric (0 where this workload has no such
        layer or op kind)."""
        out = {name: 0.0 for name, _, _ in metrics.PER_LAYER}
        for name, vals in self.samples.items():
            if name in out and vals:
                out[name] = statistics.fmean(vals)
        summ = metrics.kind_summary([o for o in self.ops if o["traced"]])
        for kind, s in summ.items():
            if f"kind.{kind}_p50_ms" in out:
                out[f"kind.{kind}_p50_ms"] = s["p50_ms"]
        # rounds 1-2: every op type ran traced and untraced equally often
        paired = [o for o in self.ops if o["round"] > 0 and o["ok"]]
        if paired:
            out["trace.overhead_ms"] = (
                metrics.typical_ms([o for o in paired if o["traced"]])
                - metrics.typical_ms([o for o in paired if not o["traced"]]))
        out["quality.failed_frac"] = metrics.failed_frac(
            self.ledger.attempted, self.ledger.failed)
        unknown = set(self.layer) - set(out)
        if unknown:
            raise KeyError(f"per-layer values not in the catalogue: {sorted(unknown)}")
        out.update(self.layer)
        return out

    def write_trace(self) -> str:
        path = os.path.join(self.work, "traces",
                            f"{self.workload}_seed{self.seed}.jsonl")
        self.tracer.dump(path)
        return path

    def rss_mb(self) -> float:
        """Peak RSS of the Python driver plus its JVM (each on the detail line)."""
        py, jvm = peak_rss_mb(self.spark)
        self.detail["peak_rss_parts_mb"] = {"python": py, "jvm": jvm}
        return py + jvm


# ====================================================================== hybrid
def _wrap_hybrid_layers(tr: Tracer) -> None:
    from hybrid_vector_search_spark import serving
    from hybrid_vector_search_spark.operators import ivf, strategies

    tr.wrap(strategies, "compile_filters", "predicates.compile")
    tr.wrap(ivf, "compile_filters", "predicates.compile")
    tr.wrap(serving, "filters_mask_pandas", "predicates.mask")
    tr.wrap(strategies.ExactBackend, "plan", "strategies.plan")
    tr.wrap(ivf.IVFIndex, "search_plan", "ivf.probe")
    tr.wrap(serving.LocalCorpusServe, "prefilter_topk", "serving.prefilter_topk")
    tr.wrap(serving.LocalCorpusServe, "exact_topk", "serving.exact_topk")
    tr.wrap(serving.LocalCorpusServe, "count_allowed", "serving.count_allowed")


def _ivf_layout(run: Run, corpus_df, corpus: gen.Corpus) -> str:
    """Path of a persisted IVF layout of the corpus, built with
    ``IVFIndex.build_fixed`` over the planted centroids. An untraced run
    reuses the layout cached per (corpus, engine source), building it
    outside the set-up time when missing; a traced run builds its own and
    reports ``ivf.build_s``."""
    from hybrid_vector_search_spark.operators.ivf import IVFIndex

    def build(path: str) -> None:
        t0 = time.perf_counter()
        IVFIndex.build_fixed(corpus_df.select("id", "embedding"), corpus.cents,
                             persist_path=path)
        run.layer["ivf.build_s"] = time.perf_counter() - t0

    if run.tracer is not None:
        path = os.path.join(run.scratch, "ivf_built")
        build(path)
        return path
    stem = f"ivf_n{len(corpus.emb)}_"
    path = os.path.join(run.cache, f"{stem}{corpus.checksum}_{source_digest(run.root)}")
    done = os.path.join(path, "_PERFBENCH_IVF_OK")
    if not os.path.exists(done):
        def fresh():
            for name in os.listdir(run.cache):  # one generation per corpus
                if name.startswith(stem):
                    shutil.rmtree(os.path.join(run.cache, name), ignore_errors=True)
            build(path)
            open(done, "w").close()
        run.excluded(fresh)
    return path


def hybrid_point(run: Run) -> None:
    from hybrid_vector_search_spark.operators.ivf import (
        IVFIndex,
        PostFilterBackend,
        open_partitioned,
    )
    from hybrid_vector_search_spark.operators.strategies import get_backend
    from hybrid_vector_search_spark.plans.canonical import CANONICAL_QUERIES
    from hybrid_vector_search_spark.plans.registry import load_corpus
    from hybrid_vector_search_spark.serving import serve_or_plan

    corpus = run.excluded(lambda: gen.build_corpus(
        CORPUS_SEED, run.sf_dir, run.cache, HYBRID_ROWS, HYBRID_LISTS))
    run.detail["corpus"] = {"rows": HYBRID_ROWS, "dim": gen.DIM,
                            "checksum": corpus.checksum}
    spark = run.session()
    if run.tracer is not None:
        _wrap_hybrid_layers(run.tracer)

    t0 = time.perf_counter()
    corpus_df = load_corpus(spark, corpus.path)
    n = corpus_df.count()
    run.layer["sources.loaders.corpus_load_s"] = time.perf_counter() - t0
    run.log(f"corpus loaded ({n} rows)")
    if n != len(corpus.emb):
        raise RuntimeError(f"engine loaded {n} rows, generator wrote {len(corpus.emb)}")

    path = _ivf_layout(run, corpus_df, corpus)
    index = IVFIndex(open_partitioned(spark, path), corpus.cents,
                     partitioned_path=path)
    run.log("ivf layout open")
    methods = {
        "prefilter": get_backend("pre_filter", corpus_df, n),
        "postfilter": PostFilterBackend(corpus_df, n, index=index, costed=True),
    }
    t0 = time.perf_counter()
    methods["serve"] = serve_or_plan(corpus_df)
    run.layer["serving.resident_build_s"] = time.perf_counter() - t0
    tier = methods["serve"].tier
    run.log("resident tier built")
    if methods["serve"].route != "resident":
        raise RuntimeError(f"serving tier routed {methods['serve'].route}, not resident")
    run.layer["serving.resident_bytes"] = float(
        tier.mat.nbytes + tier.ids.nbytes + tier.meta.memory_usage(deep=True).sum())

    templates = {q.qid: q for q in CANONICAL_QUERIES}
    allowed = run.excluded(lambda: {
        qid: np.flatnonzero(oracle.filter_mask(corpus.meta, q.filters))
        for qid, q in templates.items()})
    ids = corpus.meta["id"].to_numpy()

    def truth(qid, q):
        rows = allowed[qid]
        sc = oracle.scores_f64(corpus.emb, rows, q)
        top = oracle.exact_topk(ids[rows], sc, gen.K)
        return top, rows, sc

    def check_exact(qid, q):
        def check(res):
            got, _stats = res
            top, rows, sc = truth(qid, q)
            score_of = dict(zip(ids[rows].tolist(), sc.tolist()))
            return oracle.same_topk(got, top, score_of)
        return check

    recalls: list[float] = []

    def check_post(qid, q):
        def check(res):
            got, stats = res
            top, rows, _ = truth(qid, q)
            recalls.append(oracle.recall(got, top))
            ok_ids = set(ids[rows].tolist())
            bad = [i for i in got if i not in ok_ids]
            if bad:
                return f"ids {bad[:3]} do not pass the filter"
            # fewer than K survivors is the post-filter contract only once
            # the candidate ladder is exhausted
            last_rung = methods["postfilter"].k_ladder[-1]
            if len(got) < min(gen.K, len(rows)) and stats.get("scored_vectors") != last_rung:
                return f"returned {len(got)} ids, stopped at rung {stats.get('scored_vectors')}"
            return None
        return check

    def layer_counts(kind, stats):
        if run.tracer is None or not run.ops[-1]["traced"]:
            return
        if kind == "prefilter":
            sv = stats.get("scored_vectors", 0)
            run.samples["strategies.scored_vectors"].append(sv)
            run.samples["strategies.useful_ratio"].append(gen.K / sv if sv else 0.0)
        elif kind == "postfilter":
            for k in ("rungs_run", "ladder_entry", "scored_vectors", "lists_probed"):
                run.samples[f"ivf.{k}"].append(stats.get(k, 0))
            sv = stats.get("scored_vectors", 0)
            run.samples["ivf.useful_ratio"].append(gen.K / sv if sv else 0.0)

    def query(i: int, qid: int, kind: str, timed: bool = True):
        q, _g = gen.query_vector(run.seed, i, corpus.cents, warm=not timed)
        filters = templates[qid].filters
        fn = lambda: methods[kind].search(q, filters, gen.K)  # noqa: E731
        if not timed:
            return fn()
        check = check_post(qid, q) if kind == "postfilter" else check_exact(qid, q)
        res = run.op(kind, fn, check, variant=f"q{qid}")
        if res is not None:
            layer_counts(kind, res[1])

    # The first query of a method on a template pays one-time costs (~1.4 s
    # on the LIKE template; postfilter queries run ~1.5x slower when only
    # the other method has seen the template), so set-up runs every method
    # once on every template, with vectors from the warm-up stream.
    for w, (qid, kind) in enumerate((q, k) for q in TEMPLATES for k in methods):
        query(w, qid, kind, timed=False)
    run.log("hybrid_point warm")

    block_kinds = ("prefilter", "postfilter") + ("serve",) * SERVE_REPEAT
    i = block = 0
    for _ in run.rounds():
        for qid in TEMPLATES:
            for kind in gen.method_order(run.seed, block, block_kinds):
                query(i, qid, kind)
                i += 1
            block += 1

    run.detail["postfilter_recall_at_10"] = statistics.fmean(recalls) if recalls else None
    run.layer["quality.postfilter_recall_at_10"] = statistics.fmean(recalls) if recalls else 0.0
    if run.tracer is not None:
        run.layer["predicates.compile_ms"] = run.span_mean("predicates.compile", "prefilter")
        run.layer["predicates.mask_ms"] = run.span_mean("predicates.mask", "serve")
        run.layer["strategies.plan_ms"] = run.span_mean("strategies.plan", "prefilter")
        run.layer["ivf.probe_ms"] = run.span_mean("ivf.probe", "postfilter")
        for span in ("prefilter_topk", "exact_topk", "count_allowed"):
            run.layer[f"serving.{span}_ms"] = run.span_mean(f"serving.{span}", "serve")


# ====================================================================== upsert
def _listing(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_ino)
    return out


def _user_bytes(n_rows: int, meta) -> int:
    """Raw value bytes of ``n_rows`` written rows: id, vector, label,
    n_chars and the UTF-8 strings."""
    strings = sum(meta[c].fillna("").str.len().sum() for c in ("text", "lang", "source"))
    return int(n_rows * (8 + 4 * gen.DIM + 4 + 8) + strings)


def _upsert_part(run: Run, spark):
    """Set up the write half of ``ingest``: a copy of the IVF layout, an
    empty manifest table and the oracle's view of both, warmed by one
    untimed write cycle. Returns ``(round, finish)``: ``round()`` runs the
    timed write cycles of one round, ``finish()`` records end-of-run
    storage metrics."""
    import pandas as pd
    from pyspark.sql import types as T

    from hybrid_vector_search_spark.operators import ivf
    from hybrid_vector_search_spark.operators.strategies import get_backend
    from hybrid_vector_search_spark.plans.canonical import CANONICAL_QUERIES
    from hybrid_vector_search_spark.plans.registry import load_corpus
    from hybrid_vector_search_spark.serving import ann_serve_or_plan
    from hybrid_vector_search_spark.sources import manifest

    corpus = run.excluded(lambda: gen.build_corpus(
        CORPUS_SEED, run.sf_dir, run.cache, UPSERT_ROWS, UPSERT_LISTS))
    run.detail["corpus"] = {"rows": UPSERT_ROWS, "dim": gen.DIM,
                            "checksum": corpus.checksum}
    if run.tracer is not None:
        run.tracer.wrap(ivf, "upsert_partitioned", "ivf.upsert")
        run.tracer.wrap(manifest, "commit_append", "manifest.commit_append")
        run.tracer.wrap(manifest, "read_snapshot", "manifest.read_snapshot")

    corpus_df = load_corpus(spark, corpus.path)
    corpus_df.count()  # fills the corpus cache, as in hybrid_point
    layout = os.path.join(run.scratch, "ivf")  # this run's copy: writes change it
    shutil.copytree(_ivf_layout(run, corpus_df, corpus), layout)
    table = os.path.join(run.scratch, "table")
    templates = {q.qid: q for q in CANONICAL_QUERIES}
    meta_cols = ["label", "text", "lang", "source", "n_chars"]
    log_schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])

    # oracle state: live layout rows, and the append-only table of written rows
    state = {
        "ids": corpus.meta["id"].to_numpy().copy(),
        "vecs": corpus.emb.copy(),
        "lists": None,
        "untouched": corpus.meta["id"].to_numpy().copy(),
        "next_id": 10_000_000,
        "deleted": set(),
        "log_ids": np.empty(0, np.int64),
        "log_vecs": np.empty((0, gen.DIM), np.float32),
        "log_meta": corpus.meta.iloc[0:0][meta_cols].reset_index(drop=True),
        "version": 0,
    }

    def assign(v):  # the fixed quantizer's list of each row
        return np.argmax(v.astype(np.float64) @ corpus.cents.T, axis=1)

    run.excluded(lambda: state.update(lists=assign(state["vecs"])))

    def next_batch(cycle):
        b = gen.upsert_batch(run.seed, cycle, state["next_id"], state["untouched"],
                             corpus.cents, UPSERT_ROWS, *UPSERT_BATCH)
        new_ids = np.concatenate([b.insert_ids, b.replace_ids])
        meta = corpus.meta.iloc[b.meta_rows][meta_cols].reset_index(drop=True)
        rows = [
            (int(i), v.tolist(), int(m.label), m.text, m.lang, m.source, int(m.n_chars))
            for i, v, m in zip(new_ids, b.vectors, meta.itertuples(index=False))
        ]
        return b, new_ids, meta, rows

    def apply_to_oracle(b, new_ids, meta):
        gone = np.concatenate([b.replace_ids, b.delete_ids])
        keep = ~np.isin(state["ids"], gone)
        state["ids"] = np.concatenate([state["ids"][keep], new_ids])
        state["vecs"] = np.concatenate([state["vecs"][keep], b.vectors])
        state["lists"] = np.concatenate([state["lists"][keep], assign(b.vectors)])
        state["untouched"] = state["untouched"][~np.isin(state["untouched"], gone)]
        state["next_id"] += len(b.insert_ids)
        state["deleted"].update(int(i) for i in b.delete_ids)
        state["log_ids"] = np.concatenate([state["log_ids"], new_ids])
        state["log_vecs"] = np.concatenate([state["log_vecs"], b.vectors])
        state["log_meta"] = pd.concat([state["log_meta"], meta], ignore_index=True)

    def write(b, new_ids, rows):
        up = spark.createDataFrame([(r[0], r[1]) for r in rows],
                                   "id long, embedding array<float>")
        dels = spark.createDataFrame([(int(i),) for i in b.delete_ids], "id long")
        ivf.upsert_partitioned(spark, layout, corpus.cents, up, dels)
        return manifest.commit_append(table, spark.createDataFrame(rows, log_schema))

    def fresh_read(q):
        index = ivf.IVFIndex(ivf.open_partitioned(spark, layout), corpus.cents,
                             partitioned_path=layout)
        t0 = time.perf_counter()
        serve = ann_serve_or_plan(index)
        route_ms = (time.perf_counter() - t0) * 1000.0
        got, _stats = serve.search(q, gen.K)
        return got, route_ms, serve.route

    def check_fresh(q, must_id):
        def check(res):
            got, _route_ms, route = res
            probed = np.argsort(-(corpus.cents @ q), kind="stable")[:ivf.DEFAULT_NPROBE]
            rows = np.flatnonzero(np.isin(state["lists"], probed))
            sc = oracle.scores_f64(state["vecs"], rows, q)
            top = oracle.exact_topk(state["ids"][rows], sc, gen.K)
            dead = [i for i in got if i in state["deleted"]]
            if dead:
                return f"deleted ids {dead[:3]} served"
            if got[:1] != [must_id]:
                return f"just-written id {must_id} not served first ({route})"
            pos = {int(state["ids"][r]): float(s) for r, s in zip(rows, sc)}
            return oracle.same_topk(got, top, pos)
        return check

    def snapshot_read(version, qid, q):
        snap = manifest.read_snapshot(spark, table, version)
        return get_backend("pre_filter", snap, len(state["log_ids"])).search(
            q, templates[qid].filters, gen.K)

    def check_snapshot(qid, q):
        def check(res):
            got, stats = res
            rows = np.flatnonzero(oracle.filter_mask(
                state["log_meta"].reset_index(drop=True), templates[qid].filters))
            if int(stats.get("scored_vectors", -1)) != len(rows):
                return (f"snapshot scored {stats.get('scored_vectors')} rows,"
                        f" {len(rows)} qualify")
            sc = oracle.scores_f64(state["log_vecs"], rows, q)
            top = oracle.exact_topk(state["log_ids"][rows], sc, gen.K)
            pos = {int(state["log_ids"][r]): float(s) for r, s in zip(rows, sc)}
            return oracle.same_topk(got, top, pos)
        return check

    def cycle(c: int, timed: bool = True):
        """One write cycle; untimed (the set-up's warm cycle) it still
        writes, and the oracle follows."""
        b, new_ids, meta, rows = next_batch(c)
        qid = SNAPSHOT_TEMPLATE
        q_fresh = b.vectors[0].astype(np.float64)
        q_fresh = q_fresh / np.linalg.norm(q_fresh)
        q_snap, _ = gen.query_vector(run.seed, c, corpus.cents)
        if not timed:
            state["version"] = write(b, new_ids, rows)
            apply_to_oracle(b, new_ids, meta)
            fresh_read(q_fresh)
            snapshot_read(state["version"], qid, q_snap)
            return
        traced = run.tracer is not None
        before = _listing(layout) if traced else None
        man_before = _listing(table) if traced and os.path.isdir(table) else {}
        version = run.op("upsert", lambda: write(b, new_ids, rows), lambda v: None)
        if version is None:
            raise RuntimeError("write failed; later reads would not be checkable")
        upsert_traced = run.ops[-1]["traced"]
        apply_to_oracle(b, new_ids, meta)
        state["version"] = version
        if upsert_traced:
            after = _listing(layout)
            changed = {k for k, v in after.items() if before.get(k) != v}
            removed = set(before) - set(after)
            lists = {k.split(os.sep)[0] for k in changed | removed if k.startswith("list_id=")}
            batch_bytes = len(new_ids) * (8 + 4 * gen.DIM) + 8 * len(b.delete_ids)
            run.samples["ivf.touched_lists"].append(len(lists))
            run.samples["ivf.rewrite_amplification"].append(
                sum(after[k][0] for k in changed) / batch_bytes)
            man_after = _listing(table)
            new_bytes = sum(v[0] for k, v in man_after.items() if man_before.get(k) != v)
            run.samples["sources.manifest.bytes_written_per_user_byte"].append(
                new_bytes / _user_bytes(len(rows), meta))
            tr = run.tracer
            run.samples["ivf.upsert_ms"].append(
                tr.per_op_ms("ivf.upsert", {run.ops[-1]["id"]})[0])
            run.samples["sources.manifest.commit_append_ms"].append(
                tr.per_op_ms("manifest.commit_append", {run.ops[-1]["id"]})[0])
        res = run.op("fresh_read", lambda: fresh_read(q_fresh),
                     check_fresh(q_fresh, int(new_ids[0])))
        if res is not None and run.ops[-1]["traced"]:
            run.samples["serving.ann_route_ms"].append(res[1])
        run.op("snapshot_read", lambda: snapshot_read(version, qid, q_snap),
               check_snapshot(qid, q_snap))
        if run.ops[-1]["traced"]:
            run.samples["sources.manifest.read_snapshot_ms"].append(
                run.tracer.per_op_ms("manifest.read_snapshot", {run.ops[-1]["id"]})[0])

    # the first cycle of a session pays the write path's one-time costs
    # (~2x a later cycle's time), so it runs untimed in set-up
    cycle(0, timed=False)
    cycles = itertools.count(1)

    def timed_round():
        for _ in range(UPSERT_ROUND):
            cycle(next(cycles))

    def finish():
        if run.tracer is not None:
            parquet = [k for k in _listing(layout) if k.endswith(".parquet")]
            run.layer["sources.storage.layout_files"] = float(len(parquet))
            files = _listing(table)
            run.layer["sources.storage.manifest_files"] = float(len(files))
            live = _user_bytes(len(state["log_ids"]), state["log_meta"])
            run.layer["sources.storage.bytes_per_live_byte"] = (
                sum(v[0] for v in files.values()) / live)
        run.detail["rows_written"] = int(len(state["log_ids"]))
        run.detail["table_version"] = int(state["version"])

    return timed_round, finish


# ===================================================================== streams
def _drain_oracles(run: Run, names) -> dict[str, tuple[int, str]]:
    """(row count, value hash) of each drain's DuckDB oracle at sf0.1,
    cached on disk per (query SQL, input data)."""
    import duckdb

    from hybrid_vector_search_spark.plans.registry import ORACLES
    from hybrid_vector_search_spark.scratch import data_fingerprint
    from hybrid_vector_search_spark.sources.loaders import TESTDATA_TABLES

    fp = data_fingerprint(run.sf_dir)
    path = os.path.join(run.cache, "drain_oracles.json")
    cached = json.load(open(path)) if os.path.exists(path) else {}
    out, con = {}, None
    for name in names:
        key = hashlib.sha256((fp + ORACLES[name]).encode()).hexdigest()[:16]
        if key not in cached:
            if con is None:
                con = duckdb.connect()
                for t in TESTDATA_TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{run.sf_dir}/{t}.parquet'")
            cached[key] = list(oracle.frame_digest(con.execute(ORACLES[name]).df()))
        out[name] = tuple(cached[key])
    with open(path, "w") as f:
        json.dump(cached, f)
    return out


def _stream_part(run: Run, spark):
    """Set up the streaming half of ``ingest``: every query drained once,
    untimed. Returns ``round(rnd)``, which times one seeded-order drain of
    each query."""
    from hybrid_vector_search_spark.plans.registry import QUERIES

    progress: list[dict] = []
    span = run.tracer.span if run.tracer is not None else (
        lambda _name: contextlib.nullcontext())
    if run.tracer is not None:
        spark.streams.addListener(stream_listener(progress))
    want = run.excluded(lambda: _drain_oracles(run, STREAM_QUERIES))

    def drain(name: str):
        t0 = time.perf_counter()
        with span("plans.build"):
            df = QUERIES[name](spark, run.sf_dir)
        t1 = time.perf_counter()
        with span("plans.deliver"):
            pdf = df.toPandas()
        return pdf, (t1 - t0) * 1000.0, (time.perf_counter() - t1) * 1000.0

    def check(name):
        def chk(res):
            got = oracle.frame_digest(res[0])
            if got != want[name]:
                return f"{name}: rows/hash {got} vs oracle {want[name]}"
            return None
        return chk

    # Set-up drains every query once, untimed: a query's first drain in a
    # session pays one-time costs (starting the streaming engine, code
    # generation, class loading), about three times a later drain's time,
    # that a long-lived process pays once.
    for name in STREAM_QUERIES:
        drain(name)

    def timed_round(rnd: int):
        order = np.random.default_rng([run.seed, 7, rnd]).permutation(len(STREAM_QUERIES))
        for j in order:
            name = STREAM_QUERIES[j]
            seen = len(progress)
            res = run.op("drain", lambda: drain(name), check(name), variant=name)
            if run.ops[-1]["traced"] and res is not None:
                run.samples["plans.build_ms"].append(res[1])
                run.samples["plans.deliver_ms"].append(res[2])
                module = QUERIES[name].__module__.rsplit(".", 1)[-1]
                run.samples[f"plans.{module}_ms"].append(run.ops[-1]["ms"])
                events = progress[seen:]
                run.samples["streaming.batches"].append(len(events))
                run.samples["streaming.input_rows"].append(
                    sum(e["input_rows"] for e in events))
                for k in ("state_rows_total", "state_memory_bytes"):
                    run.samples[f"streaming.{k}"].append(
                        max((e[k] for e in events), default=0))
                for ph in STREAM_PHASES:
                    run.samples[f"streaming.{ph}_ms"].append(sum(e[ph] for e in events))

    return timed_round


def ingest(run: Run) -> None:
    """Write cycles into the IVF layout and the manifest table, each followed
    by its fresh and snapshot reads, then streaming drains: the paths that
    take data in, in one session (one Spark start-up for both halves)."""
    spark = run.session()
    writes, finish = _upsert_part(run, spark)
    drains = _stream_part(run, spark)
    run.log("ingest set up")
    for rnd in run.rounds():
        writes()
        drains(rnd)
    finish()


WORKLOADS = {
    "hybrid_point": hybrid_point,
    "ingest": ingest,
}
