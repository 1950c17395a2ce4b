"""Query registry: every implemented operator exposed as a named query with
a DuckDB oracle.

Each entry is ``(spark, sf_dir) -> DataFrame``; ``ORACLES[name]`` is the
ANSI-SQL equivalent DuckDB runs on the same parquet (views: region nation
customer supplier part orders lineitem events documents embeddings). This
pair IS the correctness gate (driver contract in __spark_entry__.py).

Conventions for bit-stable comparison:
* every computed column aliased identically in Spark and SQL;
* float aggregates rounded (sums to 2, ratios/scores to 6) in BOTH engines;
* vector scores computed in float64 in both engines;
* timestamps rendered as strings (Spark session TZ is UTC).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hybrid_vector_search_spark.session import artifact, clear_artifacts
from hybrid_vector_search_spark.sources.loaders import (
    load_corpus as _load_corpus_uncached,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Names registered with side_effects=True (streaming drains, roundtrip
# landings, driver-side escalation loops): exempt from the prepared-plan
# memo, so their bench numbers time a fresh side-effecting pass — the
# bench tags them in BENCH_DETAIL.json so per-query figures are
# self-describing (r15 VERDICT "what's wrong" #2 / next #7).
SIDE_EFFECT_QUERIES: set[str] = set()

# Session-resident hybrid corpus (a session artifact, like every cache).
# Reference parity: its harness loads the vector matrix + metadata into
# RAM once at startup (artifacts/artifacts.py:180-181) and every query
# searches that resident copy — Spark's equivalent is .cache()
# (MEMORY_AND_DISK, partition-distributed: each executor holds its
# slice, spilling to local disk; at 100 TB this is a deliberate
# hot-serving choice, and dropping the .cache() falls back to the
# parquet scan with zero semantic change).
def load_corpus(
    spark: SparkSession, sf_dir: str, with_documents: bool = True
) -> DataFrame:
    full = artifact(
        spark,
        ("corpus", sf_dir),
        lambda: _load_corpus_uncached(spark, sf_dir, True).cache(),
    )
    if with_documents:
        return full
    # ONE resident copy of the wide embedding column: the no-documents
    # variant is a projection over the cached full corpus (the join is
    # LEFT on id, so the row set is identical to the bare embeddings)
    return full.select("id", "embedding", "label")


def invalidate_caches() -> None:
    """Drop every session-scoped artifact (the one store in
    ``session.artifact``: prepared plans, the cached corpus, index
    layouts, landings, bucketed tables, roundtrip fixtures, the parity
    corpus), unpersisting the DataFrames it holds.

    This is the REFRESH HALF of the staleness contract (README
    "Cache invalidation"): memoized plans capture their input file
    listing at build time, so mutating a table's parquet in place
    mid-session leaves a memoized query undefined (stale rows or a
    FileNotFound/footer error — Spark's scan holds the old listing).
    The supported refresh is a new SparkSession (every stored artifact
    carries its owning session, the reference's reload-per-run
    contract — src/harness/run.py:109-112) or this explicit drop within
    one. A fresh ``load_table``/``load_corpus`` call outside the memo
    always re-lists and re-reads."""
    clear_artifacts()
    # the manifest layer's snapshot-plan memo (r16) is part of the same
    # refresh contract: built plans pin file listings at build time
    from hybrid_vector_search_spark.sources.manifest import (
        invalidate_snapshot_plans,
    )

    invalidate_snapshot_plans()


def register(
    name: str, oracle: str | None = None, side_effects: bool = False
):
    """Register a query. Pure builders are memoized as prepared plans,
    keyed (query, sf_dir) in the session artifact store: the memo holds
    the LAZY DataFrame — every action on it re-executes the whole
    physical plan, so results are byte-identical; what it skips is
    re-running the Python builder and Catalyst analysis on each call
    (the prepared-statement pattern, and reference parity: its harness
    builds query artifacts once at startup — src/harness/run.py — and
    times per-query execution only). ``side_effects=True`` marks
    builders that DO work per call (streaming drains, roundtrip
    landings) — they are exempt from the memo because calling them
    again must re-run the side effect, not just return the prior sink
    plan."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if side_effects:
            SIDE_EFFECT_QUERIES.add(name)
            QUERIES[name] = fn
        else:

            def prepared(
                spark: SparkSession, sf_dir: str, _fn=fn, _name=name
            ) -> DataFrame:
                return artifact(
                    spark, ("prepared", _name, sf_dir),
                    lambda: _fn(spark, sf_dir),
                )

            prepared.__name__ = fn.__name__
            prepared.__doc__ = fn.__doc__
            prepared.__wrapped__ = fn
            QUERIES[name] = prepared
        if oracle is not None:
            ORACLES[name] = oracle
        return QUERIES[name]

    return deco


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-local result rows → DataFrame, via pandas + Arrow.

    Many registered queries do their real work driver-side (backend
    searches, costed dispatches, audit folds) and return a handful of
    literal rows. ``spark.createDataFrame(list_of_tuples, ...)``
    parallelizes those rows as a PICKLED Python RDD, so every downstream
    action launches a Python-worker task just to deserialize them —
    measured ~1.2 s per collect for 20 rows on this host (guide §4: the
    JVM↔Python boundary, paid where no Python is needed at all). Routing
    through a pandas DataFrame with the Arrow conversion path keeps the
    rows JVM-resident after one driver-side Arrow encode: the same
    collect measures ~0.3 s, with identical values and declared types.

    Falls back to the plain verified path when conversion cannot
    represent the rows (exotic nested types, malformed records) — a
    performance fast-path only, never a semantics change."""
    import pandas as pd
    from pyspark.sql import types as T

    try:
        st = (
            schema
            if isinstance(schema, T.StructType)
            else T._parse_datatype_string(schema)
        )
        rows = list(rows)
        # Integral/decimal columns are built with OBJECT dtype: pandas
        # inference coerces an int column containing None to float64
        # (None→NaN), silently rounding BIGINTs above 2^53 before the
        # Arrow cast back — no exception, so the verified fallback
        # below never fired (r15 ADVICE #2). Object columns hand the
        # exact Python ints to Arrow, which casts losslessly or raises
        # (and then the fallback path takes over).
        exact = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                 T.DecimalType)
        data = {
            f.name: pd.Series(
                [r[i] for r in rows],
                dtype=object if isinstance(f.dataType, exact) else None,
            )
            if rows
            else pd.Series([], dtype=object)
            for i, f in enumerate(st.fields)
        }
        pdf = pd.DataFrame(data, columns=[f.name for f in st.fields])
        return spark.createDataFrame(pdf, st)
    except Exception:
        return spark.createDataFrame(rows, schema)


# The wide hybrid corpus as a DuckDB CTE (mirrors sources.loaders.load_corpus)
CORPUS_CTE = (
    "WITH corpus AS (SELECT e.vec_id AS id, e.embedding, e.label, "
    "d.text, d.lang, d.source, d.n_chars "
    "FROM embeddings e LEFT JOIN documents d ON e.vec_id = d.doc_id)"
)


# ---------------------------------------------------------------------------
# Query families (r11 split, verdict task 7): contiguous slices of the
# former single-file registry, imported IN ORDER so registration order,
# query names, and oracle strings stay byte-identical. Family helpers are
# imported from their own module, never through this hub.
from hybrid_vector_search_spark.plans import (  # noqa: E402, F401
    registry_hybrid_ann,
    registry_corpus,
    registry_retrieval,
    registry_relational,
    registry_lakehouse,
    registry_ann_metrics,
    registry_streaming_layouts,
    registry_costed,
    registry_sketches,
)
