"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]`` (single JVM); the configs below are the
ones that also matter on a 1000-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), Arrow for the pandas-UDF
scoring path, UTC session time zone so results compare bit-for-bit against
the DuckDB oracle, and shuffle partitions sized to the parallelism at hand
rather than the 200 default.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# Local-mode knobs: the driver machine has 32 cores / 128 GiB.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "hybrid_vector_search_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    On a real cluster, callers pass ``master=None`` and submit via
    spark-submit; locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    master = master or f"local[{_DEFAULT_CPUS}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(_DEFAULT_CPUS) if master.startswith("local") else 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark records the Python call site of every Column function
        # call (about five py4j round trips each: F.col 1.8 ms instead of
        # 0.7 ms) for error messages; errors keep their text without it
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ------------------------------------------------ session artifact store
#
# Every session-scoped artifact the registry builds (prepared plans, the
# resident corpus, index layouts, landings, scratch roots) lives here,
# keyed by a tuple whose first element names the artifact kind. An entry
# carries the SparkSession that built it: a DataFrame bound to a stopped
# or replaced session would raise on first use, so a different session
# object rebuilds — the reference's reload-per-run contract
# (src/harness/run.py:109-112). ``clear_artifacts`` is the explicit
# refresh within one session.
_ARTIFACTS: dict[tuple, tuple[SparkSession, object]] = {}


def artifact(spark: SparkSession, key: tuple, build):
    """``build()``'s result, built once per (session, ``key``)."""
    got = _ARTIFACTS.get(key)
    if got is not None and got[0] is spark:
        return got[1]
    value = build()
    _ARTIFACTS[key] = (spark, value)
    return value


def cache_entry(df) -> int | None:
    """Id of the Spark cache entry holding ``df``'s plan, or None when
    the plan is not cached. The id is the RDD id of the entry's cached
    column buffers: ``unpersist()`` and a later ``.cache()`` of the same
    plan make a new entry with a new id, while the plan (and its
    ``semanticHash``) stays the same. The lookup is by plan, as
    ``df.storageLevel``'s is, so every handle over a cached plan finds
    the entry.

    The full lookup is nine py4j round trips. The id it finds is kept on
    the handle (with the session it was found in), and a later call
    confirms it with two: whether the SparkContext still holds the RDD
    as persistent. That is sound because a plan has at most one cache
    entry, ``unpersist()`` removes the entry's RDD id, and RDD ids are
    never reused within one SparkContext; once the id is gone, the next
    call looks the plan up again."""
    spark = df.sparkSession
    known = getattr(df, "_hvs_cache_entry", None)
    if (
        known is not None
        and known[0] is spark
        and spark.sparkContext._jsc.getPersistentRDDs().containsKey(known[1])
    ):
        return known[1]
    got = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(
        df._jdf
    )
    if got.isEmpty():
        return None
    builder = got.get().cachedRepresentation().cacheBuilder()
    entry = int(builder.cachedColumnBuffers().id())
    df._hvs_cache_entry = (spark, entry)
    return entry


_RESIDENT_LOCK = threading.RLock()


def resident_artifact(df, key: tuple, build):
    """``build()``'s result memoized per Spark cache entry holding
    ``df``'s plan (:func:`cache_entry`), or None when the plan is not
    cached. For work that depends only on the rows of a cached frame:
    they cannot change under the entry, and a re-cached plan is a new
    entry, so a memo never outlives the rows it was built from. A miss
    first drops every resident entry whose cache entry is gone, then
    builds under one lock, so concurrent first callers build once."""
    entry = cache_entry(df)
    if entry is None:
        return None
    spark = df.sparkSession
    full = (key[0], ("cache_entry", entry), *key[1:])
    got = _ARTIFACTS.get(full)
    if got is not None and got[0] is spark:
        return got[1]
    with _RESIDENT_LOCK:
        live = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        for k in list(_ARTIFACTS):
            gone = _entry_of(k)
            if gone is not None and gone not in live:
                del _ARTIFACTS[k]
        return artifact(spark, full, build)


def _entry_of(key: tuple) -> int | None:
    """The cache entry id a :func:`resident_artifact` key carries."""
    tag = key[1] if len(key) > 1 else None
    if isinstance(tag, tuple) and tag[:1] == ("cache_entry",):
        return tag[1]
    return None


def stored(kind: str) -> list:
    """The values of every stored artifact of ``kind``."""
    return [v for k, (_s, v) in list(_ARTIFACTS.items()) if k[0] == kind]


def _unpersist(value) -> None:
    if isinstance(value, (tuple, list)):
        for item in value:
            _unpersist(item)
    elif hasattr(value, "unpersist"):
        try:
            value.unpersist()
        except Exception:  # session already stopped
            pass


def clear_artifacts(kind: str | None = None) -> None:
    """Drop every stored artifact (or only those whose key starts with
    ``kind``), unpersisting each DataFrame it holds (including
    DataFrames inside tuples)."""
    for key in [k for k in _ARTIFACTS if kind is None or k[0] == kind]:
        _unpersist(_ARTIFACTS.pop(key)[1])
