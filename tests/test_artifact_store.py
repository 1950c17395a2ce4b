"""The session artifact store (session.artifact): one memo for every
session-scoped registry artifact, with the session-identity check and the
refresh (invalidate_caches) done in one place. sf0.001 only."""

import ast
import os
from pathlib import Path

from pyspark import StorageLevel

from hybrid_vector_search_spark.plans import registry as R
from hybrid_vector_search_spark.session import artifact
from hybrid_vector_search_spark.sources.loaders import DEFAULT_SF_DIR

#: the smallest test-data scale, a sibling of the default one
SF = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
PLANS = Path(R.__file__).parent

#: the registry's own name → builder/oracle tables: registrations, not caches
REGISTRY_TABLES = {"QUERIES", "ORACLES"}


def _counting_build():
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    return calls, build


def test_build_runs_once_per_key_per_session(spark):
    calls, build = _counting_build()
    assert artifact(spark, ("t_once", SF), build) == 1
    assert artifact(spark, ("t_once", SF), build) == 1
    assert artifact(spark, ("t_once", "other"), build) == 2
    assert len(calls) == 2


def test_new_session_rebuilds(spark):
    calls, build = _counting_build()
    assert artifact(spark, ("t_session", SF), build) == 1
    other = spark.newSession()
    assert artifact(other, ("t_session", SF), build) == 2
    assert artifact(other, ("t_session", SF), build) == 2
    assert len(calls) == 2


def test_invalidate_empties_store_and_unpersists_tuples(spark):
    df = spark.range(10).persist()
    df.count()
    assert df.storageLevel != StorageLevel.NONE
    artifact(spark, ("t_tuple", SF), lambda: ("root", (df, 3)))
    R.invalidate_caches()
    assert df.storageLevel == StorageLevel.NONE
    calls, build = _counting_build()
    artifact(spark, ("t_tuple", SF), build)
    assert calls == [1]  # the old entry is gone: the key rebuilt


def test_invalidate_rebuilds_bucketed_corpus_join(spark, monkeypatch):
    """Regression: the bucketed corpus join used to live in a cache that
    invalidate_caches() never found, so a refresh kept serving the join
    built before it."""
    q = R.QUERIES["corpus_bucketed_profile"]
    q(spark, SF)
    R.invalidate_caches()
    opened = []
    table = spark.table
    monkeypatch.setattr(
        spark, "table", lambda name: opened.append(name) or table(name)
    )
    q(spark, SF)
    assert any(n.startswith("hvs_corpus_") for n in opened), opened


def _is_empty_mapping(node) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    return (
        isinstance(node, ast.Call)
        and getattr(node.func, "id", getattr(node.func, "attr", ""))
        in ("dict", "OrderedDict", "defaultdict", "WeakValueDictionary")
    )


def test_plans_keep_no_private_caches():
    """Every session cache goes through the one store: no module under
    plans/ defines its own module-level dict cache or compares a cached
    session with ``is spark``."""
    found = []
    for path in sorted(PLANS.glob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node in tree.body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and (
                node.value is not None and _is_empty_mapping(node.value)
            ):
                targets = node.targets if isinstance(node, ast.Assign) else [
                    node.target
                ]
                names = {getattr(t, "id", None) for t in targets}
                if not names <= REGISTRY_TABLES:
                    found.append(f"{path.name}:{node.lineno} dict cache")
        for node in ast.walk(tree):
            if isinstance(node, ast.Compare) and any(
                isinstance(op, (ast.Is, ast.IsNot)) for op in node.ops
            ):
                operands = [node.left, *node.comparators]
                if any(getattr(o, "id", None) == "spark" for o in operands):
                    found.append(f"{path.name}:{node.lineno} `is spark`")
    assert not found, found


def test_get_spark_turns_dataframe_debugging_off(spark):
    """``get_spark`` turns off PySpark's per-call call-site capture
    (about five py4j round trips per Column function call)."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_invalidate_rebuilds_every_prepared_plan(spark):
    """After ``invalidate_caches()`` every query not marked
    ``side_effects`` returns a new prepared plan object: no builder keeps
    a plan of its own past the refresh. Only plan identity is checked;
    no action runs on the plans."""
    names = sorted(set(R.QUERIES) - R.SIDE_EFFECT_QUERIES)
    before = {name: R.QUERIES[name](spark, SF) for name in names}
    assert all(R.QUERIES[name](spark, SF) is before[name] for name in names)
    R.invalidate_caches()
    kept = [n for n in names if R.QUERIES[n](spark, SF) is before[n]]
    assert not kept
