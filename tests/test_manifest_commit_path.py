"""The manifest table format's single commit loop, single file pruner
and single format-1 adapter (sources/manifest.py): every commit that
writes data files checks the batch schema, OPTIMIZE keeps per-file
blooms, reading a format-1 table writes nothing, and the structure
stays single (an AST guard)."""

import ast
import os
import pathlib

import pytest

from hybrid_vector_search_spark.errors import ValidationError
from hybrid_vector_search_spark.sources import manifest as M

PKG = pathlib.Path(M.__file__).resolve().parents[1]


def _ids(df):
    return {r["id"] for r in df.collect()}


def _tree(root):
    """Every file under ``root``, root-relative."""
    return {
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, files in os.walk(root)
        for f in files
    }


def test_data_commits_refuse_divergent_batch_types(spark, tmp_path):
    """commit_replace_values, commit_rewrite and commit_rewrite_clustered
    refuse a batch whose column type diverges from the table's, before
    any file is written: the head does not move and the table still
    reads back (a committed batch would make every later scan fail)."""
    good = spark.createDataFrame(
        [(i, i % 2) for i in range(6)], "id long, b int"
    )
    bad = spark.createDataFrame([("7", 0)], "id string, b int")
    for name, commit in (
        ("replace", lambda root, df: M.commit_replace_values(root, df, "b", [0])),
        ("rewrite", lambda root, df: M.commit_rewrite(root, df)),
        (
            "rewrite_clustered",
            lambda root, df: M.commit_rewrite_clustered(root, df, "b"),
        ),
    ):
        root = str(tmp_path / name)
        M.commit_append_clustered(root, good, "b")
        before = _tree(root)
        with pytest.raises(ValidationError, match="id string"):
            commit(root, bad)
        assert M.current_version(root) == 1, name
        assert _tree(root) == before, name
        assert _ids(M.read_snapshot(spark, root)) == set(range(6)), name
        assert commit(root, good.filter("b = 0")) == 2, name


def test_optimize_keeps_per_file_blooms(spark, tmp_path):
    """OPTIMIZE re-records the blooms every live group carries, so ndv
    estimates and bloom file skipping survive the compaction; columns
    the table never bloomed stay unbloomed."""
    root = str(tmp_path / "tbl")
    for lo in (0, 20, 40):
        M.commit_append(
            root,
            spark.createDataFrame(
                [(i, 2 * (i % 7)) for i in range(lo, lo + 20)],
                "id long, v int",
            ),
            bloom_columns=["v"],
        )
    ndv = M.manifest_column_stats(root, ["v"])["v"]["ndv"]
    assert M.optimize(spark, root, n_files=2) == 4
    st = M.manifest_column_stats(root, ["v"])
    assert st["v"]["ndv"] == ndv and st["__table__"]["count"] == 60
    # 5 lies inside every file's [0, 12] range but in no file: only the
    # re-recorded blooms can skip them
    _v, kept, total, kept_minmax = M.snapshot_files_pruned_eq(root, "v", 5)
    assert (total, kept_minmax, kept) == (2, 2, [])
    _v, kept, _total = M.snapshot_files_probe_pruned(root, None, [], "v", [5])
    assert kept == []
    assert _ids(M.read_snapshot(spark, root)) == set(range(60))
    with pytest.raises(ValidationError, match="no bloom for 'id'"):
        M.manifest_column_stats(root, ["id"])


def test_format1_reads_write_nothing_and_first_commit_migrates(
    spark, tmp_path
):
    """Reading and pruning a hand-built format-1 (inline) table creates
    no file under its root — the adapter works in memory — and the
    first commit over it still migrates it into sidecar groups."""
    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id long, label int"
    )
    rels = [  # three files with disjoint id ranges
        rel
        for lo in (0, 10, 20)
        for rel in M._write_data_files(
            df.filter(f"id >= {lo} AND id < {lo + 10}"), root, 1
        )
    ]
    assert M._try_commit_manifest(
        root,
        1,
        {
            "files": rels,
            "stats": M._footer_stats(root, rels),
            "schema": df.schema.jsonValue(),
            "op": "append",
            "added": len(rels),
            "delete_files": [],
        },
    )
    before = _tree(root)
    assert _ids(M.read_snapshot(spark, root)) == set(range(30))
    assert M.snapshot_files(root) == (1, [os.path.join(root, r) for r in rels])
    _v, kept, total = M.snapshot_files_pruned(root, "id", 0, 4)
    assert total == 3 and 1 <= len(kept) < 3
    assert _ids(M.read_snapshot_pruned(spark, root, "id", 0, 4)) == set(
        range(5)
    )
    assert _ids(M.read_snapshot_pruned_in(spark, root, "id", [3, 29])) == {
        3, 29,
    }
    assert _ids(
        M.read_snapshot_pruned_multi(spark, root, [("id", 2, 6), ("label", 0, 0)])
    ) == {3, 6}
    assert _ids(
        M.read_snapshot_probe_pruned(spark, root, "label", [1], "id", [4, 5])
    ) == {4, 5}
    assert M.snapshot_files_pruned_eq(root, "id", 7)[2] == 3
    assert M.manifest_column_stats(root, [])["__table__"]["count"] == 30
    assert _tree(root) == before

    v2 = M.commit_append(
        root,
        spark.createDataFrame(
            [(i, i % 3) for i in range(30, 40)], "id long, label int"
        ),
    )
    desc = M._read_manifest(root, v2)
    assert "groups" in desc and "files" not in desc
    assert all(os.path.exists(os.path.join(root, g["path"])) for g in desc["groups"])
    assert _ids(M.read_snapshot(spark, root)) == set(range(40))


def _calls_by_function(tree, pred):
    """Names of the top-level functions (``<module>`` for module code)
    holding a node for which ``pred`` is true, one entry per node."""
    found = []
    for top in tree.body:
        name = (
            top.name
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
            else "<module>"
        )
        found.extend(name for node in ast.walk(top) if pred(node))
    return found


def _named(node, name):
    return getattr(node, "id", None) == name or getattr(node, "attr", None) == name


def test_one_commit_loop_and_one_format1_adapter():
    """Structural guard: the CAS is attempted from exactly one function
    in the package, the commit retry budget drives only that loop and
    optimize's outer re-read loop, and no code outside the format-1
    adapter tests a descriptor for format 1."""
    cas, retries, fmt1 = [], [], []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        mod = path.relative_to(PKG).with_suffix("").as_posix()
        cas += [
            f"{mod}.{f}"
            for f in _calls_by_function(
                tree,
                lambda n: isinstance(n, ast.Call)
                and _named(n.func, "_try_commit_manifest"),
            )
        ]
        retries += [
            f"{mod}.{f}"
            for f in _calls_by_function(
                tree,
                lambda n: isinstance(n, ast.Call)
                and _named(n.func, "range")
                and any(_named(a, "_MAX_COMMIT_RETRIES") for a in n.args),
            )
        ]
        fmt1 += [
            f"{mod}.{f}"
            for f in _calls_by_function(
                tree,
                lambda n: isinstance(n, ast.Compare)
                and isinstance(n.left, ast.Constant)
                and n.left.value == "groups"
                and any(isinstance(op, (ast.In, ast.NotIn)) for op in n.ops),
            )
        ]
    assert cas == ["sources/manifest._commit"], cas
    assert sorted(retries) == [
        "sources/manifest._commit",
        "sources/manifest.optimize",
    ], retries
    assert fmt1 == ["sources/manifest._read_descriptor"], fmt1
