"""The one crash-safe commit protocol (scratch.staged_commit,
recover_staged, swap_directory): a crash at any step of the directory
swap recovers to exactly the old or the new directory, and no package
module outside scratch.py renames a directory or keeps its own marker."""

import ast
import json
import os
import pathlib
import re
import shutil

import pytest

from hybrid_vector_search_spark import scratch
from hybrid_vector_search_spark.errors import ValidationError
from hybrid_vector_search_spark.scratch import (
    pending_marker,
    recover_staged,
    recover_swap,
    staged_commit,
    swap_directory,
    swap_stage,
)


class Crash(RuntimeError):
    pass


def _dir(path, content):
    os.makedirs(path)
    with open(os.path.join(path, "v.txt"), "w") as f:
        f.write(content)


def _content(path):
    with open(os.path.join(path, "v.txt")) as f:
        return f.read()


def _leftovers(live):
    base = os.path.dirname(live)
    return sorted(p for p in os.listdir(base) if p != os.path.basename(live))


@pytest.mark.parametrize(
    "fail_at",
    [
        ("replace", 1),  # the marker never lands: nothing was committed
        ("rename", 1),  # live → old
        ("rename", 2),  # stage → live: between the renames, no live dir
        ("rmtree", 1),  # delete old
        ("remove", 1),  # marker removal
        ("rmtree", 2),  # delete the (consumed) stage after the commit
    ],
)
def test_swap_crash_at_each_step_recovers_old_or_new(
    tmp_path, monkeypatch, fail_at
):
    live = str(tmp_path / "view")
    _dir(live, "old")
    stage = swap_stage(live)
    _dir(stage, "new")
    name, nth = fail_at
    real = {
        "replace": os.replace,
        "rename": os.rename,
        "rmtree": shutil.rmtree,
        "remove": os.remove,
    }
    calls = {k: 0 for k in real}

    def failing(kind):
        def call(*a, **kw):
            calls[kind] += 1
            if kind == name and calls[kind] == nth:
                raise Crash(kind)
            return real[kind](*a, **kw)

        return call

    with monkeypatch.context() as mp:
        mp.setattr(os, "replace", failing("replace"))
        mp.setattr(os, "rename", failing("rename"))
        mp.setattr(os, "remove", failing("remove"))
        mp.setattr(shutil, "rmtree", failing("rmtree"))
        with pytest.raises(Crash):
            swap_directory(stage, live)
    if fail_at == ("rename", 2):
        assert not os.path.isdir(live)  # the state that lost the view
    recover_swap(live)
    want = "old" if name == "replace" else "new"
    assert _content(live) == want
    assert _leftovers(live) == []  # no marker, no stage, no old dir
    assert not recover_swap(live)  # quiescent


def test_staged_commit_replays_and_refuses_a_lost_stage(tmp_path):
    target = str(tmp_path / "layout")
    os.makedirs(target)
    applied = []

    def apply(info):
        applied.append(info["n"])
        if len(applied) == 1:
            raise Crash("inside apply")

    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    with pytest.raises(Crash):
        staged_commit(target, {"stage": stage, "n": 7}, apply)
    assert os.path.exists(pending_marker(target)) and os.path.isdir(stage)
    assert recover_staged(target, apply)  # replayed from the marker
    assert applied == [7, 7]
    assert not os.path.exists(pending_marker(target))
    assert not os.path.isdir(stage)
    assert not recover_staged(target, apply) and applied == [7, 7]

    with open(pending_marker(target), "w") as f:
        json.dump({"stage": stage, "n": 8}, f)
    with pytest.raises(ValidationError, match="missing"):
        recover_staged(target, apply)
    assert os.path.exists(pending_marker(target)) and applied == [7, 7]


def test_one_staged_commit_protocol():
    """Structural guard: scratch.py is the only package module that
    calls ``os.rename`` or spells a ``PENDING`` marker, and none of the
    per-layout recovery functions the helper replaced is back."""
    pkg = pathlib.Path(scratch.__file__).resolve().parent
    gone = re.compile(
        r"recover_pending_(upsert|compaction|append|rollup|purge)"
    )
    found = []
    for path in sorted(pkg.rglob("*.py")):
        mod = path.relative_to(pkg).as_posix()
        text = path.read_text(encoding="utf-8")
        if gone.search(text):
            found.append((mod, "recover_pending_*"))
        if mod == "scratch.py":
            continue
        tree = ast.parse(text)
        os_names = {"os"}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                os_names |= {
                    a.asname or a.name for a in node.names if a.name == "os"
                }
            if isinstance(node, ast.ImportFrom) and node.module == "os":
                if any(a.name == "rename" for a in node.names):
                    found.append((mod, "from os import rename"))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "rename"
                and isinstance(node.value, ast.Name)
                and node.value.id in os_names
            ):
                found.append((mod, f"os.rename at line {node.lineno}"))
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "PENDING" in node.value
            ):
                found.append((mod, f"PENDING literal at line {node.lineno}"))
    assert found == [], found
