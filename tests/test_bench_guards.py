"""bench.py's noise guard and detail-file rules, on fake priors and
timings (no Spark run)."""

import importlib.util
import json
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "bench", Path(__file__).resolve().parents[1] / "bench.py"
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _detail(path: Path, sf: float, cpus, queries: dict) -> None:
    doc = {"sf": sf, "queries": queries}
    if cpus is not None:
        doc["cpus"] = cpus
    path.write_text(json.dumps(doc))


def test_outlier_remeasured_against_comparable_prior(tmp_path):
    # the per-core sibling is the comparable prior; the plain file (a
    # different core count) must not be used
    _detail(tmp_path / "BENCH_DETAIL_c8.json", 0.1, 8, {"noisy": 1.0, "ok": 1.0})
    _detail(tmp_path / "BENCH_DETAIL.json", 0.1, 32, {"noisy": 100.0, "ok": 0.1})
    timings = {"noisy": 5.0, "ok": 1.5}
    retimed = []

    def retime(name):
        retimed.append(name)
        timings[name] = 1.2  # the fresh placement

    prior = bench.comparable_prior(tmp_path, 0.1, 8)
    bench.remeasure_outliers(prior, timings, retime)
    assert retimed == ["noisy"]  # > 3x its prior best; "ok" is not
    assert timings == {"noisy": 1.2, "ok": 1.5}


def test_remeasure_keeps_the_better_placement():
    timings = {"q": 4.0}

    def retime(name):
        timings[name] = 9.0  # the re-run was noisier still

    bench.remeasure_outliers({"q": 1.0}, timings, retime)
    assert timings == {"q": 4.0}


def test_prior_must_match_scale_and_cores(tmp_path):
    _detail(tmp_path / "BENCH_DETAIL.json", 0.1, None, {"q": 1.0})
    # a cpus-less (pre-r16) plain artifact counts only at the default
    assert bench.comparable_prior(tmp_path, 0.1, bench.DEFAULT_CPUS) == {"q": 1.0}
    assert bench.comparable_prior(tmp_path, 0.1, 8) == {}
    assert bench.comparable_prior(tmp_path, 0.01, bench.DEFAULT_CPUS) == {}
