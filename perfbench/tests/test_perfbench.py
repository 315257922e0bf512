"""Self-tests of the benchmark (not of the package).

    python3 -m pytest perfbench/tests -q

The last test starts Spark and runs every workload once on tiny
inputs, traced and untraced (about four minutes on 4 cores).
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
import stats  # noqa: E402
import tracing as tr  # noqa: E402


def test_percentile_refuses_thin_tail():
    assert stats.percentile(range(1, 101), 90) == 90
    assert stats.percentile(range(1, 21), 50) == 10
    with pytest.raises(ValueError):
        stats.percentile(range(1, 100), 90)  # 9 samples beyond p90
    with pytest.raises(ValueError):
        stats.percentile(range(1, 20), 50)


def test_interval_arithmetic():
    assert tr.union([(5, 6), (0, 2), (1, 3)]) == [(0, 3), (5, 6)]
    assert tr.subtract([(0, 10)], [(2, 4), (3, 5), (8, 12)]) == [(0, 2), (5, 8)]
    assert tr.length([(0, 2), (1, 3), (5, 6)]) == 4


def _span(i, layer, parent, start, end, op="op1"):
    return tr.Span(i, f"s{i}", layer, parent, op, start, end)


def _job(i, group, start, end, run=1.0):
    return tr.Job(i, group, start, end, 2, run, run / 2, 10, 0, 0, 0)


def test_self_time_nested_and_overlapping_spans():
    # plans span 0..10 with two overlapping children (threads) 2..5 and
    # 4..8 in io, and a grandchild 3..4 in functions.feature
    spans = [
        _span(1, "plans", None, 0.0, 10.0),
        _span(2, "io", 1, 2.0, 5.0),
        _span(3, "io", 1, 4.0, 8.0),
        _span(4, "functions.feature", 2, 3.0, 4.0),
        _span(5, "io", None, 0.0, 1.0, op="setup"),  # outside the ops: ignored
    ]
    jobs = [
        _job(1, "perfbench-1", 0.0, 1.0),
        _job(2, "perfbench-3", 6.0, 7.0, run=3.0),
        _job(3, None, 9.0, 9.5),
        _job(4, "stream-run", 1.0, 2.0),
    ]
    m = tr.layer_metrics(spans, jobs, {"stream-run"}, ["op1"])
    assert m["plans.busy_s"] == pytest.approx(4.0)  # 10 - union(2..8)
    assert m["plans.driver_s"] == pytest.approx(3.0)  # minus its job 0..1
    assert m["io.busy_s"] == pytest.approx(2.0 + 4.0)  # (3 - 1) + 4
    assert m["io.driver_s"] == pytest.approx(6.0 - 1.0)
    assert m["functions.feature.busy_s"] == pytest.approx(1.0)
    assert m["io.executor_run_s"] == pytest.approx(3.0)
    assert m["plans.spark_jobs"] == 1
    assert m["unattributed.spark_jobs"] == 1
    assert m["streaming.spark_jobs"] == 1
    assert m["io.spark_stages"] == 2


def test_metric_names_are_well_formed_and_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"^[A-Za-z0-9_.-]+$", n) and len(n) <= 64, n
    assert [m["name"] for m in spec["per_layer"]] == tr.metric_names()
    assert all(m["unit"] == tr.metric_unit(m["name"]) for m in spec["per_layer"])


def _files(d: Path) -> dict[str, bytes]:
    return {str(p.relative_to(d)): p.read_bytes() for p in sorted(d.rglob("*")) if p.is_file()}


def _write(seed: int, d: Path) -> dict[str, bytes]:
    from web_attack_detection_spark.io.unsw import UNSW_COLUMNS

    t = gen.tables(seed, 1, 0.001, hot_docs=5)
    gen.write_tables(t, str(d))
    gen.write_unsw_csvs(t["events"], str(d / "unsw"), UNSW_COLUMNS)
    return _files(d)


def test_generator_is_seeded(tmp_path):
    a = _write(7, tmp_path / "a")
    b = _write(7, tmp_path / "b")
    c = _write(8, tmp_path / "c")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a if not k.startswith(("region", "nation")))


def test_smoke_all_workloads(monkeypatch, capsys):
    """Every workload on sf0.001-sized inputs exits 0 and fails nothing."""
    import run
    import workloads

    monkeypatch.setattr(workloads, "DETECT_SF", 0.001)
    monkeypatch.setattr(workloads, "MIX_SF", 0.001)
    import os
    import tempfile

    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "PYTHONPATH", "JAVA_TOOL_OPTIONS",
                "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    monkeypatch.setattr(tempfile, "tempdir", tempfile.gettempdir())
    for w in run.WORKLOAD_NAMES:
        for trace in (0, 1):
            # a new seed per call: the program memoizes fixture dirs by
            # input path for the life of the process, and the path is
            # derived from workload, seed and pid
            seed = str(3 + trace)
            rc = run.main(["--workload", w, "--seed", seed, "--seconds", "1", "--trace", str(trace)])
            lines = capsys.readouterr().out.strip().splitlines()
            assert rc == 0
            details, result = json.loads(lines[-2]), json.loads(lines[-1])
            assert details["failed_ratio"] == 0, details.get("failures")
            assert result["correct"] and result["failed"] == 0
            want = run.END_TO_END if trace == 0 else tr.metric_names()
            assert sorted(result["metrics"]) == sorted(want)
