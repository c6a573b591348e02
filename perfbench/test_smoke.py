"""Smoke test of the benchmark itself (not part of the repository's test
suite; it starts Spark several times and takes a few minutes):

    python -m pytest perfbench/test_smoke.py -q

Each workload runs briefly on tiny inputs, untraced and traced; the
result must carry every metric BENCHMARK.json names, with its unit, and
every output check must pass.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(cwd, workload, trace, scale="0.02", seconds="2"):
    cmd = [sys.executable, *SPEC["command"][1:], "--workload", workload, "--seed", "5",
           "--seconds", seconds, "--trace", str(trace), "--scale", scale]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stdout
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_vocabulary_stems_are_distinct():
    """The DuckDB BM25 check scores raw words; that equals the engine's
    stemmed scoring only while no two vocabulary words share a stem."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from overturemaps_duckdb_spark.functions.stem import porter_stem

    import gen

    stems = [porter_stem(w) for w in gen.VOCAB]
    assert len(set(stems)) == len(gen.VOCAB)
