"""tools/bench_pool.py without Spark: ``subprocess.run`` is replaced by a
fake ``bench.py`` that records each call and prints one result line."""

from __future__ import annotations

import json
import subprocess

import pytest

from tools import bench_pool


def _fake_runs(monkeypatch, *, returncode=0, stdout=None):
    calls = []

    def fake_run(cmd, cwd, env, **kw):
        calls.append((cwd, env))
        line = json.dumps(
            {"metric": "headline_queries_total", "value": float(len(calls)),
             "queries": {"q": 1.0}, "sf": 0.1}
        )
        return subprocess.CompletedProcess(
            cmd, returncode, stdout=line + "\n" if stdout is None else stdout,
            stderr="boot\nTraceback: boom\n",
        )

    monkeypatch.setattr(bench_pool.subprocess, "run", fake_run)
    return calls


def test_pool_keeps_caller_cores_and_alternates_tree_order(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    calls = _fake_runs(monkeypatch)
    doc = bench_pool.pool("/data/sf0.1", 4, "/tmp/ref")
    assert [cwd for cwd, _ in calls] == [
        bench_pool.REPO, "/tmp/ref",
        "/tmp/ref", bench_pool.REPO,
        bench_pool.REPO, "/tmp/ref",
        "/tmp/ref", bench_pool.REPO,
    ]
    assert all(env["SPARK_GRAFT_CPUS"] == "4" for _, env in calls)
    assert all(env["SPARK_GRAFT_SF_DIR"] == "/data/sf0.1" for _, env in calls)
    assert doc["pool"] == [1.0, 4.0, 5.0, 8.0]
    assert doc["prev_tree_pool"] == [2.0, 3.0, 6.0, 7.0]


def test_pool_without_reference_runs_current_tree_only(monkeypatch):
    calls = _fake_runs(monkeypatch)
    doc = bench_pool.pool("/data/sf0.1", 3, None)
    assert [cwd for cwd, _ in calls] == [bench_pool.REPO] * 3
    assert "prev_tree_pool" not in doc


@pytest.mark.parametrize(
    "returncode, stdout", [(1, None), (0, ""), (0, "warm-up only\n")]
)
def test_failed_child_raises_with_stderr_tail(monkeypatch, returncode, stdout):
    _fake_runs(monkeypatch, returncode=returncode, stdout=stdout)
    with pytest.raises(RuntimeError, match="Traceback: boom"):
        bench_pool.run_bench("/tmp/ref", "/data/sf0.1")
