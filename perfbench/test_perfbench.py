"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The input and check tests need no Spark session; the smoke runs start the
benchmark as its own process, from the source tree (about a minute each).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import checks  # noqa: E402
import inputs  # noqa: E402


def _generate(dst: Path, seed: int) -> Path:
    inputs.generate(str(dst), seed)
    inputs.segments_csv(str(dst / "tables"), str(dst / "segments.csv"), seed)
    inputs.stream_split(str(dst / "tables"), str(dst / "stream"), 3)
    return dst


def _files(root: Path) -> list[str]:
    return sorted(str(p.relative_to(root)) for p in root.rglob("*") if p.is_file())


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _generate(tmp_path / "a", 7)
    b = _generate(tmp_path / "b", 7)
    c = _generate(tmp_path / "c", 8)
    names = _files(a)
    assert names == _files(b) == _files(c)
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    # Every reordered table and the segment file change; the fixed
    # dimensions and the time-ordered stream split may not.
    assert {"tables/lineitem.parquet", "tables/events.parquet", "segments.csv"} <= set(mismatch)


def test_corrupted_output_is_a_failure(tmp_path):
    tables = str(_generate(tmp_path / "g", 7) / "tables")
    oracle = checks.Oracle(tables)
    good = oracle.con.execute(oracle.sql["pricing_summary"]).df()
    assert oracle.compare("pricing_summary", good) == []
    bad = good.copy()
    col = next(c for c in bad.columns if bad[c].dtype.kind == "f")
    bad.loc[0, col] += 0.01
    assert oracle.compare("pricing_summary", bad)
    assert oracle.compare("pricing_summary", good.iloc[1:])


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload,seed,trace", [
    ("curation_ann", 3, "0"),
    ("taxi_reference", 4, "1"),
    ("taxi_reference", 5, "0"),
])
def test_smoke_run_prints_the_manifest_metrics(workload, seed, trace):
    r = _run(ROOT, "--workload", workload, "--seed", str(seed), "--seconds", "1",
             "--trace", trace)
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0, r.stdout
    manifest = json.loads((ROOT / "BENCHMARK.json").read_text())
    specs = manifest["per_layer" if trace == "1" else "end_to_end"]
    assert list(result["metrics"]) == [s["name"] for s in specs]
    for s in specs:
        assert result["metrics"][s["name"]]["unit"] == s["unit"]
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_outside_a_source_tree_it_fails_without_a_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = _run(tmp_path, "--workload", "curation_ann", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout
    assert not os.path.exists(tmp_path / ".perfbench_work")
