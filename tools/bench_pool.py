"""Interleaved bench pool at ANY scale dir.

Same-window machine noise is the dominant term of single-shot bench
numbers on the shared VM (r17: a same-tree sf0.1 re-run moved 35%; the
r18 builder measured 4.8-85 s for the IDENTICAL warm query back to
back). This tool makes any committed number a POOL: N alternating
fresh-process ``bench.py`` runs of the current tree and (optionally) a
reference tree from a git worktree, same window, shared warm index
root. The cross-tree comparison cancels the window — both trees see the
same machine state — and the emitted JSON carries every sample so a
reader sees the spread, not one draw.

Usage:
  python tools/bench_pool.py [sf_dir] [samples_per_tree] [prev_tree_dir]
  # e.g. git worktree add /tmp/r17tree <r17-final-sha>
  #      python tools/bench_pool.py /root/testdata/sf0.1 3 /tmp/r17tree

Emits ONE JSON object: headline = the current tree's min-pool total
(min is the right statistic: within-process JIT keeps improving runs,
and external noise only ever adds time), plus per-query mins and the
raw pools for both trees.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench(tree: str, sf_dir: str) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_INDEX_DIR=os.path.join(REPO, ".ann_index"),
    )
    env.pop("SPARK_GRAFT_CPUS", None)  # committed numbers are local[32]
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=tree,
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def pool(sf_dir: str, k: int, prev: "str | None") -> dict:
    pools: dict[str, list[dict]] = {"cur": [], "prev": []}
    for i in range(k):
        pools["cur"].append(run_bench(REPO, sf_dir))
        print(
            f"# cur run {i + 1}/{k}: {pools['cur'][-1]['value']}", file=sys.stderr
        )
        if prev:
            pools["prev"].append(run_bench(prev, sf_dir))
            print(
                f"# prev run {i + 1}/{k}: {pools['prev'][-1]['value']}",
                file=sys.stderr,
            )
    cur = pools["cur"]
    qmin = {q: min(s["queries"][q] for s in cur) for q in cur[0]["queries"]}
    doc = {
        "metric": cur[0]["metric"],
        "value": min(s["value"] for s in cur),
        "unit": "sec",
        "sf": cur[0].get("sf"),
        "protocol": (
            f"min of {k} alternating fresh-process runs"
            + (", interleaved with the reference tree" if prev else "")
        ),
        "queries": qmin,
        "pool": [s["value"] for s in cur],
        "pool_calibration": [s.get("calibration_sec") for s in cur],
        "pool_calibration_shuffle": [
            s.get("calibration_shuffle_sec") for s in cur
        ],
    }
    if prev:
        doc["prev_tree_pool"] = [s["value"] for s in pools["prev"]]
        doc["prev_tree_value"] = min(doc["prev_tree_pool"])
        doc["prev_tree_queries_min"] = {
            q: min(s["queries"][q] for s in pools["prev"])
            for q in pools["prev"][0]["queries"]
        }
        doc["prev_tree_pool_calibration_shuffle"] = [
            s.get("calibration_shuffle_sec") for s in pools["prev"]
        ]
    return doc


def main() -> int:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    prev = sys.argv[3] if len(sys.argv) > 3 else None
    print(json.dumps(pool(sf_dir, k, prev)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
