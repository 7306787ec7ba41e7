"""Interleaved bench pool at ANY scale dir.

Same-window machine noise is the dominant term of single-shot bench
numbers on a shared VM (a same-tree sf0.1 re-run has moved 35%, and the
IDENTICAL warm query has measured 4.8-85 s back to back). This tool
makes any committed number a POOL: N fresh-process ``bench.py`` runs of
the current tree and (optionally) of a reference tree, interleaved in
pairs whose order alternates (cur first, then prev first, ...) so
neither tree always runs on the warmer page cache. Both share one warm
index root. The cross-tree comparison cancels the window — both trees
see the same machine state — and the emitted JSON carries every sample
so a reader sees the spread, not one draw.

Each run inherits the caller's environment, ``SPARK_GRAFT_CPUS``
included, so the pool measures at the core count the caller sets.

Usage:
  python tools/bench_pool.py [sf_dir] [samples_per_tree] [prev_tree_dir]
  # prev_tree_dir is any directory holding the reference checkout, e.g.
  #   mkdir /tmp/ref && git archive <sha> | tar -x -C /tmp/ref
  #   SPARK_GRAFT_CPUS=4 python tools/bench_pool.py /root/testdata/sf0.1 3 /tmp/ref

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
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=tree,
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode == 0 and lines:
        try:
            return json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    tail = "\n".join(out.stderr.strip().splitlines()[-20:])
    raise RuntimeError(
        f"bench.py in {tree} exited {out.returncode} without a JSON result "
        f"line; stderr tail:\n{tail}"
    )


def pool(sf_dir: str, k: int, prev: "str | None") -> dict:
    pools: dict[str, list[dict]] = {"cur": [], "prev": []}
    trees = {"cur": REPO, "prev": prev}
    for i in range(k):
        order = ["cur", "prev"] if i % 2 == 0 else ["prev", "cur"]
        for side in order:
            if trees[side] is None:
                continue
            pools[side].append(run_bench(trees[side], sf_dir))
            print(
                f"# {side} run {i + 1}/{k}: {pools[side][-1]['value']}",
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
