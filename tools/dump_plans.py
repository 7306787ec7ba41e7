"""Dump .explain('formatted') for headline queries to plans/<tag>/<query>_<suffix>.txt.

The dumps are local scratch for diffing two trees by hand: ``plans/`` is
gitignored, so cite a plan in a commit message or report by quoting it.

Usage: python tools/dump_plans.py <tag> <suffix> [query ...]
  e.g. python tools/dump_plans.py r18 before
       python tools/dump_plans.py r18 after corpus_clean_stats

Tag and suffix are both required and the tag may not start with "-";
otherwise this text is printed and the exit status is 2.

Runs at $SPARK_GRAFT_SF_DIR (default sf0.1). Captures the static plan
(AdaptiveSparkPlan isFinalPlan=false) — the shape the optimizer committed
to before AQE runtime re-optimization; Exchange counts / join strategies /
PushedFilters are all visible at this stage.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[1].startswith("-"):
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    tag, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    import bench
    from mapreduce_hadoop_spark import registry
    from mapreduce_hadoop_spark.session import get_spark, unpersist_intermediates

    spark = get_spark("dump-plans")
    queries = registry.queries()
    names = list(bench.HEADLINE)
    if only:
        names = [n for n in names if n in only] + sorted(
            q for q in only if q not in bench.HEADLINE and q in queries
        )
    for name in names:
        spark.catalog.clearCache()
        unpersist_intermediates()
        try:
            df = queries[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 — record the failure, keep going
            plan = f"ERROR building plan: {type(e).__name__}: {e}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} @ {sf_dir} ({suffix})\n")
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange mentions)")


if __name__ == "__main__":
    main()
