"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` on Spark and its
``oracle_sql()`` twin on DuckDB at sf0.01 (or $SPARK_GRAFT_SF_DIR), then
compares row count, column names, and an order-insensitive value hash.

Usage:  python tools/check_oracle.py [query_name ...]

``compare_gate_logs`` compares the rows of two such runs' output (the
GATE_*.log files ``tools/run_gate_matrix.sh`` writes).
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        # Full precision, no int-like normalization: the driver's hasher
        # distinguishes 161.0 (float64, e.g. DuckDB HUGEINT->pandas) from
        # 161 (int64); normalizing here masked exactly that bug class for
        # two rounds. repr round-trips the exact double.
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def src_hash() -> str:
    """sha256 over the engine's source tree (sorted relpath + bytes).

    Emitted into every gate log as `# SRCHASH <hex>`;
    tests/test_registry_rotation.py compares it against the current tree
    whenever a rule-1a/1b tuple is non-empty, so a pinned-hash claim can
    never rest on a log generated before the code it vouches for.
    """
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "mapreduce_hadoop_spark")
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(pkg)):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            h.update(os.path.relpath(path, repo).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_norm_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


# One gate row: "PASS <name>: rows=<n> hash=<h> [<t>s]" or the rows-only
# "ok?  <name>: rows-only (no oracle) rows=<n> hash=<h> [<t>s]".
_GATE_ROW = re.compile(r"^(?:PASS|ok\?)\s+(\S+): .*?rows=(\d+) hash=([0-9a-f]+)", re.M)


def gate_rows(log: str) -> dict[str, tuple[int, str]]:
    """{query: (rows, value hash)} of every PASS / ok? row of a gate log;
    the ``[t s]`` timing is not part of a row's identity."""
    return {m[1]: (int(m[2]), m[3]) for m in _GATE_ROW.finditer(log)}


def compare_gate_logs(prev: str, cur: str) -> tuple[int, list[str], list[str]]:
    """(equal count, differing queries, missing queries) of gate log
    ``cur`` against ``prev``. A query differs when its (rows, hash) moved
    or ``prev`` has no row for it; it is missing when ``cur`` has no row
    for it (a FAIL, or a dropped query)."""
    a, b = gate_rows(prev), gate_rows(cur)
    differ = [q for q in b if a.get(q) != b[q]]
    missing = [q for q in a if q not in b]
    return len(b) - len(differ), differ, missing


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])

    import __spark_entry__ as entry_mod
    from mapreduce_hadoop_spark.session import get_spark, unpersist_intermediates

    print(f"# SRCHASH {src_hash()}")
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        # Cache honesty (mirrors bench.py): the pair builders persist
        # intermediates, and the CacheManager would substitute an earlier
        # query's cached subtree into a later plan — every gate row must
        # verify the standalone plan.
        spark.catalog.clearCache()
        unpersist_intermediates()
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            # Rows-only queries get the SAME value hash the PASS lines
            # carry (round 12 on): there is no oracle to compare against,
            # but the hash lets rule-1a pins prove an output-identical
            # rewrite for rows-only queries exactly like hash-verified
            # ones (tests/test_registry_rotation.py matches either line).
            print(
                f"ok?  {name}: rows-only (no oracle) rows={len(sdf)} "
                f"hash={value_hash(sdf)} [{t_spark:.1f}s]"
            )
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            # Driver-strict dtype gate: the driver's hasher distinguishes
            # float64 161.0 from int64 161 (DuckDB HUGEINT -> pandas float64
            # burned us for two rounds), so a float-vs-nonfloat kind split is
            # a hard failure even when values look equal.
            for c in sorted(sdf.columns):
                sk, ok = sdf[c].dtype.kind, odf[c].dtype.kind
                if (sk == "f") != (ok == "f"):
                    problems.append(f"dtype {c}: spark {sdf[c].dtype} vs oracle {odf[c].dtype}")
            if value_hash(sdf) != value_hash(odf):
                problems.append("value-hash mismatch")
        if problems:
            failures += 1
            print(f"FAIL {name}: {'; '.join(problems)} [{t_spark:.1f}s]")
            if sorted(sdf.columns) == sorted(odf.columns) and len(sdf) and len(odf):
                cols = sorted(sdf.columns)
                a = sdf[cols].copy()
                b = odf[cols].copy()
                a["__h"] = [
                    "\x1f".join(_norm_cell(v) for v in r)
                    for r in a.itertuples(index=False, name=None)
                ]
                b["__h"] = [
                    "\x1f".join(_norm_cell(v) for v in r)
                    for r in b.itertuples(index=False, name=None)
                ]
                only_a = a[~a["__h"].isin(set(b["__h"]))].head(3)
                only_b = b[~b["__h"].isin(set(a["__h"]))].head(3)
                print("  spark-only rows:\n", only_a.drop(columns="__h").to_string(), sep="")
                print("  oracle-only rows:\n", only_b.drop(columns="__h").to_string(), sep="")
        else:
            print(f"PASS {name}: rows={len(sdf)} hash={value_hash(sdf)} [{t_spark:.1f}s]")
    print(f"\n{failures} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
