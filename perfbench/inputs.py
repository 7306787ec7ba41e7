"""Seeded input generator.

Every workload starts from the ten base tables in ``perfbench/base`` (a
byte copy of the engine's sf0.01 test tables). The generator

1. writes them through the key-shifted replication of
   ``tools.make_scale_data.replicate`` (imported, not copied) at factor 1;
2. permutes the rows of every fact table with a generator seeded by
   ``--seed``, so each seed writes different bytes while every query
   computes the same thing over the same row multiset;
3. adds the workload's extra inputs: reference-format segment CSV for the
   command-line job, or a time-ordered file split for the stream.

The same seed always writes byte-identical files.
"""

from __future__ import annotations

import contextlib
import os
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = Path(__file__).resolve().parent / "base"

# Dimension tables that replicate() keeps as one copy; their row order is
# left alone so the join build sides stay identical across seeds.
FIXED = {"region", "nation"}


def replicate(src: str, dst: str) -> None:
    from tools.make_scale_data import replicate as _replicate

    # Factor 1: one copy of each table, written and schema-checked the way
    # every derived scale is (a larger factor does not fit the run budget).
    # replicate() reports one line per table on stdout; the benchmark's
    # stdout carries only its own report.
    with contextlib.redirect_stdout(sys.stderr):
        _replicate(src, dst, 1)


def shuffle_tables(dst: str, seed: int) -> None:
    """Permute every non-fixed table's rows; the schema is kept exactly."""
    for path in sorted(Path(dst).glob("*.parquet")):
        if path.stem in FIXED:
            continue
        t = pq.read_table(path)
        rng = np.random.default_rng([seed, t.num_rows, len(path.stem)])
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, path)


def segments_csv(tables: str, out: str, seed: int) -> None:
    """Write the taxi positions (``gps.POSITIONS_SQL``, evaluated in DuckDB)
    as reference-format segment CSV: each taxi's consecutive fixes become
    one ``taxi,'ts1',lat1,lon1,'s1','ts2',lat2,lon2,'s2'`` line, with
    timestamps at whole seconds like the reference files. Of several fixes
    of one taxi in one second only the first by event id is kept, so
    (taxi, t) stays unique and the trip replay has one order. Lines are
    written in a seeded order."""
    import duckdb

    from mapreduce_hadoop_spark.operators.gps import POSITIONS_SQL

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tables}/events.parquet'")
    q = f"""
    WITH p AS (
        SELECT taxi, floor(t) AS t, lat, lon, status
        FROM ({POSITIONS_SQL})
        QUALIFY row_number() OVER (PARTITION BY taxi, floor(t) ORDER BY event_id) = 1
    ), s AS (
        SELECT taxi, t AS t1, lat AS lat1, lon AS lon1, status AS s1,
               lead(t) OVER w AS t2, lead(lat) OVER w AS lat2,
               lead(lon) OVER w AS lon2, lead(status) OVER w AS s2
        FROM p WINDOW w AS (PARTITION BY taxi ORDER BY t)
    )
    SELECT taxi, strftime(to_timestamp(t1), '%Y-%m-%d %H:%M:%S'), lat1, lon1, s1,
           strftime(to_timestamp(t2), '%Y-%m-%d %H:%M:%S'), lat2, lon2, s2
    FROM s WHERE t2 IS NOT NULL ORDER BY taxi, t1
    """
    rows = con.execute(q).fetchall()
    con.close()
    order = np.random.default_rng([seed, len(rows)]).permutation(len(rows))
    with open(out, "w") as f:
        for i in order:
            taxi, ts1, lat1, lon1, s1, ts2, lat2, lon2, s2 = rows[i]
            f.write(f"{taxi},'{ts1}',{lat1!r},{lon1!r},'{s1}','{ts2}',{lat2!r},{lon2!r},'{s2}'\n")


def stream_split(tables: str, out: str, n_files: int) -> None:
    """Split events into ``n_files`` time-ordered files whose mtimes
    follow event time, so a one-file-per-trigger stream replays in order.
    The first file keeps the canonical name the stream infers its schema
    from."""
    os.makedirs(out, exist_ok=True)
    t = pq.read_table(f"{tables}/events.parquet")
    t = t.take(pc.sort_indices(t.column("ts")))
    step = -(-t.num_rows // n_files)
    for i in range(n_files):
        chunk = t.slice(i * step, step)
        if chunk.num_rows == 0:
            break
        name = "events.parquet" if i == 0 else f"events{i:03d}.parquet"
        path = os.path.join(out, name)
        pq.write_table(chunk, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def generate(dst: str, seed: int) -> dict:
    """Write the seeded tables under ``dst/tables`` and return their row
    counts by table name."""
    tables = os.path.join(dst, "tables")
    replicate(str(BASE), tables)
    shuffle_tables(tables, seed)
    return {
        p.stem: pq.read_metadata(p).num_rows for p in sorted(Path(tables).glob("*.parquet"))
    }
