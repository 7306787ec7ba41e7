"""End-to-end CLI parity on the reference's own worked examples."""

from __future__ import annotations

import glob
import subprocess
import sys
from pathlib import Path

# The checkout this test file belongs to: CLI subprocesses run its code.
ROOT = Path(__file__).resolve().parents[1]

# The SegmentReducer docstring walk-through (AirportTripsRevenue.java:128-134,
# 270-274): five segments of taxi 450 -> exactly one airport trip line.
SEGMENTS = """450,'2008-05-25 09:13:44',37.61661,-122.38425,'E','2008-05-25 09:14:32',37.61799,-122.38607,'M'
450,'2008-05-25 09:14:32',37.61799,-122.38607,'M','2008-05-25 09:14:47',37.61798,-122.38606,'M'
450,'2008-05-25 09:14:47',37.61798,-122.38606,'M','2008-05-25 09:16:01',37.61799,-122.38608,'M'
450,'2008-05-25 09:16:01',37.61799,-122.38608,'M','2008-05-25 09:16:58',37.61611,-122.38888,'M'
450,'2008-05-25 09:16:58',37.61611,-122.38888,'M','2008-05-25 09:17:00',37.61506,-122.39206,'E'
"""

GOLDEN_TRIP = (
    "450 1211706872.0 37.61799 -122.38607 1211707018.0 "
    "37.61611 -122.38888 true 0.327 4.06 2008-05-25"
)


def _run(args):
    import os

    env = dict(os.environ, SPARK_GRAFT_CPUS="2", PYSPARK_PYTHON=sys.executable)
    return subprocess.run(
        [sys.executable, "-m", "mapreduce_hadoop_spark.cli", *args],
        capture_output=True,
        text=True,
        env=env,
        cwd=ROOT,
        timeout=240,
    )


def _read_parts(path):
    return sorted(
        line for f in glob.glob(f"{path}/part-*") for line in open(f).read().splitlines()
    )


def test_airport_revenue_cli_matches_reference_example(tmp_path):
    seg = tmp_path / "fixture.segments"
    seg.write_text(SEGMENTS)
    out = tmp_path / "out"
    r = _run(["airport-revenue", str(seg), str(out)])
    assert r.returncode == 0, r.stderr[-2000:]
    assert "TOTAL AIRPORT TRIPS REVENUE : 4.06" in r.stdout
    assert _read_parts(out / "trips") == [GOLDEN_TRIP]
    assert _read_parts(out / "daily") == ["2008-05-25\t4.06"]


def test_airport_revenue_releases_its_cache(spark, tmp_path, monkeypatch, capsys):
    """Called as a library function, the job leaves no RDD persisted:
    its cached trip relation is released once the outputs are written."""
    from mapreduce_hadoop_spark import cli

    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    seg = tmp_path / "fixture.segments"
    seg.write_text(SEGMENTS)
    cli.run_airport_revenue(str(seg), str(tmp_path / "out"))
    assert "TOTAL AIRPORT TRIPS REVENUE : 4.06" in capsys.readouterr().out
    leaked = set(jsc.getPersistentRDDs().keySet()) - before
    assert not leaked, leaked


def test_histogram_cli_bins_reference_example(tmp_path):
    # 46.497 km trip -> bin 46 (SparkTripLength.java:30-35), short hop -> 00.
    trips = tmp_path / "fix.trips"
    trips.write_text(
        "9 1267451562.0 37.61373 -122.39722 1267453549.0 37.34666 -121.99176\n"
        "9 1267451562.0 37.61373 -122.39722 1267451563.0 37.61374 -122.39723\n"
    )
    out = tmp_path / "hout"
    r = _run(["histogram", str(trips), str(out)])
    assert r.returncode == 0, r.stderr[-2000:]
    assert _read_parts(out) == ["00\t1", "46\t1"]


def test_corpus_clean_cli_writes_docs_and_stats(sf_dir, tmp_path):
    out = tmp_path / "out"
    r = _run(["corpus-clean", sf_dir, str(out)])
    assert r.returncode == 0, r.stderr[-2000:]
    assert "CLEAN DOCS : " in r.stdout and "TOKENS : " in r.stdout
    assert glob.glob(f"{out}/clean_docs/part-*.parquet")
    stats = _read_parts(f"{out}/stats")
    assert stats  # one TSV row per surviving source
    assert all(len(line.split("\t")) == 4 for line in stats)


def test_pii_scrub_cli_writes_scrubbed_corpus(sf_dir, tmp_path):
    out = tmp_path / "out"
    r = _run(["pii-scrub", sf_dir, str(out)])
    assert r.returncode == 0, r.stderr[-2000:]
    # Driver corpus carries no PII: totals are zero, corpus passes through.
    assert "EMAILS REDACTED : 0  PHONES REDACTED : 0" in r.stdout
    files = glob.glob(f"{out}/scrubbed_docs/part-*.parquet")
    assert files
    import pyarrow.parquet as pq

    t = pq.read_table(f"{out}/scrubbed_docs")
    assert t.num_rows > 0
    assert {"doc_id", "text_scrubbed", "n_emails", "n_phones"} <= set(
        t.schema.names
    )


def test_train_split_cli_writes_partitioned_manifest(sf_dir, tmp_path):
    out = tmp_path / "out"
    r = _run(["train-split", sf_dir, str(out)])
    assert r.returncode == 0, r.stderr[-2000:]
    assert "SPLIT train=" in r.stdout
    import pyarrow.parquet as pq

    t = pq.read_table(f"{out}/manifest")
    assert t.num_rows == pq.read_metadata(f"{sf_dir}/documents.parquet").num_rows
    # Partitioned layout: a trainer prunes to its split by directory.
    assert glob.glob(f"{out}/manifest/split=train/part-*.parquet")
    counts = _read_parts(f"{out}/counts")
    assert counts and all(len(line.split("\t")) == 4 for line in counts)


def test_quality_filter_cli_partitions_corpus_by_drop_reason(sf_dir, tmp_path):
    out = tmp_path / "out"
    r = _run(["quality-filter", sf_dir, str(out)])
    assert r.returncode == 0, r.stderr[-2000:]
    assert "KEPT : " in r.stdout
    import pyarrow.parquet as pq

    audit = pq.read_table(f"{out}/audit")
    n_docs = pq.read_metadata(f"{sf_dir}/documents.parquet").num_rows
    assert audit.num_rows == n_docs  # breakdown is a partition of the corpus
    kept = pq.read_table(f"{out}/kept_docs")
    n_kept = sum(
        1 for v in audit.column("drop_reason").to_pylist() if v == "kept"
    )
    assert kept.num_rows == n_kept
    assert 0 < n_kept < n_docs  # gate actually discriminates on this corpus


def test_unknown_command_prints_usage_and_exits_2(capsys):
    """An unknown or incomplete command line prints the module usage and
    returns 2 without starting Spark."""
    from mapreduce_hadoop_spark import cli

    assert cli.main([]) == 2
    assert cli.main(["histogram", "only-one-path"]) == 2
    assert "histogram" in capsys.readouterr().out
