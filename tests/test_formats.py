"""Format round-trips: JSONL (schema-explicit, corrupt-channel) and ORC."""

from __future__ import annotations

from mapreduce_hadoop_spark.session import unpersist_intermediates
from mapreduce_hadoop_spark.sources.jsonl import (
    corrupt_rows,
    read_jsonl,
    valid_rows,
    write_jsonl,
)
from mapreduce_hadoop_spark.sources.tables import load_table

SCHEMA = "event_id long, user_id long, event_type string, value double"


def test_jsonl_roundtrip_and_corrupt_channel(spark, tmp_path):
    p = tmp_path / "events.jsonl"
    p.write_text(
        '{"event_id": 1, "user_id": 7, "event_type": "view", "value": 1.5}\n'
        '{"event_id": 2, "user_id": 8, "event_type": "click", "value": 2.0}\n'
        "not json at all\n"
        '{"event_id": "also-bad", "user_id": 9, "event_type": "x", "value": 3.0}\n'
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    df = read_jsonl(spark, str(p), SCHEMA)
    ok = valid_rows(df)
    bad = corrupt_rows(df)
    assert ok.count() == 2
    assert bad.count() == 2  # junk line + type-mismatched event_id
    assert {r["event_id"] for r in ok.collect()} == {1, 2}

    out = str(tmp_path / "out_jsonl")
    write_jsonl(ok, out)
    back = valid_rows(read_jsonl(spark, out, SCHEMA))
    # collect (not count): a bare count over a filtered raw-JSON scan prunes
    # every data column and trips QUERY_ONLY_CORRUPT_RECORD_COLUMN.
    assert {r["event_id"] for r in back.collect()} == {1, 2}
    # corrupt_rows' cache is released through the persist registry.
    unpersist_intermediates()
    assert set(jsc.getPersistentRDDs().keySet()) <= before


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_orc")
    src.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert back.count() == src.count()
    assert back.schema == src.schema
    assert back.exceptAll(src).count() == 0
