"""Format round-trip: ORC."""

from __future__ import annotations

from mapreduce_hadoop_spark.sources.tables import load_table


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_orc")
    src.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert back.count() == src.count()
    assert back.schema == src.schema
    assert back.exceptAll(src).count() == 0
