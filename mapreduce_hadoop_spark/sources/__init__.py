"""Sources: parquet table loader plus the reference's native text formats."""

from mapreduce_hadoop_spark.sources.tables import TABLE_NAMES, load_table

__all__ = ["TABLE_NAMES", "load_table"]
