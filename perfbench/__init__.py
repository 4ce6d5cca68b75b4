"""Benchmark of the datasheet_etl_spark engine; see README.md."""
