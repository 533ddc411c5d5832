"""Catalog introspection over Spark's own catalog (S15 —
postgis_connection.py:139-160 reads the catalog to list schemas, tables
and columns)."""

from __future__ import annotations

from pyspark.sql import SparkSession


def column_ordinals(spark: SparkSession, tables: list[str]):
    """W4 ordinal introspection (the reference reads
    information_schema.columns ordinal_position to order export columns;
    data_viewer_use_case.py): (table_name, column_name, ordinal) in
    schema order, 1-based — directly comparable to any ANSI catalog."""
    rows = []
    for t in tables:
        for i, f in enumerate(spark.table(t).schema.fields, start=1):
            rows.append((t, f.name, i))
    return spark.createDataFrame(
        rows, "table_name string, column_name string, ordinal int")
