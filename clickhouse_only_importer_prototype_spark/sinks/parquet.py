"""Parquet sink (S8 parity — cna/writer.go:14-58).

The reference streams Arrow batches into a Snappy parquet file, schema
from the first batch. Spark's writer is the same thing distributed:
``df.write.parquet`` with snappy (session default), schema from the
plan. The importer writes one file per (study × table), the
reference's layout, so the plan is coalesced to one task first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str) -> None:
    df.coalesce(1).write.mode("overwrite").parquet(path)
