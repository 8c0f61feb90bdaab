"""Ingest for the tokenized-sequence table.

The canonical table shape is BASELINE's input_hint —
``(doc_id string, tokens array<int>, n_tok int, source string)`` — stored
as parquet (the lakehouse snapshot format).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from wotan_spark.spark.synth import SEQUENCES_SCHEMA


def read_sequences(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet sequences table into the canonical schema (explicit
    schema: inference would scan the data twice and can mis-type empty
    partitions)."""
    return spark.read.schema(SEQUENCES_SCHEMA).parquet(path)
