"""Compressed rollup block operators.

Packs per-series value runs into Gorilla-XOR (float) or delta-of-delta
(integer) binary blocks — the storage format of the retention tiers.  Encode
and decode are packed passes (``packed.packed_map``; block membership is
within-series: zero shuffle).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, BinaryType, DoubleType, IntegerType,
                               LongType, StringType, StructField, StructType)

from wotan_spark.codecs import dod, gorilla
from wotan_spark.spark.packed import packed_map

BLOCKS_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("tier", IntegerType(), False),
    StructField("block_id", LongType(), False),
    StructField("t0", LongType(), False),
    StructField("n", IntegerType(), False),
    StructField("codec", StringType(), False),
    StructField("payload", BinaryType(), False),
])

DECODED_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("tier", IntegerType(), False),
    StructField("block_id", LongType(), False),
    StructField("t0", LongType(), False),
    StructField("values", ArrayType(DoubleType(), True), False),
])


def _encode_array(arr: np.ndarray, codec: str) -> bytes:
    if codec == "gorilla":
        return gorilla.encode(np.asarray(arr, dtype=np.float64))
    if codec == "dod":
        return dod.encode(np.asarray(arr, dtype=np.int64))
    raise ValueError(codec)


def _decode_payload(payload: bytes, codec: str) -> np.ndarray:
    if codec == "gorilla":
        return gorilla.decode(bytes(payload))
    if codec == "dod":
        return dod.decode(bytes(payload)).astype(np.float64)
    raise ValueError(codec)


def encode_blocks(df: DataFrame, column: str, codec: str,
                  tier: int = 0, block_size: int = 4096) -> DataFrame:
    """(doc_id, <column>: array) -> blocks(doc_id, tier, block_id, t0, n,
    codec, payload)."""

    def encode(pdf: pd.DataFrame):
        for arr in pdf[column]:
            arr = np.asarray(arr)
            t0 = np.arange(0, max(len(arr), 1), block_size, dtype=np.int64)
            yield {"tier": np.full(len(t0), tier, dtype=np.int32),
                   "block_id": t0 // block_size, "t0": t0,
                   "n": np.minimum(len(arr) - t0, block_size),
                   "codec": [codec] * len(t0),
                   "payload": [_encode_array(arr[b:b + block_size], codec)
                               for b in t0]}

    return packed_map(df, encode, BLOCKS_SCHEMA)


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """blocks -> (doc_id, tier, block_id, t0, values:array<double>)."""

    def decode(pdf: pd.DataFrame):
        for p, c in zip(pdf["payload"], pdf["codec"]):
            yield {"values": [_decode_payload(p, c)]}

    return packed_map(blocks, decode, DECODED_SCHEMA,
                      carry=("doc_id", "tier", "block_id", "t0"))
