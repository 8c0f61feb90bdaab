"""Compressed rollup block operators.

Packs per-series value runs into Gorilla-XOR (float) or delta-of-delta
(integer) binary blocks — the storage format of the retention tiers.  Encode
and decode are packed passes (``packed.packed_map``; block membership is
within-series: zero shuffle) that call the codec once per Arrow batch:
one ``encode_many`` over every block of the batch, one ``decode_many`` per
codec present in it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, BinaryType, DoubleType, IntegerType,
                               IntegralType, LongType, StringType, StructField,
                               StructType)

from wotan_spark.codecs import block_index, dod, gorilla
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


_CODECS = {"gorilla": (gorilla, np.float64), "dod": (dod, np.int64)}


def _codec(name: str):
    if name not in _CODECS:
        raise ValueError(f"unknown codec {name!r}, not one of "
                         f"{sorted(_CODECS)}")
    return _CODECS[name]


def encode_blocks(df: DataFrame, column: str, codec: str,
                  tier: int = 0, block_size: int = 4096) -> DataFrame:
    """(doc_id, <column>: array) -> blocks(doc_id, tier, block_id, t0, n,
    codec, payload).  An empty array gets one empty block; ``dod`` needs
    an integral element type."""
    if block_size < 1:
        raise ValueError(f"block_size must be >= 1, got {block_size}")
    mod, dtype = _codec(codec)
    kind = df.schema[column].dataType
    if codec == "dod" and not isinstance(
            getattr(kind, "elementType", None), IntegralType):
        raise ValueError(f"dod needs an integral array column; {column!r} "
                         f"is {kind.simpleString()}")

    def encode(pdf: pd.DataFrame):
        arrays = [np.asarray(a, dtype=dtype) for a in pdf[column]]
        lens = np.array([len(a) for a in arrays], dtype=np.int64)
        per_row = np.maximum(-(-lens // block_size), 1)
        rows = np.concatenate(([0], np.cumsum(per_row)))
        block_id = block_index(rows)
        t0 = block_size * block_id
        payloads = mod.encode_many(
            np.concatenate([np.empty(0, dtype)] + arrays),
            np.append(np.repeat(np.cumsum(lens) - lens, per_row) + t0,
                      lens.sum()))
        n = np.minimum(np.repeat(lens, per_row) - t0, block_size)
        for a, b in zip(rows[:-1].tolist(), rows[1:].tolist()):
            yield {"tier": np.full(b - a, tier, dtype=np.int32),
                   "block_id": block_id[a:b], "t0": t0[a:b],
                   "n": n[a:b], "codec": [codec] * (b - a),
                   "payload": payloads[a:b]}

    return packed_map(df, encode, BLOCKS_SCHEMA)


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """blocks -> (doc_id, tier, block_id, t0, values:array<double>)."""

    def decode(pdf: pd.DataFrame):
        out = np.empty(len(pdf), dtype=object)
        for name in set(pdf["codec"]):
            rows = np.flatnonzero(pdf["codec"] == name)
            values, offsets = _codec(name)[0].decode_many(
                pdf["payload"].to_numpy()[rows])
            for r, v in zip(rows, np.split(
                    values.astype(np.float64, copy=False), offsets[1:-1])):
                out[r] = v
        for v in out:
            yield {"values": [v]}

    return packed_map(blocks, decode, DECODED_SCHEMA,
                      carry=("doc_id", "tier", "block_id", "t0"))
