"""``encode_blocks``/``decode_blocks``: argument checks on the driver, and
one decode pass over a frame that mixes codecs and block shapes."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StringType,
                               StructField, StructType)

from wotan_spark.codecs import dod, gorilla
from wotan_spark.spark.blocks import (BLOCKS_SCHEMA, decode_blocks,
                                      encode_blocks)


def _frame(spark, element_type, rows):
    schema = StructType([StructField("doc_id", StringType(), False),
                         StructField("v", ArrayType(element_type), True)])
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize("block_size", [0, -1, -4096])
def test_encode_blocks_rejects_block_size_below_one(spark, block_size):
    df = _frame(spark, LongType(), [("a", [1, 2, 3])])
    with pytest.raises(ValueError, match="block_size"):
        encode_blocks(df, column="v", codec="dod", block_size=block_size)


def test_encode_blocks_rejects_unknown_codec(spark):
    df = _frame(spark, DoubleType(), [("a", [1.0])])
    with pytest.raises(ValueError, match="unknown codec 'zstd'"):
        encode_blocks(df, column="v", codec="zstd")


def test_encode_blocks_rejects_dod_over_non_integral_column(spark):
    """dod over doubles truncated 1.5 to 1 and NaN to -2^63 silently."""
    df = _frame(spark, DoubleType(), [("a", [1.5, float("nan")])])
    with pytest.raises(ValueError, match="dod needs an integral"):
        encode_blocks(df, column="v", codec="dod")
    gorilla_rows = encode_blocks(df, column="v", codec="gorilla").collect()
    assert [r.n for r in gorilla_rows] == [2]


def test_decode_blocks_mixed_codecs_and_shapes(spark):
    """One frame: gorilla and dod rows interleaved, an empty block, a
    one-point block and a multi-block doc; every row decodes to its
    source."""
    src = {
        ("g", 0): np.array([1.5, np.nan, -0.0, np.inf, 2.25, 1e-310]),
        ("d", 0): np.array([7, 9, 11, 10, -(1 << 40)], dtype=np.int64),
        ("g", 1): np.empty(0),
        ("d", 1): np.array([-3], dtype=np.int64),
        ("g", 2): np.array([4.0]),
        ("d", 2): np.empty(0, dtype=np.int64),
        ("g", 3): np.arange(300) / 7.0,
    }
    rows = [(f"{kind}{i}", 0, i, 64 * i, len(a),
             "gorilla" if kind == "g" else "dod",
             (gorilla if kind == "g" else dod).encode(a))
            for (kind, i), a in src.items()]
    blocks = spark.createDataFrame(rows, BLOCKS_SCHEMA).repartition(1)
    got = {r.doc_id: r for r in decode_blocks(blocks).collect()}
    assert len(got) == len(src)
    for (kind, i), a in src.items():
        r = got[f"{kind}{i}"]
        assert (r.block_id, r.t0) == (i, 64 * i)
        np.testing.assert_array_equal(np.asarray(r["values"], dtype=float),
                                      a.astype(float))


def test_encode_blocks_then_decode_restores_each_doc(spark):
    """Block boundaries (exact multiple, remainder, empty doc) through
    one encode pass and one decode pass."""
    docs = {"a": list(range(10)), "b": list(range(-4, 4)), "c": [],
            "d": [5]}
    df = _frame(spark, LongType(), list(docs.items())).repartition(1)
    blocks = encode_blocks(df, column="v", codec="dod", block_size=4)
    shape = sorted((r.doc_id, r.block_id, r.t0, r.n)
                   for r in blocks.collect())
    assert shape == [("a", 0, 0, 4), ("a", 1, 4, 4), ("a", 2, 8, 2),
                     ("b", 0, 0, 4), ("b", 1, 4, 4), ("c", 0, 0, 0),
                     ("d", 0, 0, 1)]
    rebuilt: dict[str, list] = {k: [] for k in docs}
    for r in decode_blocks(blocks).orderBy("doc_id", "block_id").collect():
        rebuilt[r.doc_id] += [int(v) for v in r["values"]]
    assert rebuilt == docs
