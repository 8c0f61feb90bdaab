"""``packed_map``, the one per-series pass: carry columns keep their types,
rows that emit none or several come out right, and an empty batch gives an
empty frame Arrow can type."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from wotan_spark.spark.packed import _assemble, packed_map, series
from wotan_spark.spark.synth import SENTINEL

IN_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("tokens", ArrayType(IntegerType(), True), False),
    StructField("n_tok", IntegerType(), False),
    StructField("t0", LongType(), False),
    StructField("source", StringType(), True),
])
OUT_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("n_tok", IntegerType(), False),
    StructField("t0", LongType(), False),
    StructField("source", StringType(), True),
    StructField("k", LongType(), False),
    StructField("y", DoubleType(), False),
    StructField("tokens", ArrayType(IntegerType(), True), False),
])
CARRY = ("doc_id", "n_tok", "t0", "source")
BIG = 2 ** 40   # survives only as int64


def test_packed_map_carry_types_row_counts_and_empty_batch(spark):
    # defined here, not at module level: Python workers cannot import a
    # test module, so the kernel must be pickled by value
    def valid_points(pdf):
        """One row per non-gap sample, with the row's tokens beside it."""
        for tk, y in zip(pdf["tokens"], series(pdf)):
            ok = np.flatnonzero(~np.isnan(y))
            yield {"k": ok, "y": y[ok], "tokens": [np.asarray(tk)] * len(ok)}

    gap = int(SENTINEL)
    rows = [("a", [5, gap, 7], 3, BIG, "web"),   # emits 2 rows
            ("b", [gap], 1, 1, "web"),          # all gap: emits none
            ("c", [], 0, 2, "books"),           # empty tokens: none
            ("d", [9], 1, 3, None)]             # NULL source: 1 row
    df = spark.createDataFrame(rows, IN_SCHEMA).coalesce(1)
    out = packed_map(df, valid_points, OUT_SCHEMA, carry=CARRY)
    assert out.schema == OUT_SCHEMA
    assert "valid_points(" in out._jdf.queryExecution().toString()
    got = sorted(tuple(r) for r in out.collect())
    assert got == [("a", 3, BIG, "web", 0, 1.000005, [5, gap, 7]),
                   ("a", 3, BIG, "web", 2, 1.000007, [5, gap, 7]),
                   ("d", 1, 3, None, 0, 1.000009, [9])]

    # the batch as the pass sees it: carry dtypes survive the repeat
    pdf = df.toPandas().astype({"n_tok": "int32", "t0": "int64"})
    frame = _assemble(pdf, list(valid_points(pdf)), CARRY,
                      OUT_SCHEMA.fieldNames())
    assert list(frame.columns) == OUT_SCHEMA.fieldNames()
    assert len(frame) == 3
    assert (frame["n_tok"].dtype, frame["t0"].dtype) == (np.int32, np.int64)
    assert frame["source"].tolist() == ["web", "web", None]

    # an empty batch: every column, carry dtypes kept, typed by Arrow
    empty = _assemble(pdf.iloc[:0], [], CARRY, OUT_SCHEMA.fieldNames())
    assert list(empty.columns) == OUT_SCHEMA.fieldNames()
    assert len(empty) == 0
    assert (empty["n_tok"].dtype, empty["t0"].dtype) == (np.int32, np.int64)
    table = pa.Table.from_pandas(empty, schema=to_arrow_schema(OUT_SCHEMA),
                                 preserve_index=False)
    assert table.num_rows == 0

    nothing = packed_map(spark.createDataFrame([], IN_SCHEMA), valid_points,
                         OUT_SCHEMA, carry=CARRY)
    assert nothing.schema == OUT_SCHEMA
    assert nothing.count() == 0
