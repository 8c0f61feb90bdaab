"""The packed per-series pass: the engine's one Python boundary over
one-series-per-row tables.

``packed_map`` runs ``kernel`` over each Arrow batch of ``df`` inside one
``mapInPandas``.  The kernel yields one ``{column: values}`` per input row,
where a value is an ndarray (one element per output row) or a list whose
items are arrays or bytes (one item per output row).  This module repeats
the ``carry`` columns once per batch, concatenates, and yields the frame in
schema order, so the decode/loop/assemble/egress shape is defined here
once and every operator only says what it computes per series.  The work
is within-series, so a pass needs no exchange.
"""

from __future__ import annotations

from itertools import chain
from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from wotan_spark.spark.synth import decode_tokens

Kernel = Callable[[pd.DataFrame], Iterable[dict]]


def series(pdf: pd.DataFrame) -> list[np.ndarray]:
    """Each row's ``tokens`` decoded to float64 samples (gap -> NaN)."""
    return [decode_tokens(np.asarray(tk, dtype=np.int32))
            for tk in pdf["tokens"]]


def _concat(parts: list):
    if not parts:
        # object, not pandas' float64 default for an empty list: Arrow
        # then takes the type from the schema (list and binary too)
        return np.empty(0, dtype=object)
    if isinstance(parts[0], np.ndarray):
        return np.concatenate(parts)
    return list(chain.from_iterable(parts))


def _assemble(pdf: pd.DataFrame, rows: list[dict], carry: tuple[str, ...],
              names: list[str]) -> pd.DataFrame:
    """One output frame from a batch's per-row kernel outputs: carry
    columns repeated once per batch (not per row), the rest concatenated;
    an empty batch gives an empty frame with every column."""
    own = [n for n in names if n not in carry]
    counts = np.fromiter((len(r[own[0]]) for r in rows), dtype=np.int64,
                         count=len(rows))
    cols = {c: np.repeat(pdf[c].to_numpy(), counts) for c in carry}
    cols.update((n, _concat([r[n] for r in rows])) for n in own)
    return pd.DataFrame(cols, columns=names)


def packed_map(df: DataFrame, kernel: Kernel, schema: StructType,
               carry: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """``df`` -> ``schema`` rows, ``kernel``'s output per input row with
    its ``carry`` columns.  The pass is named after the kernel in the
    plan."""
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _assemble(pdf, list(kernel(pdf)), carry, names)

    run.__name__ = kernel.__name__
    return df.mapInPandas(run, schema=schema)
