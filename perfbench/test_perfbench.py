"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import statistics

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, corpus
from perfbench.trace import (Tracer, cpu_shares, parse_metric_value,
                             sustained_peak, tree_rss_bytes)

SHAPE = corpus.Shape(points=3000, median_len=50, sigma=0.4, n_long=1,
                     long_len=500)


def test_median_matches_statistics():
    assert checks.median([5.0, 1.0, 3.0, 2.0]) == statistics.median(
        [5.0, 1.0, 3.0, 2.0])
    with pytest.raises(ValueError):
        checks.median([])


def tier_frame(rows) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=["doc_id", "bucket", "n", "y_sum"])


def test_digest_is_order_independent_and_content_sensitive():
    a = tier_frame([("d1", 0, 10, 10.5), ("d1", 1, 9, 9.25),
                    ("d2", 0, 3, 3.0)])
    shuffled = a.iloc[[2, 0, 1]][["y_sum", "n", "bucket", "doc_id"]]
    assert checks.digest(a) == checks.digest(shuffled)
    # the last bits of a re-summed float do not change the digest
    noisy = a.copy()
    noisy.loc[0, "y_sum"] += 1e-13
    assert checks.digest(a) == checks.digest(noisy)
    changed = a.copy()
    changed.loc[1, "n"] = 8
    assert checks.digest(a) != checks.digest(changed)


def make_docs(seed: int = 3) -> dict[str, np.ndarray]:
    docs = corpus.generate(seed, SHAPE)
    return {corpus.doc_id(i): d for i, d in enumerate(docs)}


def tiers_of(docs: dict[str, np.ndarray], factor: int) -> pd.DataFrame:
    """Reference tier rows (n and y_sum only) computed in plain Python."""
    rows = []
    for name, d in docs.items():
        y = 1.0 + d.astype(np.float64) / corpus.SCALE
        y[d == corpus.SENTINEL] = np.nan
        for b in range(0, len(d), factor):
            part = y[b:b + factor]
            ok = ~np.isnan(part)
            rows.append((name, b // factor, int(ok.sum()),
                         float(part[ok].sum())))
    return tier_frame(rows)


def totals(df: pd.DataFrame) -> dict:
    return {"n": int(df["n"].sum()), "y_sum": float(df["y_sum"].sum()),
            "flat_n": int(df["n"].sum()), "trend_n": int(df["n"].sum())}


def test_tier_check_passes_on_consistent_tiers():
    docs = make_docs()
    t10, t100 = tiers_of(docs, 10), tiers_of(docs, 100)
    valid = checks.valid_in_range(docs, 0, 1 << 62)
    assert checks.check_tiers(valid, totals(t10), totals(t100)) == []
    lo, hi = 2, 5
    want = t10[(t10.bucket >= lo) & (t10.bucket <= hi)]["n"].sum()
    assert checks.expected_probe(docs, 10, lo, hi) == want


def test_tier_check_fails_on_a_corrupted_tier_row():
    docs = make_docs()
    t10, t100 = tiers_of(docs, 10), tiers_of(docs, 100)
    valid = checks.valid_in_range(docs, 0, 1 << 62)
    bad = t10.copy()
    bad.loc[7, "n"] -= 1
    errs = checks.check_tiers(valid, totals(bad), totals(t100))
    assert any("tier10 sum(n)" in e for e in errs)
    assert any("tier100 sum(n)" in e for e in errs)
    assert checks.digest(bad) != checks.digest(t10)


def test_block_check_is_bit_exact():
    flat = {"d1": [1.0, None, 0.5], "d2": [float("nan"), 2.0]}
    assert checks.check_blocks(flat, {"d1": [1.0, float("nan"), 0.5],
                                      "d2": [None, 2.0]}) == []
    off_by_ulp = np.nextafter(0.5, 1.0)
    assert checks.check_blocks(flat, {"d1": [1.0, None, off_by_ulp],
                                      "d2": [None, 2.0]})
    assert checks.check_blocks(flat, {"d1": [1.0, None, 0.5]})
    assert checks.check_blocks(flat, {"d1": [1.0, 0.0, 0.5],
                                      "d2": [None, 2.0]})


def test_lineage_check_wants_one_row_per_file():
    assert checks.check_lineage({"tier10": 2, "blocks": 1},
                                {"tier10": 2, "blocks": 1}) == []
    assert checks.check_lineage({"tier10": 1}, {"tier10": 2, "blocks": 1})


def test_corpus_is_seeded_and_sized_by_points():
    a, b = corpus.generate(5, SHAPE), corpus.generate(5, SHAPE)
    assert all(np.array_equal(x, y) for x, y in zip(a, b))
    c = corpus.generate(6, SHAPE)
    assert len(a) != len(c) or not all(
        np.array_equal(x, y) for x, y in zip(a, c))
    info = corpus.describe(a)
    assert SHAPE.points <= info["points"] < SHAPE.points + SHAPE.max_len
    assert len(a[0]) >= SHAPE.long_len


def test_cached_corpus_records_its_shape(tmp_path):
    path, info = corpus.cached_corpus(str(tmp_path), "t", 5, SHAPE)
    again, info2 = corpus.cached_corpus(str(tmp_path), "t", 5, SHAPE)
    assert again == path and info2 == info
    with open(os.path.join(path, "_shape.json")) as f:
        assert json.load(f) == info
    assert set(info) >= {"docs", "points", "len_p50", "len_p90", "len_p99",
                         "docs_past_chunk_threshold"}
    big = corpus.describe([np.zeros(corpus.CHUNK_THRESHOLD + 1, np.int32)])
    assert big["docs_past_chunk_threshold"] == 1


def test_metric_strings_parse_to_bytes_and_seconds():
    assert parse_metric_value("total (min, med, max)\n1.5 s (0.1 s, "
                              "0.2 s, 0.9 s)") == 1.5
    assert parse_metric_value("2.0 MiB") == 2 * 1024 * 1024
    assert parse_metric_value("total (min, med, max)\n120 ms (…)") == 0.12
    assert parse_metric_value("42") == 42


def test_cpu_shares_split_busy_idle_and_stolen_time():
    # 100 jiffies pass: 70 idle, 10 stolen, 20 busy
    assert cpu_shares((100, 50, 10), (200, 120, 20)) == {"busy": 0.2,
                                                         "steal": 0.1}


def test_tree_rss_counts_this_process():
    assert tree_rss_bytes(os.getpid()) > 0


def test_sustained_peak_drops_a_one_sample_glitch():
    assert sustained_peak([5, 6, 40, 6, 7, 7, 5]) == 7
    assert sustained_peak([5, 9, 9, 5]) == 9
    assert sustained_peak([3]) == 3
    assert sustained_peak([]) == 0


def test_spans_nest_and_a_disabled_tracer_keeps_none():
    tr = Tracer(enabled=True)
    with tr.span("outer"):
        with tr.span("inner") as inner:
            pass
    assert [s["name"] for s in tr.spans] == ["outer", "inner"]
    assert inner["parent"] == tr.spans[0]["id"]
    off = Tracer(enabled=False)
    with off.span("x") as rec:
        pass
    assert off.spans == [] and rec["dur"] >= 0

