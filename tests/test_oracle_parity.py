"""Driver-style correctness gate: every ``queries()`` entry vs its
``oracle_sql()`` DuckDB result on sf0.01 — row count, schema-width, and
value equality after canonical sorting (stricter than the driver's hash:
exact for ints/strings, 1e-9 for floats)."""

from __future__ import annotations

import os
import re

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    register_views(con, SF_DIR)
    yield con
    con.close()


# the comparator AND the oracle view set are shared with
# scripts/drive_sim.py so "driver parity" has exactly one definition
# (round-5b review finding: two hand-rolled copies with subtly different
# canonicalization; the table list had the same two-copies hazard)
from wotan_spark.oracle_compare import compare as _compare  # noqa: E402
from wotan_spark.oracle_compare import register_views  # noqa: E402


ORACLE_KEYS = sorted(entrymod.oracle_sql().keys())

# DuckDB types with no Spark twin: the driver's value hash tells a HUGEINT,
# DECIMAL or unsigned cell from Spark's equal BIGINT/DOUBLE one, while the
# comparator sees equal values (round 5's two red rows were HUGEINT).
_NO_SPARK_TWIN = re.compile(
    r"HUGEINT|DECIMAL|\bU(TINYINT|SMALLINT|INTEGER|BIGINT)\b")


def _oracle_df(con, name: str):
    rel = con.sql(entrymod.oracle_sql()[name])
    bad = [f"{c} {t}" for c, t in zip(rel.columns, rel.types)
           if _NO_SPARK_TWIN.search(str(t))]
    assert not bad, f"{name}: oracle columns without a Spark type: {bad}"
    return rel.df()


# Queries that must sit inside the driver's evaluation window (the first
# DRIVER_QUERY_CAP registration positions): one per engine category (§2.5),
# the public API operators, the mask feature, and one representative per
# LLM-pipeline family.  The 27 estimators are checked structurally below.
PRIMARY_CATEGORY_QUERIES = [
    "slide_clip_packed", "transit_mask_count",
    "detrend_masked_biweight_packed",
    "tier10_rollup", "tier100_cascade", "segments",
    "gapfill_interp", "blocks_roundtrip",
    "rollup_hierarchy", "sessionize", "dedup_survivors",
    "pricing_summary", "revenue_by_nation",
    "detrend_auto_routed_packed", "token_invariant_chunked",
    "ngram_jaccard_prefix", "minhash_lsh_pairs", "dedup_components",
    "cosine_topk", "decontaminate",
]

# method name -> the query that driver-verifies it (packed SQL twin or
# pinned golden); every entry of constants.METHODS must appear here
METHOD_QUERY = {m: f"detrend_{m}_packed" for m in [
    "mean", "median", "biweight", "andrewsinewave", "welsch", "hodges",
    "trim_mean", "winsorize", "hampelfilt", "huber_psi", "tau",
    "huber", "hampel", "ramsay", "medfilt", "rspline"]}
METHOD_QUERY.update({m: f"detrend_{m}_pinned" for m in [
    "savgol", "hspline", "pspline", "ridge", "lasso", "elasticnet",
    "lowess", "supersmoother", "cofiam", "cosine"]})
METHOD_QUERY["gp"] = "detrend_gp_squared_exp_pinned"

# Round-4 rotation (VERDICT r03): welsch/winsorize/tau/ramsay — each
# driver-green in rounds 1-3 — moved secondary to free primary slots for
# the GP matern/periodic/periodic_auto kernels and cosine's robust mode.
# Round-5 rotation (VERDICT r04 item 1): sixteen more detrend queries —
# each driver-green in rounds 1 THROUGH 4 — moved secondary so the sixteen
# pipeline queries that had never had a driver row get driver-grade
# CORRECTNESS evidence.  One representative stays per estimator group
# (biweight / savgol / pspline / ridge / lowess / supersmoother / the four
# GP kernels + robust cosine).  Rotated-out methods must still be
# registered with value oracles (local parity keeps verifying them every
# run).
ROTATED_OUT_R4 = {"welsch", "winsorize", "tau", "ramsay"}
ROTATED_OUT_R5 = ROTATED_OUT_R4 | {
    "mean", "median", "andrewsinewave", "hodges", "trim_mean",
    "hampelfilt", "huber_psi", "huber", "hampel", "medfilt", "rspline",
    "hspline", "lasso", "elasticnet", "cofiam", "cosine",
}
ROTATED_IN_R4 = [
    "detrend_gp_matern_pinned", "detrend_gp_periodic_pinned",
    "detrend_gp_periodic_auto_pinned", "detrend_cosine_robust_pinned",
]
ROTATED_IN_R5 = ROTATED_IN_R4 + [
    "dedup_spans", "dedup_token_spans", "pack_sequences", "shard_chunks",
    "asof_enrich", "interval_sessions", "curation_funnel",
    "hist_quantile_t100", "distinct_t100_union", "topk_t100_union",
    "downsample_m4", "downsample_lttb", "cosine_topk_lsh",
    "cosine_topk_ivf", "cosine_topk_pq", "embedding_near_dups",
]

# Round-5b rotation: the last three never-driver-rowed contract queries
# take the slots of three category queries that are each driver-green in
# rounds 1 THROUGH 4 (t14, gapfill_ffill, median_slider_rows); their
# categories remain represented inside the window by transit_mask_count
# (standalone scalar API), gapfill_interp, and segments.  After r05 every
# one of the 94 contract queries has driver-grade CORRECTNESS evidence.
ROTATED_OUT_CATEGORY_R5B = {"t14", "gapfill_ffill", "median_slider_rows"}
ROTATED_IN_R5B = ["repetition_stats", "tokenize_docs", "decontaminate_frac"]


def test_driver_window_covers_every_method_and_category():
    """The external driver evaluates only the first DRIVER_QUERY_CAP
    registered queries — growing the contract by appending mid-dict once
    silently un-verified 11 green queries (round-2 verdict).  Assert the
    primary window covers all 27 estimators (modulo the documented
    ROTATED_OUT_R4 set, each thrice driver-green) and every category, so
    contract growth can never again starve the driver check."""
    from wotan_spark.constants import METHODS
    q, o = entrymod.queries(), entrymod.oracle_sql()
    primary = list(q)[:entrymod.DRIVER_QUERY_CAP]
    assert sorted(METHOD_QUERY) == sorted(METHODS)
    missing = {m: qk for m, qk in METHOD_QUERY.items()
               if qk not in primary and m not in ROTATED_OUT_R5}
    assert not missing, f"methods outside the driver window: {missing}"
    # rotated-out methods stay in the contract with value oracles
    for m in ROTATED_OUT_R5:
        qk = METHOD_QUERY[m]
        assert qk in q and qk in o, f"rotated-out {qk} left the contract"
        assert qk not in primary, \
            f"{qk} is primary — drop it from ROTATED_OUT_R5"
    # and the paths rotated in actually occupy primary slots
    rotated_in_missing = [k for k in ROTATED_IN_R5 + ROTATED_IN_R5B
                          if k not in primary]
    assert not rotated_in_missing, \
        f"rotated-in queries outside the window: {rotated_in_missing}"
    # rotated-out category queries stay in the contract with value oracles
    for qk in ROTATED_OUT_CATEGORY_R5B:
        assert qk in q and qk in o, f"rotated-out {qk} left the contract"
        assert qk not in primary, \
            f"{qk} is primary — drop it from ROTATED_OUT_CATEGORY_R5B"
    missing_cat = [k for k in PRIMARY_CATEGORY_QUERIES if k not in primary]
    assert not missing_cat, \
        f"category queries outside the driver window: {missing_cat}"
    # every primary query must have a value oracle (no rows-only entries
    # inside the window)
    no_oracle = [k for k in primary if k not in o]
    assert not no_oracle, f"primary queries without oracles: {no_oracle}"
    # and the overall contract must not shrink — every query has a value
    # oracle since round 3 (cosine_topk_ivf got pinned values)
    assert len(q) >= 74, f"queries() shrank to {len(q)}"
    assert set(o) == set(q), \
        f"rows-only queries: {set(q) - set(o)}"


def test_doc_counts_match_contract():
    """Every hand-written 'N queries()' count in README.md / COVERAGE.md
    must equal the live contract size — stale counts shipped twice
    (round-2 '74', round-3 '81'); now they are derived, not trusted."""
    n = len(entrymod.queries())
    for doc in ("README.md", "COVERAGE.md"):
        path = os.path.join(os.path.dirname(entrymod.__file__), doc)
        with open(path) as f:
            text = f.read()
        for m in re.finditer(r"(\d+) `?queries\(\)`?", text):
            assert int(m.group(1)) == n, \
                f"{doc} says {m.group(1)} queries(), contract has {n}"
    q = entrymod.queries()
    missing = [k for k in ORACLE_KEYS if k not in q]
    assert not missing, f"oracle keys without queries: {missing}"


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    got = q(spark, SF_DIR).toPandas()
    _compare(name, got, _oracle_df(duck, name))


def test_rows_only_queries_run(spark):
    q = entrymod.queries()
    rows_only = [k for k in q if k not in ORACLE_KEYS]
    for name in rows_only:
        df = q[name](spark, SF_DIR)
        assert df.count() >= 0
        assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


# Every oracle that reads documents.text must agree with its Spark twin
# on NULL-text docs — the engines' NULL string semantics differ (Spark
# concat_ws skips a NULL array, DuckDB array_to_string(NULL) — and of an
# empty list — is NULL; split(NULL) poisons counts), so each oracle
# coalesces explicitly.  The key list is DERIVED from the contract, not
# hand-maintained: rounds 5c/5d each found a text-op oracle a hand-kept
# sweep had missed, so a future oracle that reads documents.text joins
# this gate automatically.

NULL_TEXT_KEYS = sorted(
    k for k, s in entrymod.oracle_sql().items()
    if re.search(r"\bfrom\s+documents\b", s, re.I)
    and re.search(r"\btext\b", s, re.I))


def test_null_text_keys_derivation_is_live():
    # the family the 5c/5d regressions lived in must all be caught
    assert {"dedup_exact", "doc_fingerprint", "text_stats",
            "token_counts", "lang_id", "repetition_stats",
            "tokenize_docs", "dedup_spans",
            "dedup_token_spans"} <= set(NULL_TEXT_KEYS)


@pytest.fixture(scope="module")
def null_docs_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    run = "alpha beta gamma delta epsilon zeta eta theta"   # 8-gram x2
    texts = [run + " unique tail one", "head words " + run,
             None, None, "", "solo words only here"]
    rows = {
        "doc_id": list(range(len(texts))),
        "text": texts,
        "lang": ["en"] * len(texts),
        "source": ["web"] * len(texts),
        "n_chars": [len(t) if t else 0 for t in texts],
    }
    d = tmp_path_factory.mktemp("nulldocs")
    pq.write_table(pa.table(rows), str(d / "documents.parquet"))
    return str(d)


@pytest.mark.parametrize("name", NULL_TEXT_KEYS)
def test_null_text_doc_oracle_parity(spark, null_docs_dir, name):
    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{null_docs_dir}/documents.parquet')")
        got = entrymod.queries()[name](spark, null_docs_dir).toPandas()
        want = _oracle_df(con, name)
    finally:
        con.close()
    _compare(f"null_text::{name}", got, want)
