"""End-to-end parity on the product snapshot pair of FIXTURES.md §4:
``tests/fixtures/sample_{old,new}.csv`` under the ``mapping.yaml`` field
rules, cross-checked against the pandas oracle (which replicates the
reference compare semantics exactly).

Exercises the full load path (CSV scan -> column canonicalization ->
config cleaning) plus exact/fuzzy/tolerance dispatch, the ignored
vendor column, and the date-format drift (note: the reference's compare
path treats `date` as EXACT — the declared formats are never read by
compare.py — so '2025-07-09' vs '09 Jul 2025' IS an exception).

The fixture carries every drift §4 lists: whitespace and case on
cleaned exact fields (id 1 category/status), fuzzy-90 pass and fail
(id 1 / id 3 name), fuzzy-80 pass and fail (id 5 / id 2 description),
price 250.5->250.49 inside the 0.01 tolerance and 300.0->310.0 outside
it, date-format drift, and a vendor swap on every row."""

from __future__ import annotations

import os

import pandas as pd

from data_reconciliation_spark.config import ReconConfig
from data_reconciliation_spark.functions.normalize import prepare_snapshot
from data_reconciliation_spark.operators.reconcile import reconcile
from data_reconciliation_spark.sources.readers import read_csv_with_fallback
from tests.oracle_pandas import run_compare_oracle

SAMPLE_DIR = os.path.join(os.path.dirname(__file__), "fixtures")

CFG = {
    "ignore_nulls": False,
    "include_missing_records": False,
    "fields": {
        "name": {"type": "string", "clean": ["strip_whitespace", "lowercase"], "fuzzy_match": 90},
        "price": {"type": "decimal", "tolerance": 0.01},
        "date": {"type": "date", "formats": ["%Y-%m-%d", "%d %b %Y", "%Y/%m/%d"]},
        "quantity": {"type": "integer"},
        "category": {"type": "string", "clean": ["strip_whitespace", "lowercase"]},
        "description": {"type": "string", "clean": ["strip_whitespace", "lowercase"], "fuzzy_match": 80},
        "vendor": {"type": "ignore"},
        "location": {"type": "string", "clean": ["strip_whitespace", "lowercase"], "fuzzy_match": 80},
        "status": {"type": "string", "clean": ["strip_whitespace", "lowercase"]},
    },
}


def _canon_pandas(df: pd.DataFrame) -> pd.DataFrame:
    df = df.rename(columns={c: c.strip().lower().replace(" ", "_") for c in df.columns})
    for col, rule in CFG["fields"].items():
        if col in df.columns and rule.get("clean"):
            s = df[col].astype(str)
            if "strip_whitespace" in rule["clean"]:
                s = s.str.strip()
            if "lowercase" in rule["clean"]:
                s = s.str.lower()
            df[col] = s
    return df


def test_sample_csv_parity(spark):
    cfg = ReconConfig.from_dict(CFG)
    df_old = prepare_snapshot(
        read_csv_with_fallback(spark, f"{SAMPLE_DIR}/sample_old.csv"), cfg.fields
    )
    df_new = prepare_snapshot(
        read_csv_with_fallback(spark, f"{SAMPLE_DIR}/sample_new.csv"), cfg.fields
    )
    res = reconcile(df_old, df_new, ["id"], cfg)

    # oracle on the same files through pandas (same canonicalization)
    p_old = _canon_pandas(pd.read_csv(f"{SAMPLE_DIR}/sample_old.csv"))
    p_new = _canon_pandas(pd.read_csv(f"{SAMPLE_DIR}/sample_new.csv"))
    want = run_compare_oracle(p_old, p_new, ["id"], CFG)

    got_exc = {(r["id"], r["field"]) for r in res.exceptions.collect()}
    want_exc = {(e["id"], e["field"]) for e in want["exceptions"]}
    assert got_exc == want_exc
    assert res.match_pct == want["match_pct"]

    # pin the known drifts from FIXTURES.md §4
    fields_flagged = {f for _, f in got_exc}
    assert "date" in fields_flagged       # format drift = exact mismatch
    assert "vendor" not in fields_flagged  # ignored column
    # in-tolerance price move (250.5 -> 250.49) must NOT be an exception
    price_ids = {i for i, f in got_exc if f == "price"}
    assert 2 not in price_ids and 4 in price_ids
    # cleaned case/whitespace drift on exact fields is not an exception
    assert not {(1, "category"), (1, "status")} & got_exc
    # fuzzy thresholds: name 94.7 passes 90, 85.7 fails it; description
    # 95.2 passes 80, 75.0 fails it
    assert (1, "name") not in got_exc and (3, "name") in got_exc
    assert (5, "description") not in got_exc and (2, "description") in got_exc
    assert not any(f == "vendor" for _, f in want_exc)
