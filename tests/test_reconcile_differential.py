"""Differential test: Spark reconcile vs the pandas oracle on seeded
random snapshot pairs (fuzzy + tolerance + exact rules, nulls, missing
records, unparsable numerics)."""

from __future__ import annotations

import random
import string
from collections import Counter

import pandas as pd
import pytest

from data_reconciliation_spark.operators.reconcile import (
    reconcile,
    reconcile_exceptions,
    reconcile_metrics,
)
from tests.oracle_pandas import run_compare_oracle


def _rand_word(rng):
    return "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(3, 10)))


def _make_pair(rng, n=40):
    ids = list(range(n))
    rows_old, rows_new = [], []
    for i in ids:
        name = _rand_word(rng)
        num = round(rng.uniform(0, 100), 2)
        txt = " ".join(_rand_word(rng) for _ in range(3))
        rows_old.append((i, name if rng.random() > 0.1 else None,
                         num if rng.random() > 0.1 else None, txt))
        # perturb the new side
        name2 = name
        r = rng.random()
        if r < 0.2:
            name2 = name + rng.choice(["x", "y", " inc"])
        elif r < 0.3:
            name2 = _rand_word(rng)
        elif r < 0.38:
            name2 = None
        num2 = num
        r = rng.random()
        if r < 0.25:
            num2 = round(num + rng.uniform(-2, 2), 2)
        elif r < 0.33:
            num2 = None
        txt2 = txt if rng.random() > 0.3 else txt + " extra"
        rows_new.append((i, name2, num2, txt2))
    # drop some rows from each side (missing-record paths)
    old = [r for r in rows_old if rng.random() > 0.08]
    new = [r for r in rows_new if rng.random() > 0.08]
    cols = ["id", "name", "amount", "note"]
    return pd.DataFrame(old, columns=cols), pd.DataFrame(new, columns=cols)


CFG = {
    "ignore_nulls": False,
    "include_missing_records": True,
    "fields": {
        "name": {"type": "string", "fuzzy_match": 85},
        "amount": {"type": "decimal", "tolerance": 1.0},
        # note: no rule -> exact
    },
}


@pytest.mark.parametrize("seed", [7, 42, 1337])
@pytest.mark.parametrize("ignore_nulls", [False, True])
def test_differential_random(spark, seed, ignore_nulls):
    rng = random.Random(seed)
    pdf_old, pdf_new = _make_pair(rng)
    cfg = {**CFG, "ignore_nulls": ignore_nulls}

    expected = run_compare_oracle(pdf_old, pdf_new, ["id"], cfg)

    schema = "id long, name string, amount double, note string"
    df_old = spark.createDataFrame(pdf_old.astype(object).where(pdf_old.notna(), None), schema)
    df_new = spark.createDataFrame(pdf_new.astype(object).where(pdf_new.notna(), None), schema)
    res = reconcile(df_old, df_new, ["id"], cfg)

    assert res.match_pct == expected["match_pct"]
    got = {(r["id"], r["field"]) for r in res.exceptions.collect()}
    want = {(e["id"], e["field"]) for e in expected["exceptions"]}
    assert got == want


def test_duplicate_keys_multiply_rows_like_the_oracle(spark):
    """A key repeated on one side joins once per copy, as in the
    reference's pandas merge: every entry point counts each joined row."""
    cols = ["id", "name", "amount"]
    pdf_old = pd.DataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (2, "c", 3.0), (3, "d", 4.0), (4, "e", 5.0)],
        columns=cols,
    )
    pdf_new = pd.DataFrame(
        [(1, "a", 1.0), (2, "c", 3.5), (3, "d", 4.0), (3, "x", 4.0), (5, "f", 6.0)],
        columns=cols,
    )
    cfg = {
        "include_missing_records": True,
        "fields": {"amount": {"type": "decimal", "tolerance": 0.1}},
    }
    expected = run_compare_oracle(pdf_old, pdf_new, ["id"], cfg)
    want_rows = Counter((e["id"], e["field"]) for e in expected["exceptions"])
    want_per_field = Counter(
        e["field"] for e in expected["exceptions"] if e["field"] != "_record_status"
    )
    assert expected["n_both"] == 5  # keys 1 and 3 each join twice

    schema = "id long, name string, amount double"
    df_old = spark.createDataFrame(pdf_old, schema)
    df_new = spark.createDataFrame(pdf_new, schema)
    full = reconcile(df_old, df_new, ["id"], cfg)
    try:
        metrics = reconcile_metrics(df_old, df_new, ["id"], cfg)
        streams = {
            "reconcile": full.exceptions,
            "reconcile_exceptions": reconcile_exceptions(df_old, df_new, ["id"], cfg),
        }
        for res in (full, metrics):
            assert res.n_both == expected["n_both"]
            assert res.per_field_exceptions == {
                c: want_per_field[c] for c in ("name", "amount")
            }
            assert res.match_pct == expected["match_pct"]
        for name, stream in streams.items():
            got = Counter((r["id"], r["field"]) for r in stream.collect())
            assert got == want_rows, name
    finally:
        full.release()
