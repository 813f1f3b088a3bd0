"""Characterization parity tests — port of the reference's
``test_comparison_logic.py`` scenarios with hard asserts on the goldens
recorded in ``COMPARISON_ENGINE_FIXES.md:82-97``:

* strict  (ignore_nulls=False): match_pct 55.56, 8 exceptions
* lenient (ignore_nulls=True):  match_pct 88.89, 2 exceptions
* missing-record variant: deleted_record / added_record exceptions
* comparison-types variant: exact / fuzzy / decimal dispatch
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import types as T

from data_reconciliation_spark.operators.reconcile import (
    reconcile,
    reconcile_exceptions,
    reconcile_metrics,
)

NULL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("age", T.DoubleType()),
        T.StructField("score", T.DoubleType()),
    ]
)


@pytest.fixture(scope="module")
def snapshots(spark):
    # Mirrors reference test_comparison_logic.py:15-33 (pandas None -> NaN
    # for numeric columns == Spark null doubles).
    df_old = spark.createDataFrame(
        [
            (1, "John", 25.0, 85.5),
            (2, "Jane", 30.0, 90.0),
            (3, "Bob", None, 75.5),
            (4, "Alice", 40.0, 88.0),
            (5, None, 35.0, 92.0),
            (6, "Charlie", 45.0, None),
        ],
        NULL_SCHEMA,
    )
    df_new = spark.createDataFrame(
        [
            (1, "John", 25.0, 85.5),
            (2, "Jane Doe", 31.0, 90.0),
            (3, "Bob", 35.0, 75.5),
            (4, None, 40.0, 89.0),
            (5, "Eve", 35.0, None),
            (6, "Charlie", None, 95.0),
        ],
        NULL_SCHEMA,
    )
    return df_old, df_new


FIELD_CFG = {
    "name": {"type": "string", "fuzzy_match": 90},
    "age": {"type": "decimal", "tolerance": 1.0},
    "score": {"type": "decimal", "tolerance": 0.1},
}


def _exc_set(result):
    return {
        (r["id"], r["field"]) for r in result.exceptions.collect()
    }


def test_strict_null_handling(snapshots):
    df_old, df_new = snapshots
    res = reconcile(
        df_old,
        df_new,
        ["id"],
        {"ignore_nulls": False, "include_missing_records": False, "fields": FIELD_CFG},
    )
    # Golden: COMPARISON_ENGINE_FIXES.md:85 — 55.56% / 8 exceptions.
    assert res.match_pct == 55.56
    assert res.field_exception_count == 8
    assert _exc_set(res) == {
        (2, "name"),   # Jane vs Jane Doe: ratio 66.67 < 90
        (4, "name"),   # Alice vs null
        (5, "name"),   # null vs Eve
        (3, "age"),    # null vs 35
        (6, "age"),    # 45 vs null
        (4, "score"),  # |88-89| > 0.1
        (5, "score"),  # 92 vs null
        (6, "score"),  # null vs 95
    }


def test_lenient_null_handling(snapshots):
    df_old, df_new = snapshots
    res = reconcile(
        df_old,
        df_new,
        ["id"],
        {"ignore_nulls": True, "include_missing_records": False, "fields": FIELD_CFG},
    )
    # Golden: COMPARISON_ENGINE_FIXES.md:86 — 88.89% / 2 exceptions.
    assert res.match_pct == 88.89
    assert res.field_exception_count == 2
    assert _exc_set(res) == {(2, "name"), (4, "score")}


def test_missing_records(spark):
    # Reference test_comparison_logic.py:100-132.
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    df_old = spark.createDataFrame(
        [(1, "John", 85.5), (2, "Jane", 90.0), (3, "Bob", 75.5), (4, "Alice", 88.0)],
        schema,
    )
    df_new = spark.createDataFrame(
        [(1, "John", 85.5), (2, "Jane Doe", 90.0), (5, "Eve", 92.0), (6, "Charlie", 95.0)],
        schema,
    )
    res = reconcile(
        df_old,
        df_new,
        ["id"],
        {
            "ignore_nulls": False,
            "include_missing_records": True,
            "fields": {
                "name": {"type": "string", "fuzzy_match": 90},
                "score": {"type": "decimal", "tolerance": 0.1},
            },
        },
    )
    rows = res.exceptions.collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["change_type"], set()).add(r["id"])
    assert by_type.get("deleted_record") == {3, 4}
    assert by_type.get("added_record") == {5, 6}
    # one field exception (Jane vs Jane Doe); missing-record exceptions do
    # NOT enter the match formula (compare.py:298-308)
    assert res.field_exception_count == 1
    assert res.match_pct == 75.0  # (2 rows * 2 fields - 1) / 4
    assert len(rows) == 5
    # record-status rows carry the EXISTS/MISSING payload
    deleted = [r for r in rows if r["change_type"] == "deleted_record"][0]
    assert (deleted["field"], deleted["old"], deleted["new"]) == (
        "_record_status",
        "EXISTS",
        "MISSING",
    )


def test_comparison_types(spark):
    # Reference test_comparison_logic.py:141-170.
    df_old = spark.createDataFrame(
        [(1, "ABC", "Hello World", 10.00), (2, "DEF", "Test String", 20.50), (3, "GHI", "Another Test", 30.25)],
        "id long, exact_field string, fuzzy_field string, decimal_field double",
    )
    df_new = spark.createDataFrame(
        [(1, "ABC", "Hello World!", 10.01), (2, "DEF", "Test String", 20.50), (3, "XYZ", "Another Tests", 30.20)],
        "id long, exact_field string, fuzzy_field string, decimal_field double",
    )
    res = reconcile(
        df_old,
        df_new,
        ["id"],
        {
            "ignore_nulls": False,
            "fields": {
                "exact_field": {"type": "string"},
                "fuzzy_field": {"type": "string", "fuzzy_match": 90},
                "decimal_field": {"type": "decimal", "tolerance": 0.05},
            },
        },
    )
    # fuzzy 95.65 / 96.0 both above 90; decimal delta at id1 is 0.01 (ok)
    # but id3 is 30.25-30.20 = 0.05000000000000071 in IEEE double => > 0.05
    # => mismatch.  Verified by executing the reference run_compare on this
    # exact input: 77.78%, exceptions {(3, exact_field), (3, decimal_field)}.
    assert _exc_set(res) == {(3, "exact_field"), (3, "decimal_field")}
    assert res.match_pct == 77.78


def test_ignore_field_and_empty_denominator(spark):
    df_old = spark.createDataFrame([(1, "a", "x")], "id long, keep string, skip string")
    df_new = spark.createDataFrame([(1, "a", "y")], "id long, keep string, skip string")
    res = reconcile(
        df_old, df_new, ["id"], {"fields": {"skip": {"type": "ignore"}}}
    )
    assert res.match_pct == 100.0
    assert res.exceptions.count() == 0
    # all fields ignored -> denominator 0 -> 100.0 (compare.py:307-308)
    res2 = reconcile(
        df_old,
        df_new,
        ["id"],
        {"fields": {"skip": {"type": "ignore"}, "keep": {"type": "ignore"}}},
    )
    assert res2.match_pct == 100.0


def test_unparsable_decimal_is_mismatch(spark):
    # compare.py:397-399 — float-coercion failure => mismatch.
    df_old = spark.createDataFrame([(1, "12.5"), (2, "oops")], "id long, v string")
    df_new = spark.createDataFrame([(1, "12.5"), (2, "oops")], "id long, v string")
    res = reconcile(
        df_old, df_new, ["id"], {"fields": {"v": {"type": "decimal", "tolerance": 0.1}}}
    )
    # identical strings but unparsable -> still a mismatch, exactly like the
    # reference (float('oops') raises on both sides before equality is seen)
    assert _exc_set(res) == {(2, "v")}


def _metrics(res):
    return (
        res.match_pct,
        res.n_both,
        res.n_old_only,
        res.n_new_only,
        res.field_exception_count,
        res.per_field_exceptions,
    )


@pytest.mark.parametrize(
    "fields, drop_one_per_side",
    [
        (FIELD_CFG, False),
        ({**FIELD_CFG, "age": {"type": "ignore"}}, False),
        ({c: {"type": "ignore"} for c in FIELD_CFG}, False),
        (FIELD_CFG, True),
    ],
    ids=["field_cfg", "one_ignored", "all_ignored", "missing_both_sides"],
)
def test_entry_points_agree(snapshots, fields, drop_one_per_side):
    """reconcile_metrics() gives reconcile()'s scalars and
    reconcile_exceptions() gives its exception rows: the three entry
    points build one join, one aggregation and one melt."""
    df_old, df_new = snapshots
    if drop_one_per_side:
        df_old, df_new = df_old.where("id != 6"), df_new.where("id != 5")
    cfg = {"ignore_nulls": False, "include_missing_records": True, "fields": fields}
    full = reconcile(df_old, df_new, ["id"], cfg)
    try:
        metrics = reconcile_metrics(df_old, df_new, ["id"], cfg)
        assert _metrics(metrics) == _metrics(full)
        exceptions = reconcile_exceptions(df_old, df_new, ["id"], cfg)
        assert Counter(exceptions.collect()) == Counter(full.exceptions.collect())
    finally:
        full.release()
    assert set(metrics.per_field_exceptions) == {
        c for c, r in fields.items() if r["type"] != "ignore"
    }
    if all(r["type"] == "ignore" for r in fields.values()):
        assert metrics.match_pct == 100.0
        assert metrics.field_exception_count == 0
    assert (metrics.n_old_only, metrics.n_new_only) == (
        (1, 1) if drop_one_per_side else (0, 0)
    )
