"""Tiny pandas oracle reproducing the reference ``run_compare`` semantics
(``/root/reference/backend/analysis/compare.py:178-324``) for differential
testing.  Written from scratch against the documented semantics (SURVEY.md
§2.4/§2.6) — deliberately simple and eager; the engine under test is the
Spark implementation.
"""

from __future__ import annotations

import pandas as pd

from data_reconciliation_spark.functions.similarity import indel_ratio_py


def _isna(v) -> bool:
    return pd.isna(v)


def _cell_mismatch(old, new, rule: dict, ignore_nulls: bool) -> bool:
    if _isna(old) and _isna(new):
        return False
    if _isna(old) or _isna(new):
        return not ignore_nulls
    rtype = rule.get("type")
    if rtype == "string" and "fuzzy_match" in rule:
        return indel_ratio_py(str(old), str(new)) < rule["fuzzy_match"]
    if rtype == "decimal" and "tolerance" in rule:
        try:
            return abs(float(old) - float(new)) > rule["tolerance"]
        except (ValueError, TypeError):
            return True
    return old != new


def run_compare_oracle(df_old: pd.DataFrame, df_new: pd.DataFrame, pk_cols, cfg=None):
    cfg = cfg or {}
    ignore_nulls = cfg.get("ignore_nulls", False)
    include_missing = cfg.get("include_missing_records", False)
    fields = cfg.get("fields", {})

    merged = df_old.merge(
        df_new, on=pk_cols, suffixes=("_old", "_new"), how="outer", indicator=True
    )
    both = merged[merged["_merge"] == "both"]
    old_only = merged[merged["_merge"] == "left_only"]
    new_only = merged[merged["_merge"] == "right_only"]
    compare_cols = [c for c in df_old.columns if c not in pk_cols]
    active = [c for c in compare_cols if fields.get(c, {}).get("type") != "ignore"]

    exceptions = []
    if include_missing:
        for _, row in old_only.iterrows():
            exceptions.append(
                {**{k: row[k] for k in pk_cols}, "field": "_record_status",
                 "old": "EXISTS", "new": "MISSING", "change_type": "deleted_record"}
            )
        for _, row in new_only.iterrows():
            exceptions.append(
                {**{k: row[k] for k in pk_cols}, "field": "_record_status",
                 "old": "MISSING", "new": "EXISTS", "change_type": "added_record"}
            )

    field_exceptions = 0
    for col in active:
        rule = fields.get(col, {})
        for _, row in both.iterrows():
            if _cell_mismatch(row[f"{col}_old"], row[f"{col}_new"], rule, ignore_nulls):
                exceptions.append(
                    {**{k: row[k] for k in pk_cols}, "field": col,
                     "old": row[f"{col}_old"], "new": row[f"{col}_new"]}
                )
                field_exceptions += 1

    denom = len(both) * len(active)
    match_pct = round(100 * (denom - field_exceptions) / denom, 2) if denom else 100.0
    return {"match_pct": match_pct, "n_both": len(both), "exceptions": exceptions}
