"""Snapshot reconciliation — the engine's parity core.

Reproduces the reference ``run_compare`` semantics
(``backend/analysis/compare.py:178-324``) as one declarative DataFrame
plan instead of a pandas merge plus per-row Python loops:

* full-outer equi-join on the PK with presence flags (J1, compare.py:205-211)
* anti-join branches for deleted/added records (J2/J3, compare.py:216-217)
* per-field mismatch predicates built at plan time (F1-F5,
  compare.py:326-403) — exact / fuzzy(indel-ratio) / decimal-tolerance,
  with the exact null rules (both-null match; null-vs-value mismatch
  unless ignore_nulls)
* wide->long exception materialization via array+explode (R1,
  compare.py:287-296) and ``_record_status`` rows (R2, compare.py:229-254)
* match percentage (A1, compare.py:298-308):
  ``round(100 * (n_both*n_active_fields - field_exceptions) / denom, 2)``,
  100.0 when the denominator is 0; missing-record exceptions count toward
  ``num_exceptions`` but never toward the formula.

Three entry points share one flagged join, one metrics aggregation and
one exception melt, and differ only in which outputs they build:

``reconcile()`` returns a ``ReconcileResult``: the metrics and the lazy
``exceptions`` stream, both read from one persisted flagged join, so the
snapshot join runs once for both.  The caller frees the cache with
``release()`` once ``exceptions`` has been consumed.

``reconcile_metrics()`` returns the scalars only (``ReconcileMetrics``):
join, mismatch flags and aggregation fuse into one pass; nothing is
cached.

``reconcile_exceptions()`` returns the exception DataFrame only; the
join runs once, when it is consumed, and nothing is cached.

All three use the join's row-multiplying duplicate-key semantics, the
same as the reference pandas merge.

Scale notes: the join is a plain equi-join, so Catalyst picks
broadcast-hash when one snapshot is small and sort-merge (AQE
skew-splittable) otherwise; all predicates except the fuzzy kernel are
native expressions inside whole-stage codegen.  The fuzzy kernel is one
Arrow-batched pandas UDF evaluated only on rows where both values are
non-null (the null gates short-circuit around it).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from data_reconciliation_spark.config import FieldRule, ReconConfig
from data_reconciliation_spark.functions.similarity import indel_ratio_udf

_OLD, _NEW = "_old", "_new"
_PRESENT_OLD, _PRESENT_NEW = "__present_old", "__present_new"
RECORD_STATUS_FIELD = "_record_status"


def _is_nullish(col: Column, dtype: T.DataType) -> Column:
    """pandas ``isna`` parity: NULL, and NaN for float types."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return col.isNull() | F.isnan(col)
    return col.isNull()


_TEMPORAL = (T.DateType, T.TimestampType, T.TimestampNTZType)
_NUMERIC = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


def _exact_inequality(
    old: Column, new: Column, dtype_old: T.DataType, dtype_new: T.DataType
) -> Column:
    if type(dtype_old) is type(dtype_new):
        return old != new
    o_temporal, n_temporal = isinstance(dtype_old, _TEMPORAL), isinstance(
        dtype_new, _TEMPORAL
    )
    o_string, n_string = isinstance(dtype_old, T.StringType), isinstance(
        dtype_new, T.StringType
    )
    o_numeric, n_numeric = isinstance(dtype_old, _NUMERIC), isinstance(
        dtype_new, _NUMERIC
    )
    if (o_temporal and n_string) or (o_string and n_temporal):
        return old.cast("string") != new.cast("string")
    if (o_numeric and n_string) or (o_string and n_numeric):
        return F.lit(True)  # Python cross-type inequality (callers gate nulls)
    return old != new  # same family (e.g. int vs double): Catalyst coercion


def _mismatch_expr(
    old: Column,
    new: Column,
    dtype_old: T.DataType,
    dtype_new: T.DataType,
    rule: FieldRule,
    ignore_nulls: bool,
) -> Column:
    """One boolean Column: True iff this (row, field) is an exception.

    Null gates replicate reference compare.py:334-341/360-367/385-392;
    the value predicate replicates F1/F2/F3.
    """
    old_null = _is_nullish(old, dtype_old)
    new_null = _is_nullish(new, dtype_new)
    both_null = old_null & new_null
    one_null = old_null | new_null  # evaluated after both_null in the when-chain

    if rule.is_fuzzy:
        # F2 (compare.py:352-375): fuzz.ratio(str(o), str(n)) < threshold.
        value_pred = (
            indel_ratio_udf(old.cast("string"), new.cast("string"))
            < F.lit(float(rule.fuzzy_match))
        )
    elif rule.is_tolerance:
        # F3 (compare.py:377-403): abs(float(o)-float(n)) > tol;
        # float-coercion failure => mismatch (try_cast null while the
        # original value is non-null).
        to = old.cast("string").try_cast("double")
        tn = new.cast("string").try_cast("double")
        value_pred = F.when(to.isNull() | tn.isNull(), F.lit(True)).otherwise(
            F.abs(to - tn) > F.lit(float(rule.tolerance))
        )
    else:
        # F1 (compare.py:326-350): exact inequality.  The reference
        # compares raw pandas cell values (Python semantics); when the two
        # snapshots loaded the same column as different types, replicate
        # that instead of letting ANSI Catalyst insert a throwing cast:
        #   temporal vs string  -> both sides were strings in pandas CSV
        #                          land: compare stringified (ISO form)
        #   numeric vs string   -> Python `'1' != 1` is always True:
        #                          mismatch whenever both are non-null
        #   numeric vs numeric  -> Catalyst numeric coercion == Python
        value_pred = _exact_inequality(old, new, dtype_old, dtype_new)

    return (
        F.when(both_null, F.lit(False))
        .when(one_null, F.lit(not ignore_nulls))
        .otherwise(value_pred)
    )


@dataclass(frozen=True)
class ReconcileMetrics:
    """The scalar metrics of a reconciliation (A1/A2, compare.py:298-308)."""

    match_pct: float
    n_both: int
    n_old_only: int
    n_new_only: int
    field_exception_count: int
    per_field_exceptions: dict[str, int]


@dataclass(frozen=True)
class ReconcileResult(ReconcileMetrics):
    """Typed analog of the reference result dict (compare.py:315-318)."""

    exceptions: DataFrame          # long format: pk..., field, old, new, change_type
    _cached: DataFrame = dc_field(repr=False)  # the persisted flagged join

    def release(self) -> None:
        """Unpersist the cached flagged join backing ``exceptions``; call
        once it has been consumed (it stays usable and recomputes)."""
        self._cached.unpersist()


def _presence() -> tuple[Column, Column, Column]:
    """``(in_both, old_only, new_only)`` over the flagged join."""
    return (
        F.col(_PRESENT_OLD).isNotNull() & F.col(_PRESENT_NEW).isNotNull(),
        F.col(_PRESENT_OLD).isNotNull() & F.col(_PRESENT_NEW).isNull(),
        F.col(_PRESENT_OLD).isNull() & F.col(_PRESENT_NEW).isNotNull(),
    )


def _flagged_join(
    df_old: DataFrame,
    df_new: DataFrame,
    pk_cols: list[str],
    cfg: ReconConfig | dict | None,
) -> tuple[DataFrame, dict[str, str], ReconConfig]:
    """J1 + F1-F5: the full-outer join of both snapshots with presence
    flags and one boolean mismatch column per active (non-ignored)
    compare field.  Returns ``(flagged, {field: flag column}, cfg)``."""
    cfg = cfg if isinstance(cfg, ReconConfig) else ReconConfig.from_dict(cfg)
    compare_cols = [c for c in df_old.columns if c not in pk_cols]
    missing = [c for c in compare_cols if c not in df_new.columns]
    if missing:
        raise ValueError(f"columns missing from new snapshot: {missing}")

    old_types = dict(zip(df_old.columns, [f.dataType for f in df_old.schema.fields]))
    new_types = dict(zip(df_new.columns, [f.dataType for f in df_new.schema.fields]))

    # Presence flags instead of pandas ``indicator=True``.  Joining on
    # the pk column list (not an expr) coalesces the key columns — same
    # shape as the pandas merge.
    lhs = df_old.select(
        *pk_cols,
        *[F.col(c).alias(c + _OLD) for c in compare_cols],
        F.lit(True).alias(_PRESENT_OLD),
    )
    rhs = df_new.select(
        *pk_cols,
        *[F.col(c).alias(c + _NEW) for c in compare_cols],
        F.lit(True).alias(_PRESENT_NEW),
    )
    merged = lhs.join(rhs, on=pk_cols, how="full_outer")

    active_cols = [c for c in compare_cols if not cfg.rule(c).is_ignored]
    flags = {c: f"__mm_{i}" for i, c in enumerate(active_cols)}
    flagged = merged.select(
        "*",
        *[
            _mismatch_expr(
                F.col(c + _OLD),
                F.col(c + _NEW),
                old_types[c],
                new_types[c],
                cfg.rule(c),
                cfg.ignore_nulls,
            ).alias(flags[c])
            for c in active_cols
        ],
    )
    return flagged, flags, cfg


def _metrics(flagged: DataFrame, flags: dict[str, str]) -> ReconcileMetrics:
    """Every count the match formula needs in ONE aggregation job
    (map-side partial aggregation, no collect loops)."""
    in_both, old_only, new_only = _presence()
    row = flagged.agg(
        F.sum(in_both.cast("long")).alias("n_both"),
        F.sum(old_only.cast("long")).alias("n_old_only"),
        F.sum(new_only.cast("long")).alias("n_new_only"),
        *[
            F.sum((in_both & F.col(flag)).cast("long")).alias(f"exc_{i}")
            for i, flag in enumerate(flags.values())
        ],
    ).collect()[0]
    n_both = row["n_both"] or 0
    per_field = {c: (row[f"exc_{i}"] or 0) for i, c in enumerate(flags)}
    field_exceptions = sum(per_field.values())

    # A1 — exact reference formula (compare.py:298-308).
    denom = n_both * len(flags)
    match_pct = round(100.0 * (denom - field_exceptions) / denom, 2) if denom else 100.0
    return ReconcileMetrics(
        match_pct=match_pct,
        n_both=n_both,
        n_old_only=row["n_old_only"] or 0,
        n_new_only=row["n_new_only"] or 0,
        field_exception_count=field_exceptions,
        per_field_exceptions=per_field,
    )


def _melt(
    flagged: DataFrame,
    pk_cols: list[str],
    flags: dict[str, str],
    include_missing_records: bool,
) -> DataFrame:
    """R1 + R2 fused: ONE array+filter+explode over the flagged join
    carries the field-mismatch structs (gated on in_both) and the
    ``_record_status`` struct (gated on the presence flags), so the
    exception stream is a single pass over one execution of the join."""
    in_both, old_only, new_only = _presence()

    def _s(col: Column) -> Column:
        return col.cast("string")

    def _struct(field: Column, old: Column, new: Column, ct: Column) -> Column:
        return F.struct(
            field.alias("field"),
            old.alias("old"),
            new.alias("new"),
            ct.alias("change_type"),
        )

    melt_structs = [
        F.when(
            in_both & F.col(flag),
            _struct(
                F.lit(c),
                _s(F.col(c + _OLD)),
                _s(F.col(c + _NEW)),
                F.lit(None).cast("string"),
            ),
        )
        for c, flag in flags.items()
    ]
    if include_missing_records:
        # R2 (compare.py:229-254) as the leading array slot.
        melt_structs.insert(
            0,
            F.when(
                old_only,
                _struct(
                    F.lit(RECORD_STATUS_FIELD),
                    F.lit("EXISTS"),
                    F.lit("MISSING"),
                    F.lit("deleted_record"),
                ),
            ).when(
                new_only,
                _struct(
                    F.lit(RECORD_STATUS_FIELD),
                    F.lit("MISSING"),
                    F.lit("EXISTS"),
                    F.lit("added_record"),
                ),
            ),
        )

    all_structs = F.array(*melt_structs) if melt_structs else F.array().cast(
        "array<struct<field:string,old:string,new:string,change_type:string>>"
    )

    return (
        flagged.select(
            *pk_cols,
            F.explode(F.filter(all_structs, lambda x: x.isNotNull())).alias("e"),
        )
        .select(*pk_cols, "e.field", "e.old", "e.new", "e.change_type")
    )


def reconcile(
    df_old: DataFrame,
    df_new: DataFrame,
    pk_cols: list[str],
    cfg: ReconConfig | dict | None = None,
) -> ReconcileResult:
    """Metrics plus the lazy exception stream over one cached flagged
    join — the reference ``run_compare(df_old, df_new, pk_cols, cfg)``
    contract (``test_comparison_logic.py:13``).  Call ``release()`` once
    ``exceptions`` has been consumed."""
    flagged, flags, cfg = _flagged_join(df_old, df_new, pk_cols, cfg)
    # the metrics job materializes the cache and the melt scans it, so the
    # join runs once (at warehouse scale: a written intermediate table)
    cached = flagged.persist(StorageLevel.MEMORY_AND_DISK)
    return ReconcileResult(
        **vars(_metrics(cached, flags)),
        exceptions=_melt(cached, pk_cols, flags, cfg.include_missing_records),
        _cached=cached,
    )


def reconcile_metrics(
    df_old: DataFrame,
    df_new: DataFrame,
    pk_cols: list[str],
    cfg: ReconConfig | dict | None = None,
) -> ReconcileMetrics:
    """The scalar metrics only; nothing is cached."""
    flagged, flags, _ = _flagged_join(df_old, df_new, pk_cols, cfg)
    return _metrics(flagged, flags)


def reconcile_exceptions(
    df_old: DataFrame,
    df_new: DataFrame,
    pk_cols: list[str],
    cfg: ReconConfig | dict | None = None,
) -> DataFrame:
    """The lazy exception stream only (pk..., field, old, new,
    change_type); nothing is cached or needs releasing."""
    flagged, flags, cfg = _flagged_join(df_old, df_new, pk_cols, cfg)
    return _melt(flagged, pk_cols, flags, cfg.include_missing_records)
