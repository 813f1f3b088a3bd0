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


@dataclass
class ReconcileResult:
    """Typed analog of the reference result dict (compare.py:315-318)."""

    match_pct: float
    exceptions: DataFrame          # long format: pk..., field, old, new, change_type
    n_both: int = 0
    n_old_only: int = 0
    n_new_only: int = 0
    field_exception_count: int = 0
    per_field_exceptions: dict[str, int] = dc_field(default_factory=dict)
    # cached flagged-join handle; release() when done with `exceptions`
    _persisted: DataFrame | None = None

    def release(self) -> None:
        """Unpersist the cached flagged join backing ``exceptions``.
        Call once the exceptions DataFrame has been written/collected;
        ``exceptions`` stays usable afterwards (it recomputes)."""
        if self._persisted is not None:
            self._persisted.unpersist()
            self._persisted = None

    def to_result(self) -> dict:
        """Reference-shaped ``{match_pct, exceptions}`` (collects — use on
        small/test data only; at scale, consume ``exceptions`` lazily)."""
        pk_and_rest = [r.asDict() for r in self.exceptions.collect()]
        for rec in pk_and_rest:
            if rec.get("change_type") is None:
                rec.pop("change_type", None)
        return {"match_pct": self.match_pct, "exceptions": pk_and_rest}


# Diagnostic hook: when set, called with the metrics aggregation
# DataFrame immediately before it is collected (tools/dump_plans.py uses
# it to snapshot the executed plan).  None in production — a single
# ``is not None`` check per reconcile() call, no data-path cost.
_metrics_plan_probe = None


def reconcile(
    df_old: DataFrame,
    df_new: DataFrame,
    pk_cols: list[str],
    cfg: ReconConfig | dict | None = None,
    eager_metrics: bool = True,
    metrics_only: bool = False,
    unique_pk: bool = False,
) -> ReconcileResult:
    """Compare two snapshots on ``pk_cols`` under ``cfg`` rules.

    Pure DataFrame -> DataFrame; mirrors the library contract of the
    reference ``run_compare(df_old, df_new, pk_cols, cfg)``
    (``test_comparison_logic.py:13``).

    ``eager_metrics=False`` skips the metrics aggregation AND the
    flagged-join persist: the result carries only the lazy
    ``exceptions`` DataFrame (metrics fields are NaN/0), which executes
    the snapshot join exactly once when consumed, and there is no cache
    to release.  Use it when only the exception stream is needed (e.g.
    a long-running driver emitting exceptions per run — the eager
    path's cache would otherwise leak until ``release()``).

    ``metrics_only=True`` (with eager metrics) is the symmetric fast
    path for consumers of the SCALARS only (A1/A2 dashboards): the
    flagged join is NOT persisted — join, per-field flags, and the
    metrics aggregation fuse into one whole-stage-codegen pass with
    map-side partial aggregation, never materializing the wide row
    stream (a1_match_metrics rode this path from round 6 on: headline
    4.17s/kernel 1.76s in BENCH_r04.json with the persist-based path
    vs 3.31s/1.92s = 1.72x in the round-7 snapshot — see
    OPTIMIZATION_r07.md; BENCH/headline.json is machine-refreshed each
    bench run, so current numbers live there, not here — the persist's
    cache write dominated the old path's first invocation).
    ``exceptions`` remains usable but RECOMPUTES the join if consumed —
    callers that want both the metrics and the exception stream should
    keep the default, whose single cached join feeds both.

    ``unique_pk=True`` asserts that ``pk_cols`` uniquely identify a row
    in BOTH snapshots (the normal reconciliation contract; the reference
    pandas merge would row-multiply on duplicates exactly like the
    join).  With ``metrics_only`` it enables the union-aggregate metrics
    plan: both sides are tagged and unioned, merged per key by one
    aggregation (a SortAggregate — struct/string Max buffers are not
    hash-mutable), and reduced to the scalars — ONE wide exchange, no
    join step, and only active columns shuffled, versus the full-outer
    sort-merge join's two exchanges + join (measured at sf0.1
    local[32]: 0.97-1.27 s -> 0.62-0.70 s warm, 3.7 -> 1.2 s first
    invocation — A/B recorded in OPTIMIZATION_r07.md
    "a1_match_metrics"; the simpler plan also compiles less codegen).
    Under duplicate keys the two plans genuinely differ (merge
    multiplies rows, the aggregation collapses them), hence the
    explicit opt-in rather than an auto-detect.
    """
    cfg = cfg if isinstance(cfg, ReconConfig) else ReconConfig.from_dict(cfg)
    compare_cols = [c for c in df_old.columns if c not in pk_cols]
    missing = [c for c in compare_cols if c not in df_new.columns]
    if missing:
        raise ValueError(f"columns missing from new snapshot: {missing}")

    old_types = dict(zip(df_old.columns, [f.dataType for f in df_old.schema.fields]))
    new_types = dict(zip(df_new.columns, [f.dataType for f in df_new.schema.fields]))

    # J1: full-outer equi-join with presence flags instead of pandas
    # ``indicator=True``.  Joining on the pk column list (not an expr)
    # coalesces the key columns — same shape as the pandas merge.
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
    mismatch_cols = {
        c: _mismatch_expr(
            F.col(c + _OLD),
            F.col(c + _NEW),
            old_types[c],
            new_types[c],
            cfg.rule(c),
            cfg.ignore_nulls,
        )
        for c in active_cols
    }

    in_both = F.col(_PRESENT_OLD).isNotNull() & F.col(_PRESENT_NEW).isNotNull()
    old_only = F.col(_PRESENT_OLD).isNotNull() & F.col(_PRESENT_NEW).isNull()
    new_only = F.col(_PRESENT_OLD).isNull() & F.col(_PRESENT_NEW).isNotNull()

    # The full-outer join + per-field mismatch flags (including any
    # fuzzy Arrow-UDF evaluation) are computed ONCE and cached: the
    # eager metrics aggregation below materializes the cache, and the
    # lazy ``exceptions`` melt then reads the same blocks instead of
    # re-executing the join (round-2 verdict: the join ran twice — at
    # warehouse scale, two sort-merge joins of both snapshots).  The
    # cache is released via ``ReconcileResult.release()``; at 100-TB
    # scale this persist is a written intermediate table, same dataflow.
    from pyspark.storagelevel import StorageLevel

    flag_names = {c: f"__mm_{i}" for i, c in enumerate(active_cols)}
    flagged = merged.select(
        "*", *[mismatch_cols[c].alias(flag_names[c]) for c in active_cols]
    )
    if eager_metrics:
        if not metrics_only:
            flagged = flagged.persist(StorageLevel.MEMORY_AND_DISK)

        # Single aggregation pass computes every count the match formula
        # needs (A1/A2) — one job, map-side partial agg, no collect loops.
        if metrics_only and unique_pk and active_cols:
            # union-aggregate metrics plan (see docstring): tag + union
            # both sides, merge per key with ONE aggregation, then
            # reduce to scalars — one wide exchange and no join, versus
            # the full-outer path's two exchanges + sort-merge join.
            # Only ACTIVE columns are carried: ignored compare columns
            # never enter the shuffle.  The per-key merge plans as
            # SortAggregate, not HashAggregate — Max's aggregation
            # buffer must be UnsafeRow-mutable for hash aggregation and
            # neither a struct nor a string buffer is — so the plan
            # still sorts by pk (r7 tested the flattened per-column
            # max(): same SortAggregate for the string columns and a
            # ~14% wider exchange than the packed struct, 29.8 ->
            # 34.0 MiB at sf0.1, so the struct form is kept; see
            # OPTIMIZATION_r07.md "a1_match_metrics").
            o_t = T.StructType(
                [T.StructField(c, old_types[c]) for c in active_cols]
            )
            n_t = T.StructType(
                [T.StructField(c, new_types[c]) for c in active_cols]
            )
            tagged = df_old.select(
                *pk_cols,
                F.struct(*active_cols).alias("__o"),
                F.lit(None).cast(n_t).alias("__n"),
            ).unionByName(
                df_new.select(
                    *pk_cols,
                    F.lit(None).cast(o_t).alias("__o"),
                    F.struct(*active_cols).alias("__n"),
                )
            )
            # max() skips nulls, so it picks each side's single struct
            # (unique_pk is exactly the assertion that makes this the
            # same merged row the full-outer join would produce)
            per_key = tagged.groupBy(*pk_cols).agg(
                F.max("__o").alias("__o"),
                F.max("__n").alias("__n"),
                F.count("__o").alias("__ho"),
                F.count("__n").alias("__hn"),
            )
            u_both = (F.col("__ho") > 0) & (F.col("__hn") > 0)
            u_flags = {
                c: _mismatch_expr(
                    F.col("__o").getField(c),
                    F.col("__n").getField(c),
                    old_types[c],
                    new_types[c],
                    cfg.rule(c),
                    cfg.ignore_nulls,
                )
                for c in active_cols
            }
            agg_src = per_key.agg(
                F.sum(u_both.cast("long")).alias("n_both"),
                F.sum(((F.col("__ho") > 0) & (F.col("__hn") == 0)).cast("long")).alias(
                    "n_old_only"
                ),
                F.sum(((F.col("__ho") == 0) & (F.col("__hn") > 0)).cast("long")).alias(
                    "n_new_only"
                ),
                *[
                    F.sum((u_both & u_flags[c]).cast("long")).alias(f"exc_{i}")
                    for i, c in enumerate(active_cols)
                ],
            )
            if _metrics_plan_probe is not None:
                _metrics_plan_probe(agg_src)
            agg_row = agg_src.collect()[0]
        else:
            agg_src = flagged.agg(
                F.sum(in_both.cast("long")).alias("n_both"),
                F.sum(old_only.cast("long")).alias("n_old_only"),
                F.sum(new_only.cast("long")).alias("n_new_only"),
                *[
                    F.sum((in_both & F.col(flag_names[c])).cast("long")).alias(
                        f"exc_{i}"
                    )
                    for i, c in enumerate(active_cols)
                ],
            )
            if _metrics_plan_probe is not None:
                _metrics_plan_probe(agg_src)
            agg_row = agg_src.collect()[0]
        n_both = agg_row["n_both"] or 0
        n_old_only = agg_row["n_old_only"] or 0
        n_new_only = agg_row["n_new_only"] or 0
        per_field = {
            c: (agg_row[f"exc_{i}"] or 0) for i, c in enumerate(active_cols)
        }
        field_exceptions = sum(per_field.values())

        # A1 — exact reference formula (compare.py:298-308).
        denom = n_both * len(active_cols)
        match_pct = (
            round(100.0 * (denom - field_exceptions) / denom, 2)
            if denom > 0
            else 100.0
        )
    else:
        n_both = n_old_only = n_new_only = 0
        per_field = {}
        field_exceptions = 0
        match_pct = float("nan")

    # R1 + R2 fused: wide -> long exception melt via ONE
    # array+filter+explode over the flagged join — field-mismatch
    # structs (gated on in_both) and the _record_status struct (gated on
    # the presence flags) in the same array, so the exception stream is
    # a SINGLE pass over a SINGLE execution of the snapshot join.  The
    # previous 3-branch union (deleted/added/field melt) re-executed the
    # full-outer join once per branch on the eager_metrics=False path —
    # Catalyst split it into three separate joins with six scans (at
    # warehouse scale: three shuffle joins of both snapshots instead of
    # one; measured plan: 6 scans -> 2, 3 joins -> 1).
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
            in_both & F.col(flag_names[c]),
            _struct(
                F.lit(c),
                _s(F.col(c + _OLD)),
                _s(F.col(c + _NEW)),
                F.lit(None).cast("string"),
            ),
        )
        for c in active_cols
    ]
    if cfg.include_missing_records:
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

    exceptions = (
        flagged.select(
            *pk_cols,
            F.explode(F.filter(all_structs, lambda x: x.isNotNull())).alias("e"),
        )
        .select(*pk_cols, "e.field", "e.old", "e.new", "e.change_type")
    )

    return ReconcileResult(
        match_pct=match_pct,
        exceptions=exceptions,
        n_both=n_both,
        n_old_only=n_old_only,
        n_new_only=n_new_only,
        field_exception_count=field_exceptions,
        per_field_exceptions=per_field,
        _persisted=flagged if (eager_metrics and not metrics_only) else None,
    )
