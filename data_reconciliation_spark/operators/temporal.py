"""Temporal joins (engine extensions; the reference has none —
SURVEY.md §2.3 "No theta/range/as-of joins").

A crawl-scale corpus needs temporal alignment: match each page/event to
the most recent prior snapshot (as-of), or pair events within a time
window (range join).  Both are shuffle-aware:

* ``asof_join`` — cogroup both sides by key, Arrow-batch
  ``pd.merge_asof`` per group.  One shuffle per side on the key; the
  per-group merge is sort-merge in pandas (vectorized).
* ``bucketed_range_join`` — equi-join on (key, time_bucket) with each
  left row exploded into the buckets its window overlaps, then an exact
  native filter.  Turns an O(n^2) theta join into a bucket equi-join —
  shuffle scales with rows x buckets-per-window, never pairs.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _asof_merge(
    lpdf: pd.DataFrame,
    rpdf: pd.DataFrame,
    *,
    ts_col: str,
    by: list[str],
    right_payload: list[str],
    direction: str,
    suffix: str,
    out_cols: list[str],
) -> pd.DataFrame:
    """One key's cogrouped ``pd.merge_asof`` for :func:`asof_join`."""
    # cogroup hands a COLUMN-LESS empty frame when one side has no
    # rows for the key — guard both sides.
    if len(lpdf) == 0:
        return pd.DataFrame(columns=out_cols)
    if len(rpdf) == 0:
        out = lpdf.copy()
        for c in [f"{ts_col}{suffix}"] + [f"{c}{suffix}" for c in right_payload]:
            out[c] = None
        return out[out_cols]
    lpdf = lpdf.sort_values(ts_col, kind="mergesort")
    rpdf = rpdf.sort_values(ts_col, kind="mergesort").rename(
        columns={c: f"{c}{suffix}" for c in [ts_col, *right_payload]}
    )
    merged = pd.merge_asof(
        lpdf,
        rpdf.drop(columns=by, errors="ignore"),
        left_on=ts_col,
        right_on=f"{ts_col}{suffix}",
        direction=direction,
    )
    return merged[out_cols]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    ts_col: str = "ts",
    by: list[str] | None = None,
    right_payload: list[str] | None = None,
    direction: str = "backward",
    suffix: str = "_right",
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.ts <= left.ts`` (direction='backward'), per ``by`` key.

    Implemented with ``groupby().cogroup().applyInPandas`` +
    ``pd.merge_asof`` — the sanctioned Arrow extension point for
    operators Spark's built-ins cannot express.
    """
    by = by or []
    right_payload = right_payload or [
        c for c in right.columns if c not in by and c != ts_col
    ]

    # PySpark quirk (observed on 4.1): a TIMESTAMP_NTZ column on the
    # RIGHT side of cogroup().applyInPandas is silently dropped from the
    # Arrow transfer.  Cast NTZ to TIMESTAMP for the merge (session tz is
    # UTC, values unchanged).
    from pyspark.sql import types as T

    def _dentz(df: DataFrame) -> DataFrame:
        ntz = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, T.TimestampNTZType)
        ]
        return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz}) if ntz else df

    left = _dentz(left)
    right = _dentz(right)
    lcols = left.columns
    out_fields = (
        [f"{c} {left.schema[c].dataType.simpleString()}" for c in lcols]
        + [f"{ts_col}{suffix} {right.schema[ts_col].dataType.simpleString()}"]
        + [
            f"{c}{suffix} {right.schema[c].dataType.simpleString()}"
            for c in right_payload
        ]
    )
    out_schema = ", ".join(out_fields)
    r = right.select(*by, ts_col, *right_payload)

    out_cols = lcols + [f"{ts_col}{suffix}"] + [f"{c}{suffix}" for c in right_payload]

    return (
        left.groupBy(*by)
        .cogroup(r.groupBy(*by))
        .applyInPandas(
            functools.partial(
                _asof_merge,
                ts_col=ts_col,
                by=by,
                right_payload=right_payload,
                direction=direction,
                suffix=suffix,
                out_cols=out_cols,
            ),
            out_schema,
        )
    )


def bucketed_range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    window_seconds: int = 3600,
    suffixes: tuple[str, str] = ("_l", "_r"),
) -> DataFrame:
    """Pairs (l, r) sharing ``key`` with ``0 <= l.ts - r.ts <=
    window_seconds``.

    Each left row probes its own bucket and the previous one (a window
    spans at most two buckets of width ``window_seconds``), so the join
    is a plain equi-join on (key, bucket) + an exact filter — native,
    codegen'd, skew handled like any equi-join (AQE).
    """
    bucket_l = F.floor(F.unix_timestamp(F.col(ts_col)) / window_seconds)
    l = left.select(
        F.col(key),
        F.col(ts_col).alias(f"{ts_col}{suffixes[0]}"),
        F.explode(F.array(bucket_l, bucket_l - 1)).alias("__bucket"),
    )
    r = right.select(
        F.col(key),
        F.col(ts_col).alias(f"{ts_col}{suffixes[1]}"),
        F.floor(F.unix_timestamp(F.col(ts_col)) / window_seconds).alias("__bucket"),
    )
    lt, rt = F.col(f"{ts_col}{suffixes[0]}"), F.col(f"{ts_col}{suffixes[1]}")
    diff = F.unix_timestamp(lt) - F.unix_timestamp(rt)
    return (
        l.join(r, [key, "__bucket"])
        .where((diff >= 0) & (diff <= window_seconds))
        .drop("__bucket")
    )


def sessionize_batch(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Gap-based sessionization in batch: one row per (key, session) with
    (session_start, session_end, n_events).

    Classic two-window construction over a single shuffle on the key:
    a lag() marks session breaks (gap > gap_seconds), a running sum of
    the break flags numbers the sessions, then a groupBy collapses them.
    Exactly the end-of-stream semantics of
    ``streaming.incremental.sessionize_events`` (asserted by a parity
    test), and plain ANSI SQL — the driver verifies it against DuckDB.

    Scale: the window partitions by key (bounded per-user event counts),
    never globally; the only exchange is hashpartitioning(key).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy(ts_col)
    prev = F.lag(ts_col).over(w)
    brk = F.when(
        F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev) > gap_seconds,
        F.lit(1),
    ).otherwise(F.lit(0))
    running = Window.partitionBy(key_col).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        events.withColumn("__brk", brk)
        .withColumn("__sess", F.sum("__brk").over(running))
        .groupBy(key_col, "__sess")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("__sess")
    )
