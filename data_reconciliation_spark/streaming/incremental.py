"""Structured Streaming operators.

The reference is purely request-scoped batch (SURVEY.md §2.10:
"Streaming: none"), so nothing here is parity-gated; these are the
engine extensions a continuously-crawled corpus needs:

* windowed_event_dedup — streaming generalization of the 24h dedup gate
  (reference ``models.py:32-49``): watermark + dropDuplicatesWithinWatermark.
* incremental_exception_stream — micro-batch reconciliation: a stream of
  "new snapshot" rows joined against a static baseline, emitting the
  same long-format exception records as the batch ``reconcile``.

Both return unstarted streaming DataFrames; callers attach sinks.  At
cluster scale the state store is RocksDB
(``spark.sql.streaming.stateStore.providerClass``) with checkpointing to
object storage.
"""

from __future__ import annotations

import datetime
import functools

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from data_reconciliation_spark.config import ReconConfig
from data_reconciliation_spark.operators.reconcile import _mismatch_expr


def windowed_event_dedup(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "24 hours",
) -> DataFrame:
    """Drop events whose key re-appears within the watermark window —
    the streaming analog of the reference's 24h idempotent-save gate."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def incremental_exception_stream(
    new_stream: DataFrame,
    baseline: DataFrame,
    pk_cols: list[str],
    cfg: ReconConfig | dict | None = None,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-static join reconciliation.

    Each arriving row is compared against the static baseline snapshot
    under the same field rules as batch ``reconcile``; output is the
    long-format exception stream.  Stream-static inner joins need no
    state store; the baseline should be broadcast-sized per executor or
    bucketed on the PK.
    """
    cfg = cfg if isinstance(cfg, ReconConfig) else ReconConfig.from_dict(cfg)
    compare_cols = [
        c for c in baseline.columns if c not in pk_cols and c in new_stream.columns
    ]
    active = [c for c in compare_cols if not cfg.rule(c).is_ignored]

    base_types = {f.name: f.dataType for f in baseline.schema.fields}
    new_types = {f.name: f.dataType for f in new_stream.schema.fields}

    old = baseline.select(
        *pk_cols, *[F.col(c).alias(c + "_old") for c in compare_cols]
    )
    stream = new_stream.withWatermark(ts_col, watermark).select(
        *pk_cols, F.col(ts_col), *[F.col(c).alias(c + "_new") for c in compare_cols]
    )
    joined = stream.join(old, pk_cols, "inner")

    structs = F.array(
        *[
            F.when(
                _mismatch_expr(
                    F.col(c + "_old"),
                    F.col(c + "_new"),
                    base_types[c],
                    new_types[c],
                    cfg.rule(c),
                    cfg.ignore_nulls,
                ),
                F.struct(
                    F.lit(c).alias("field"),
                    F.col(c + "_old").cast("string").alias("old"),
                    F.col(c + "_new").cast("string").alias("new"),
                ),
            )
            for c in active
        ]
    )
    return joined.select(
        *pk_cols,
        F.col(ts_col),
        F.explode(F.filter(structs, lambda x: x.isNotNull())).alias("e"),
    ).select(*pk_cols, ts_col, "e.field", "e.old", "e.new")


def _sessionize_group(
    key,
    pdfs,
    state: GroupState,
    *,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    max_open_sessions_per_key: int,
):
    """One key's ``applyInPandasWithState`` step for :func:`sessionize_events`."""
    wm_ms = state.getCurrentWatermarkMs()
    intervals: list[list[int]] = []
    if state.exists:
        starts, ends, ns = state.get
        intervals = [[s, e, n] for s, e, n in zip(starts, ends, ns)]
    if not state.hasTimedOut:
        rows = pd.concat(list(pdfs), ignore_index=True)
        ts = sorted(
            int(t)
            for t in rows[ts_col].astype("datetime64[us]").astype("int64")
            // 1_000_000
        )
        for t in ts:
            intervals.append([t, t, 1])
    # merge: sort by start, gap-join adjacent intervals
    intervals.sort(key=lambda iv: iv[0])
    sessions: list[list[int]] = []
    for iv in intervals:
        if sessions and iv[0] - sessions[-1][1] <= gap_seconds:
            sessions[-1][1] = max(sessions[-1][1], iv[1])
            sessions[-1][2] += iv[2]
        else:
            sessions.append(iv)
    # a session closes exactly when the watermark passes end+gap:
    # any event that could still extend it would have ts <= end+gap
    # <= watermark and be dropped as late — so this is the earliest
    # SAFE close, and it reproduces batch semantics on non-late data
    closed = [s for s in sessions if (s[1] + gap_seconds) * 1000 <= wm_ms]
    open_ = [s for s in sessions if (s[1] + gap_seconds) * 1000 > wm_ms]
    evicted: list[list[int]] = []
    if len(open_) > max_open_sessions_per_key:
        # state cap: force-close the oldest open sessions (by end
        # time — they are furthest from being extended) and flag
        # them; the newest max_open_sessions_per_key stay tracked
        open_.sort(key=lambda s: s[1])
        n_evict = len(open_) - max_open_sessions_per_key
        evicted = open_[:n_evict]
        open_ = open_[n_evict:]
    if open_:
        state.update(
            (
                [s[0] for s in open_],
                [s[1] for s in open_],
                [s[2] for s in open_],
            )
        )
        # next wake-up: the earliest possible close among open
        # sessions (> watermark by construction, so always valid)
        state.setTimeoutTimestamp(
            min((s[1] + gap_seconds) for s in open_) * 1000
        )
    elif state.exists:
        state.remove()
    out_rows = [(s, e, n, False) for s, e, n in closed] + [
        (s, e, n, True) for s, e, n in evicted
    ]
    for s, e, n, ev in out_rows:
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "session_start": [datetime.datetime.utcfromtimestamp(s)],
                "session_end": [datetime.datetime.utcfromtimestamp(e)],
                "n_events": [n],
                "evicted": [ev],
            }
        )


def sessionize_events(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
    max_open_sessions_per_key: int = 256,
) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` (SURVEY.md §2.10 engine extension; the
    reference has no streaming at all).

    Emits one row per CLOSED session: (key, session_start, session_end,
    n_events, evicted).  A session closes when no event arrives within
    ``gap_seconds`` (decided by the event-time watermark, so late data
    inside the watermark still extends its session).  State per key is a
    list of open (start, end, count) triples — spillable to the state
    store and timed out via ``GroupStateTimeout.EventTimeTimeout``.

    ``max_open_sessions_per_key`` bounds that list: correctness requires
    holding EVERY open session (a bridging event inside the watermark
    may still merge an apparently-finished one), but a long watermark
    plus adversarial sparse event times would otherwise grow state
    without limit.  When the cap is exceeded the OLDEST open sessions
    (by end time) are force-closed and emitted with ``evicted = true``
    — the flag is the eviction metric (count it downstream).  An
    evicted session is correct unless a late bridging event later
    arrives, in which case the session is SPLIT (a fresh session opens;
    per-event counts are conserved, exactly like watermark-late drops
    the semantics already accept).
    """
    out_schema = (
        f"{key_col} long, session_start timestamp, session_end timestamp, "
        "n_events long, evicted boolean"
    )
    # state holds EVERY open session, not just the newest: with
    # out-of-order arrival across micro-batches, an apparently
    # gap-separated earlier session may still be bridged by a future
    # event (within the watermark), so nothing may close before the
    # watermark passes its end+gap.  Closing "all but the last" per
    # batch — the previous design — split sessions whenever a bridging
    # event arrived in a later batch (caught by the random-batch-split
    # differential fuzz test, round-2 verdict #10).
    state_schema = "starts array<long>, ends array<long>, ns array<long>"

    sessions = (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            functools.partial(
                _sessionize_group,
                key_col=key_col,
                ts_col=ts_col,
                gap_seconds=gap_seconds,
                max_open_sessions_per_key=max_open_sessions_per_key,
            ),
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    # Observed per-micro-batch metrics (round-4 verdict #6): operators
    # watch state-cap pressure from StreamingQueryProgress
    # .observedMetrics["sessionizer"] (evicted_sessions /
    # closed_sessions) without scanning the output table.  Free on the
    # streaming plan — no extra shuffle or job.
    return sessions.observe(
        "sessionizer",
        F.sum(F.col("evicted").cast("long")).alias("evicted_sessions"),
        F.count(F.lit(1)).alias("closed_sessions"),
    )


class SessionMetricsAuditListener:
    """StreamingQueryListener persisting the sessionizer's observed
    per-micro-batch metrics into the audit/lineage store, so state-cap
    pressure is visible in run HISTORY, not just in live
    ``StreamingQueryProgress`` (round-5 verdict #6 — the metric existed
    but nothing persisted it).

    Attach with ``spark.streams.addListener(listener)``; every
    micro-batch whose progress carries ``observedMetrics["sessionizer"]``
    appends one row to ``manager.write_lineage`` (same mergeSchema
    parquet/Iceberg lineage table the closure rounds write, stage =
    ``"sessionizer"``)::

        query_id, iteration (= micro-batch id), stage,
        evicted_sessions, closed_sessions, saved_at

    The write runs on the listener bus thread — driver-side, one tiny
    append per micro-batch, never on the data path.  Failures are
    swallowed into ``last_error`` (a metrics sink must not kill the
    query) but tests assert it stays None.

    ``flush_every`` (round-6 verdict #7): buffer N micro-batches of
    metric rows per append instead of writing one tiny parquet file per
    batch — at 1 s triggers the per-batch appends are small-files churn
    on the lineage directory.  Buffered rows are flushed when the
    buffer reaches ``flush_every`` and on ``onQueryTerminated``, so
    nothing is lost at shutdown; default 1 preserves the
    write-per-batch behavior for tests and low-rate queries.
    """

    def __new__(cls, manager, flush_every: int = 1):
        # subclass the real listener base lazily: importing
        # StreamingQueryListener at module load would make this batch
        # module depend on the streaming listener bus even for callers
        # that never stream.
        from pyspark.sql.streaming import StreamingQueryListener

        class _Impl(StreamingQueryListener):
            def __init__(self, mgr, n_flush):
                self.manager = mgr
                self.flush_every = max(1, int(n_flush))
                self.last_error: str | None = None
                self._buf: list[dict] = []

            def onQueryStarted(self, event):
                pass

            def _flush(self):
                if not self._buf:
                    return
                rows, self._buf = self._buf, []
                spark = self.manager.spark
                df = spark.createDataFrame(
                    rows,
                    schema=(
                        "query_id string, iteration int, stage string, "
                        "evicted_sessions long, closed_sessions long"
                    ),
                ).withColumn("saved_at", F.current_timestamp())
                self.manager.write_lineage(df)

            def onQueryProgress(self, event):
                try:
                    p = event.progress
                    m = (p.observedMetrics or {}).get("sessionizer")
                    if m is None:
                        return
                    self._buf.append(
                        {
                            "query_id": str(p.id),
                            "iteration": int(p.batchId),
                            "stage": "sessionizer",
                            "evicted_sessions": int(m["evicted_sessions"] or 0),
                            "closed_sessions": int(m["closed_sessions"] or 0),
                        }
                    )
                    if len(self._buf) >= self.flush_every:
                        self._flush()
                except Exception as exc:  # pragma: no cover — diagnostic path
                    self.last_error = repr(exc)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                try:
                    self._flush()
                except Exception as exc:  # pragma: no cover — diagnostic path
                    self.last_error = repr(exc)

        return _Impl(manager, flush_every)
