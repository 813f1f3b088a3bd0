"""PySpark-native record-linkage / reconciliation engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of ieatmomo/Data-Reconciliation (reference surveyed in
SURVEY.md).  The reference's pandas full-outer-join + per-row field-diff
core (reference ``backend/analysis/compare.py:178-324``) becomes a
three-stage DataFrame flow:

1. blocking  (normalized URL host + MinHash-LSH band keys, hot-block guard)
2. pair scoring (Arrow-vectorized pandas UDFs; no per-row Python)
3. transitive clustering (large-star/small-star label propagation)

plus a ``reconcile()`` API (with ``reconcile_metrics()`` and
``reconcile_exceptions()`` for callers of one output) that reproduces the reference's snapshot
comparison semantics exactly (null rules, fuzzy thresholds, numeric
tolerance, match-percentage formula).
"""

__version__ = "0.1.0"

from pyspark.core.files import SparkFiles as _SparkFiles

# On a Python worker, never on the driver: read each zip archive on the
# worker's path once per worker, not once per task (see worker.py).
if _SparkFiles._is_running_on_worker:
    from data_reconciliation_spark import worker as _worker

    _worker.install()

from data_reconciliation_spark.config import (  # noqa: F401
    BlockingConfig,
    FieldRule,
    ReconConfig,
    ScoringConfig,
)
from data_reconciliation_spark.operators.reconcile import (  # noqa: F401
    ReconcileMetrics,
    ReconcileResult,
    reconcile,
    reconcile_exceptions,
    reconcile_metrics,
)
