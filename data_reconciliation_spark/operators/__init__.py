"""Engine operators (SURVEY.md §2): reconciliation core, blocking,
pair scoring, transitive clustering, dedup suite, similarity search,
profiling."""

from data_reconciliation_spark.operators.reconcile import (  # noqa: F401
    reconcile,
    reconcile_exceptions,
    reconcile_metrics,
    ReconcileMetrics,
    ReconcileResult,
)
