"""Cache-lifecycle contract for operators that persist intermediates.

Several operators must materialize an internal intermediate exactly once
(it feeds both sides of a self-join, or carries a UDF/fold that must not
re-run per consumer).  They ``persist()`` it and REGISTER the handle on
the DataFrame they return; the caller releases the cached blocks once
the result has been materialized or written::

    pairs = minhash_lsh_pairs(docs)
    pairs.write.parquet(out)        # or .count() / .collect()
    release_cached(pairs)           # frees the internal caches

``release_cached`` is idempotent and a no-op on DataFrames with no
registered caches.  The result stays usable after release (it
recomputes, including the internal intermediates, on the next action).

At warehouse scale these persists are written intermediate tables whose
lifecycle the warehouse owns (docs/SCALE.md); in a long-running driver,
releasing prevents cached blocks accumulating until eviction pressure
creates the storage-vs-execution memory contention measured in
BENCH/scaling.json (round-3 verdict #1).

Two operators keep a per-type form of the same contract:
``ReconcileResult.release()`` (operators/reconcile.py; its
``reconcile_metrics`` and ``reconcile_exceptions`` siblings cache
nothing) and ``release_index_source`` (sources/state.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_ATTR = "_recon_cached_deps"


def register_cached(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Attach persisted intermediate handles to ``result`` so the caller
    can free them via :func:`release_cached` once done.  Returns
    ``result`` (the attribute lives on that exact DataFrame object —
    further transformations produce new objects without it, so operators
    register on the DataFrame they hand back)."""
    deps = list(getattr(result, _ATTR, ()))
    deps.extend(c for c in cached if c is not None)
    setattr(result, _ATTR, tuple(deps))
    return result


def cached_deps(df: DataFrame) -> tuple[DataFrame, ...]:
    """The persisted intermediates registered on ``df`` (empty tuple if
    none) — used by composing operators to adopt upstream handles."""
    return tuple(getattr(df, _ATTR, ()))


def release_cached(result: DataFrame) -> None:
    """Unpersist every intermediate registered on ``result``.  Safe to
    call repeatedly; ``result`` remains valid (recomputes)."""
    for c in getattr(result, _ATTR, ()):
        c.unpersist()
    if getattr(result, _ATTR, None):
        setattr(result, _ATTR, ())
