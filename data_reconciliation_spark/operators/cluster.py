"""Transitive clustering: connected components via alternating
large-star / small-star contraction (Kiveris et al., "Connected
Components in MapReduce and Beyond") expressed as pure DataFrame joins,
with a driver-side union-find finish for small residual graphs.

The reference has no clustering — its exceptions grouped per PK are
implicit pairwise verdicts (SURVEY.md §1.1); the engine makes entities
explicit by closing the match-pair graph transitively.

Design notes for 10^12-node scale:

* No ``collect_list`` — per-node neighborhood minima come from
  ``groupBy().min()`` + an equi-join, so a hot node (a URL matched by
  millions) never materializes its neighbor list in one task.
* O(log n) rounds for pathological chain graphs; real ER graphs
  (near-cliques) converge in 2-3 rounds.
* Each round ends in ``localCheckpoint`` (lineage cut — without it the
  plan doubles per iteration), and the round it supersedes is
  unpersisted once the convergence check has read it.  When a
  checkpoint dir is given, each round also writes a parquet snapshot +
  manifest so a killed job resumes mid-iteration (north rule).  See
  ``sources/state.py`` for the resume protocol.
* Convergence is detected by an exact changed-edge count
  (anti-join of consecutive edge sets), one cheap job per round.
* **Hybrid finish**: once the edge set fits a bounded driver budget
  (default 2M edges AND 288 MB of priced DRIVER-HEAP bytes — per-edge
  raw size is MEASURED by the round's observe() for variable-width ids
  and derated by the ~56 B/id Python-object overhead the toPandas
  boundary actually pays, 16 B fixed for numeric), the remaining
  closure runs as a
  numpy scatter-min + pointer-doubling union-find on the driver — the
  standard "finish locally when the contracted graph fits" step of
  MapReduce CC algorithms (Kiveris et al. §6 use the same hybrid).
  This removes the latency-bound tail (driver round-trips dominate
  sub-second jobs) without touching the at-scale story: star
  contraction's fixpoint keeps one edge per non-root node, so a
  10^12-node graph *never* drops under the threshold and runs the
  fully-distributed loop throughout.  ``local_finish_threshold=0``
  forces the distributed path (used by tests and the scale profile).
  The driver finish is the closure's one small-graph mechanism: the
  distributed rounds plan under the input's session conf, which the
  closure neither reads nor changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_reconciliation_spark.sources.state import CheckpointManager


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to u's neighborhood minimum.

    No trailing ``distinct`` — one shuffle less per round: the consumer
    is ``_small_star``, whose groupBy-min absorbs duplicates and whose
    own ``distinct`` cleans the final edge set (the loop is
    latency-bound: fewer stages beats a slightly fatter intermediate).
    """
    und = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    mins = und.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
    return (
        und.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large->small; connect all small neighbors (and the
    center) to the minimum."""
    orient = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    mins = orient.groupBy("u").agg(F.min("v").alias("m"))
    neighbor_edges = orient.join(mins, "u").select(
        F.col("v").alias("src"), F.col("m").alias("dst")
    )
    center_edges = mins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return (
        neighbor_edges.unionAll(center_edges)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _local_union_find(e: DataFrame) -> DataFrame:
    """Driver-side closure of a small edge set: numpy scatter-min +
    pointer doubling (Shiloach-Vishkin flavor), O(E log V) array passes.

    Returns (node, component=min id in component) for every node that
    appears in an edge — identical semantics and output schema to the
    distributed path.  Works for any orderable id type.

    Id-to-code mapping is hash-based ``pd.factorize`` followed by an
    argsort of the UNIQUES only, remapped so codes are ordinal in
    sorted-unique order (min-code == min-value, the property the
    union-find's minimum relies on).  ``np.unique(return_inverse=True)``
    comparison-sorts the full 2x|E| object array instead of just the
    uniques — measured 4.1s vs 1.2s on an 800k-edge url graph, and this
    serial step is the e2e pipeline's scaling diluter (it costs the
    same at any core count).
    """
    import numpy as np
    import pandas as pd

    spark = e.sparkSession
    node_type = e.schema["src"].dataType
    pdf = e.toPandas()
    out_schema = f"node {node_type.simpleString()}, component {node_type.simpleString()}"
    if len(pdf) == 0:
        return spark.createDataFrame([], schema=out_schema)

    raw_codes, uniq = pd.factorize(
        pd.concat([pdf["src"], pdf["dst"]], ignore_index=True)
    )
    # factorize codes nulls as -1 and drops them from `uniq`; downstream
    # rank_of[raw_codes] would then silently alias a null node onto the
    # lexicographically-largest node (rank_of[-1]).  Unreachable via
    # connected_components (its src != dst filter is null-rejecting),
    # but fail loudly rather than corrupt if fed nulls directly.
    if (raw_codes < 0).any():
        raise ValueError("_local_union_find: null node ids in edge set")
    uniq = np.asarray(uniq)
    order = np.argsort(uniq, kind="stable")
    rank_of = np.empty(len(uniq), dtype=np.int64)
    rank_of[order] = np.arange(len(uniq))
    nodes = uniq[order]          # rank i == i-th smallest node value
    codes = rank_of[raw_codes]
    ea, eb = codes[: len(pdf)], codes[len(pdf):]
    parent = np.arange(len(nodes), dtype=np.int64)
    while True:
        # snapshot by COPY: minimum.at mutates `parent` in place, so an
        # aliased `before` would track the mutations and the convergence
        # test would compare the array with itself — exiting after any
        # edge pass whose result happens to be pointer-doubled-stable,
        # even when the next edge pass would still propagate minima
        # (observed: an unpadded-string chain, whose lexicographic rank
        # order is non-monotone along the chain, split into 2 components)
        before = parent.copy()
        m = np.minimum(parent[ea], parent[eb])
        np.minimum.at(parent, ea, m)
        np.minimum.at(parent, eb, m)
        # pointer doubling to the current fixpoint of parent[parent]
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
        if np.array_equal(parent, before):
            break

    return spark.createDataFrame(
        pd.DataFrame({"node": nodes, "component": nodes[parent]}),
        schema=out_schema,
    )


def _free_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD behind a ``localCheckpoint``-ed DataFrame once
    nothing reads it: the checkpoint's blocks otherwise stay in the
    block manager until the ContextCleaner happens to collect the RDD.
    A no-op for any other plan (a resumed parquet read)."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    checkpoint: CheckpointManager | None = None,
    local_finish_threshold: int = 2_000_000,
    local_finish_mb: int = 288,
    assume_distinct: bool = False,
    on_round=None,
) -> DataFrame:
    """Return ``(node, component)`` where component = min node id of the
    connected component.  Nodes appearing in no edge are absent (caller
    unions isolated nodes; see pipeline.link).

    If ``checkpoint`` is given, every completed round persists the edge
    set; a re-run with the same manager resumes from the last completed
    round instead of iteration 0.

    ``local_finish_threshold`` bounds the driver-side finish in EDGES
    (0 disables it); ``local_finish_mb`` bounds it in DRIVER-HEAP bytes
    at the toPandas boundary.  For variable-width (non-numeric) ids the
    byte bound is the binding one: the per-edge raw size is MEASURED,
    not guessed — the fingerprint ``observe()`` that materializes each
    round also records ``avg(len(src)+len(dst))`` — and then PRICED at
    driver cost: each id lands as a Python str object (~56 B header
    beyond its payload), so a 45-B url edge costs ~200 B of heap, not
    90 B (round-6 ADVICE: pricing raw bytes let "128 MB" admit ~1 GB of
    heap).  The 288 MB default therefore admits the same ~2M-edge
    45-B-url graph the edge bound does; peak driver RSS at the boundary
    runs ~2-3x the priced bytes (factorize/argsort temporaries), so
    size the driver >= 4 GB when using defaults.  (Round 5 scaled the
    edge threshold by a fixed /8 for any non-numeric type — a 100-byte
    worst-case guess that forced ~15s of distributed latency-bound
    rounds on the e2e bench whose real ids are ~45 B.)  Distributed
    rounds run while the edge set exceeds either bound; see the module
    docstring for why warehouse-scale graphs never fit.

    ``assume_distinct``: skip the entry ``distinct()`` when the caller
    guarantees unique edges (pipeline.link's match pairs are grouped by
    id pair upstream) — one full shuffle less.  Duplicate edges would
    not break correctness anyway (star contraction's groupBy-min and
    the union-find absorb them); they only inflate the round-0
    fingerprint count, so convergence-at-round-0 detection needs the
    true-distinct input this flag asserts.

    ``on_round`` (optional): callback ``(iteration, n_edges, seconds)``
    invoked after each distributed round — used by
    ``tools/profile_closure_scaling.py`` and the benchmark's traced pass
    to count and time the rounds.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).where(
        F.col("src") != F.col("dst")
    )
    if not assume_distinct:
        e = e.distinct()

    from pyspark.sql.types import NumericType

    # fixed-width ids are 16 B/edge; variable-width ids get the measured
    # per-edge average from each round's observe(), DERATED by the
    # driver-side representation cost: _local_union_find holds each id
    # as a Python str object in pandas (~49 B header + payload, ~56 B
    # amortized with the object-array slot), so an edge of two 45-B
    # urls costs ~90 B raw but ~200 B of driver heap at the toPandas
    # boundary.  Pricing raw bytes alone let 2M-edge url graphs through
    # a "128 MB" budget that actually cost ~0.5-1 GB of heap (round-6
    # ADVICE) — an OOM risk on default-sized drivers.
    _PY_STR_OVERHEAD = 56.0  # bytes per id object on the driver
    numeric_ids = isinstance(e.schema["src"].dataType, NumericType)
    local_finish_bytes = local_finish_mb * (1 << 20)

    def _fits_local(n_edges: int, avg_bytes: float | None) -> bool:
        if not (0 < n_edges <= local_finish_threshold):
            return False
        per_edge = (
            16.0 if avg_bytes is None else avg_bytes + 2 * _PY_STR_OVERHEAD
        )
        return n_edges * per_edge <= local_finish_bytes

    start_iter = 0
    if checkpoint is not None:
        resumed = checkpoint.latest()
        if resumed is not None:
            start_iter, e = resumed

    def _checkpoint_with_fingerprint(df: DataFrame):
        # fold the convergence fingerprint into the (eager) checkpoint
        # materialization via observe(): one job per round instead of
        # two — the per-round cost of this latency-bound loop is job
        # count, not data volume (round-2 bench regression item)
        from pyspark.sql import Observation

        # XOR-fold, not sum: a masked-sum fingerprint overflows Long
        # under ANSI arithmetic past ~130k edges, and the overflow
        # throws inside the observe() accumulator merge on the
        # scheduler event loop — which does NOT fail the job but
        # corrupts the observation, so fingerprints never match and the
        # loop runs to max_iter (caught measuring the 1M-edge chain,
        # round 5).  XOR is overflow-free, commutative, and exact-set
        # safe here because every round's edge set is distinct.
        # variable-width ids also fold the measured per-edge byte size
        # into the SAME job (native agg over columns the job already
        # reads) — it prices the driver-finish byte budget exactly,
        # per round, at zero extra passes.
        metrics = [
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
        ]
        if not numeric_ids:
            metrics.append(
                F.avg(
                    F.octet_length(F.col("src").cast("string"))
                    + F.octet_length(F.col("dst").cast("string"))
                ).alias("b")
            )
        obs = Observation()
        out = df.observe(obs, *metrics).localCheckpoint()
        got = obs.get
        return out, (got["n"], got["h"]), got.get("b")

    # initial materialization folds the first fingerprint into the same
    # job (observe) — one job instead of checkpoint + separate agg.
    e, fp_prev, avg_bytes = _checkpoint_with_fingerprint(e)

    if _fits_local(fp_prev[0], avg_bytes):
        labels = _local_union_find(e)
        _free_checkpoint(e)
        return labels

    # (Fusing two rounds per materialization was also measured — 19.1s
    # vs 14-15s unfused — Catalyst recomputes the first round's subtree
    # for each of the second round's consumers, so fusing loses.)
    import time as _time

    converged = False
    for it in range(start_iter, max_iter):
        _round_t0 = _time.time()
        new_e, fp_new, avg_bytes = _checkpoint_with_fingerprint(
            _small_star(_large_star(e))
        )
        if on_round is not None:
            on_round(it, fp_new[0], _time.time() - _round_t0)
        # convergence: cheap fingerprint gate, then an exact one-sided
        # exceptAll to CONFIRM equality (both sets are distinct, so
        # equal count + empty difference proves set equality).  The
        # exact check runs only at the candidate fixpoint.
        changed = 1
        if fp_new == fp_prev:
            changed = new_e.exceptAll(e).limit(1).count()
        if checkpoint is not None:
            checkpoint.save(it + 1, new_e)
        # the previous round is read by nothing past this point: its
        # successor is materialized and the exceptAll check has run
        _free_checkpoint(e)
        e, fp_prev = new_e, fp_new
        if changed == 0:
            converged = True
            break
        if _fits_local(fp_prev[0], avg_bytes):
            # contracted under the driver budget mid-loop: finish there
            labels = _local_union_find(e)
            _free_checkpoint(e)
            return labels
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )

    # the converged edges are a star forest: each non-root node has
    # exactly one edge, to its component's root, and no root is a src —
    # so the edges label every non-root, and one (root, root) row per
    # distinct dst labels the roots
    labels = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component")).distinct()
    return labels.unionAll(roots)
