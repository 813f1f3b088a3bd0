"""Blocking stage: normalized-host keys + MinHash-LSH band keys, with
explicit skew handling.

The reference's only "blocking key" is the user-supplied primary key of
the equi-join (``compare.py:205-211``); at web scale the engine derives
candidate-generation keys instead (SURVEY.md §2.3 "similarity join"),
each an 8-byte hash (``block_keys: array<bigint>``):

* host key — ``xxhash64`` of the normalized URL host
* MinHash-LSH band keys — token-shingle MinHash signatures, banded by
  :func:`band_hashes` so near-duplicate texts collide on at least one
  band key with high probability; ``dedup.minhash_lsh_pairs`` uses the
  same band keys

Shingling and the per-shingle xxhash64 are native Catalyst expressions;
the 64-lane MinHash min runs in one Arrow kernel
(:func:`attach_minhash_signature`, also used by
``dedup.minhash_lsh_pairs``), which shares its batch boundary and plan
shape with the SimHash kernel (``functions.similarity``).  Signature
computation is map-only, embarrassingly parallel, has no ml.Vector
overhead, and is deterministic across cluster sizes.

Candidate generation is one primitive, :func:`bucket_pairs` — a
bucketed self-join with a hot-bucket star guard — shared by
:func:`candidate_pairs` and the three ``dedup`` kernels.

Skew: a hot blocking key (one host holding 20% of a crawl) is handled
where its cost arises, in the self-join: an oversized block is
star-paired to its min-id member instead of self-joined (content-based
band keys retain recall inside it), and AQE's skew-join splitting
covers whatever residual skew reaches the sort-merge join.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_reconciliation_spark.config import BlockingConfig
from data_reconciliation_spark.functions.normalize import normalized_host, normalized_text
from data_reconciliation_spark.functions.similarity import _ragged_hashes, attach_hash_kernel


def token_shingles(text: Column | str, k: int = 3) -> Column:
    """k-token shingles as strings; whole text when shorter than k tokens.

    The token array is BOUND AS A LAMBDA VARIABLE (single-element
    transform) before the per-shingle loop: interpreted HOF evaluation
    re-evaluates non-variable sub-expressions per element, so
    referencing the raw split-of-regexp expression inside the loop
    would re-run the regex once per shingle (measured 7x slower on the
    sf0.1 documents table)."""
    text = F.col(text) if isinstance(text, str) else text
    return token_shingles_from(F.split(normalized_text(text), " "), k)


def token_shingles_from(toks: Column, k: int = 3) -> Column:
    """:func:`token_shingles` over an already-tokenized array column —
    lets a caller that needs the token array for something else too
    (e.g. the verify stage's distinct-token hashes) split the text
    exactly once per document."""

    def shingle(tk: Column) -> Column:
        n = F.size(tk)
        return F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.array_join(F.slice(tk, i, k), " "),
            ),
        ).otherwise(F.array(F.array_join(tk, " ")))

    return F.flatten(F.transform(F.array(toks), shingle))


_LONG_MAX = (1 << 63) - 1


def dictionary_uid(col: Column) -> Column:
    """The 8-byte dictionary id every wide pair shuffle carries:
    ``xxhash64(id)``.  One definition so the block table, the payload
    joins (scoring), and the collision telemetry all derive ids
    identically — and so tests can substitute a deliberately coarse
    hash to force collisions."""
    return F.xxhash64(col)


def _splitmix64(x):
    """Vectorized splitmix64 finalizer over a uint64 numpy array (public
    algorithm, Steele et al. 2014) — full-avalanche mixing so each lane
    is an independent min-wise hash."""
    import numpy as np

    z = x + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _minhash_lane_seeds(num_hashes: int, seed: int):
    """Deterministic per-lane xor seeds derived by iterating splitmix64."""
    import numpy as np

    out = np.empty(num_hashes, dtype=np.uint64)
    x = (seed * 0x9E3779B97F4A7C15 + 0xD1B54A32D192ED03) & 0xFFFFFFFFFFFFFFFF
    for i in range(num_hashes):
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        out[i] = (z ^ (z >> 31)) & 0xFFFFFFFFFFFFFFFF
    return out


def _minhash_batch(hashed: pd.Series, lane_seeds) -> pd.Series:
    """The MinHash kernel: an array<bigint> signature per row of
    per-shingle hashes, one lane per entry of ``lane_seeds``.

    Per lane i, a min-wise hash over the shingle set; identical shingle
    sets => identical signatures at ANY parallelism.  The shingle STRING
    is hashed once natively (one ``transform`` + ``xxhash64`` pass,
    whole-stage codegen), and the 64-lane splitmix64 rehash + min — pure
    integer mixing with no string work — runs as numpy
    ``minimum.reduceat`` over the Arrow batch (measured ~15x cheaper
    than an interpreted Catalyst ``aggregate`` fold: 9.3s -> <1s for the
    20k-page block-table build).  Nothing downstream depends on the
    values, only on determinism and min-wise uniformity — band keys
    hash the signature, and the LSH recall guarantee (identical sets
    always collide; similar sets collide with prob ~J^r per band) holds
    for any uniform per-lane hash family.  None for a null row, all
    ``LONG_MAX`` lanes for an empty one.
    """
    import numpy as np

    rows = hashed.to_numpy()
    valid, flat, starts, _ = _ragged_hashes(rows)
    out = np.full((len(rows), len(lane_seeds)), _LONG_MAX, dtype=np.int64)
    if valid.any():
        with np.errstate(over="ignore"):
            for i, lane_seed in enumerate(lane_seeds):
                mixed = _splitmix64(flat ^ lane_seed).view(np.int64)
                out[valid, i] = np.minimum.reduceat(mixed, starts)
    result = [None if r is None else out[j].tolist() for j, r in enumerate(rows)]
    return pd.Series(result, index=hashed.index)


def attach_minhash_signature(
    df: DataFrame,
    shingles: Column,
    out_col: str,
    num_hashes: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Attach the Arrow-kernel MinHash signature (:func:`_minhash_batch`)
    of the ``shingles`` array as ``out_col``, in the plan shape of
    ``similarity.attach_hash_kernel``."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.functions import pandas_udf

    lane_seeds = _minhash_lane_seeds(num_hashes, seed)

    def _minhash_udf(hashed: pd.Series) -> pd.Series:
        return _minhash_batch(hashed, lane_seeds)

    hashed = F.transform(shingles, lambda s: F.xxhash64(s, F.lit(seed)))
    udf = pandas_udf(_minhash_udf, T.ArrayType(T.LongType()))
    return attach_hash_kernel(df, hashed, udf, out_col)


def band_hashes(signature: Column, bands: int, rows_per_band: int) -> Column:
    """array<bigint> LSH band keys: ``xxhash64(band_slice, band_index)``
    per band.  Folding the band index into the hash arguments keeps
    different bands collision-free without a prefix string; the self-
    join shuffles an 8-byte long."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.slice(signature, b * rows_per_band + 1, rows_per_band), b
        ),
    )


def with_blocking_keys(pages: DataFrame, cfg: BlockingConfig | None = None) -> DataFrame:
    """Add ``block_keys: array<bigint>``: ``xxhash64`` of the normalized
    host, then the ``cfg.bands`` LSH band hashes.  A null host hashes to
    the seed, so host-less pages share one block."""
    cfg = cfg or BlockingConfig()
    # the signature is its own (Generate-pinned) column: band_hashes
    # slices it once per band, and HOF lambdas re-evaluate inlined
    # subexpressions per element
    pages = attach_minhash_signature(
        pages,
        token_shingles("text", cfg.shingle_size),
        "__minhash_sig",
        cfg.num_hashes,
    )
    combined = F.concat(
        F.array(F.xxhash64(normalized_host("url"))),
        band_hashes(F.col("__minhash_sig"), cfg.bands, cfg.rows_per_band),
    )
    return pages.withColumn("block_keys", combined).drop("__minhash_sig")


def exploded_blocks(pages_with_keys: DataFrame, id_col: str = "url") -> DataFrame:
    """(id, block_key) long table — the unit the candidate self-join runs on."""
    return pages_with_keys.select(
        F.col(id_col), F.explode("block_keys").alias("block_key")
    )


def bucket_pairs(
    keyed: DataFrame,
    keys: list[str],
    id_col: str,
    max_size: int | None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Every two rows of ``keyed`` that share a bucket (equal ``keys``),
    as ``(id_a, id_b, <carry>_a..., <carry>_b...)`` with ``id_a < id_b``:
    the engine's one candidate-generation self-join (ER blocking and the
    three dedup kernels), which each caller follows with its own filter
    and verify.  A pair comes out once per bucket the two rows share;
    deduplicating is the caller's job.

    Hot-bucket guard: a bucket with more than ``max_size`` members is not
    self-joined (an O(n²) partition); each member pairs with the bucket's
    min-id member instead — the star, O(n) pairs — whose ``carry``
    columns come along through ``min_by``.  A giant *duplicate* cluster
    shares every bucket, so the star (unlike dropping the bucket) keeps
    it connected for the closure.  Recall under the cap is exact for
    identical-member buckets and best-effort for mixed ones;
    ``max_size=None`` self-joins every bucket.
    """
    out = ["id_a", "id_b", *[f"{c}_{s}" for s in "ab" for c in carry]]

    def side(df: DataFrame, s: str) -> DataFrame:
        return df.select(
            *keys,
            F.col(id_col).alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    star = None
    if max_size is not None:
        hot = keyed.groupBy(*keys).count().where(F.col("count") > max_size).select(*keys)
        members = keyed.join(F.broadcast(hot), keys, "semi")
        reps = members.groupBy(*keys).agg(
            F.min(id_col).alias("id_a"),
            *[F.min_by(c, F.col(id_col)).alias(f"{c}_a") for c in carry],
        )
        # the rep is the bucket minimum, so rep < member for every
        # member that is not the rep itself
        star = (
            side(members, "b")
            .join(reps, keys)
            .where(F.col("id_a") < F.col("id_b"))
            .select(*out)
        )
        keyed = keyed.join(F.broadcast(hot), keys, "left_anti")
    pairs = (
        side(keyed, "a")
        .join(side(keyed, "b"), keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select(*out)
    )
    return pairs if star is None else pairs.unionByName(star)


def candidate_pairs(
    pages: DataFrame,
    cfg: BlockingConfig | None = None,
    id_col: str = "url",
    keep_hashed_ids: bool = False,
) -> DataFrame:
    """Distinct candidate pairs ``(id_a, id_b)``, ``id_a < id_b``, from
    all blocking keys: :func:`bucket_pairs` over the (id, block_key)
    table, then one ``distinct`` over the two ids.

    Oversized blocks (> ``cfg.max_block_size`` members) are star-paired
    to their min-id member instead of self-joined; the MinHash band keys
    inside such blocks still generate content-similar candidates because
    band keys partition by *content*, not host.

    ``keep_hashed_ids``: skip the two mapping joins that translate the
    8-byte dictionary ids back to real ids — the caller joins its
    per-id payload keyed by ``xxhash64(id)`` instead and recovers the
    real id from the payload row, saving two passes over the pair
    table.  Pair ordering ``id_a < id_b`` is then on the hash domain.
    An xxhash64 birthday collision double-attaches a payload (a
    duplicated candidate pair — scored identically, harmless to
    closure) rather than losing anything.
    """
    cfg = cfg or BlockingConfig()
    keyed = with_blocking_keys(pages, cfg)
    blocks = exploded_blocks(keyed, id_col)

    # Dictionary-encode the row id to an 8-byte hash for the wide
    # shuffle (a url string is ~50 bytes; the block table is the single
    # largest exchange in the pipeline) — the block keys are 8-byte
    # hashes already.  Hash collisions can only ADD candidate pairs
    # (verified downstream by scoring) or merge two blocks — never lose
    # a true pair beyond the band-probability already accepted.  Final
    # outputs carry real ids (joined back from the compact mapping
    # table).
    uid = dictionary_uid(F.col(id_col))

    # Materialize the block table: bucket_pairs consumes it several
    # times, and the MinHash key expression must not be re-evaluated per
    # consumer.  No repartition first — every consumer exchanges on
    # block_key (or broadcasts) by itself.  Registered on the returned
    # pairs — the caller (or the composing operator, see
    # scoring.block_score_pipeline) releases it via
    # lifecycle.release_cached after materializing.
    from pyspark.storagelevel import StorageLevel

    from data_reconciliation_spark.lifecycle import register_cached

    blocks = blocks.select("block_key", uid.alias(id_col)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pairs = bucket_pairs(blocks, ["block_key"], id_col, cfg.max_block_size).distinct()
    if not keep_hashed_ids:
        # map compact uids back to real ids and re-orient so
        # id_a < id_b holds on the REAL id domain (the dedup ordering
        # above was on hashes).
        mapping = pages.select(uid.alias("__uid"), F.col(id_col)).distinct()
        ma = mapping.select(F.col("__uid").alias("id_a"), F.col(id_col).alias("__ra"))
        mb = mapping.select(F.col("__uid").alias("id_b"), F.col(id_col).alias("__rb"))
        pairs = (
            pairs.join(ma, "id_a")
            .join(mb, "id_b")
            .select(
                F.least("__ra", "__rb").alias("id_a"),
                F.greatest("__ra", "__rb").alias("id_b"),
            )
        )
    return register_cached(pairs, blocks)
