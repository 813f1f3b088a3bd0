"""Deduplication suite for large-scale text corpora.

Engine extensions beyond the reference (which has only the 24h
run-dedup gate, ``backend/models.py:32-49``): the dedup family a
training-data pipeline needs, each as a DataFrame -> DataFrame operator
over a ``documents(doc_id, text, ...)``-shaped table.

* exact_dedup            — hash-groupBy on normalized text
* ngram_jaccard_pairs    — n-gram token Jaccard over blocked pairs
* minhash_lsh_pairs      — MinHash signature + LSH band join (scale path)
* simhash_pairs          — SimHash bucketing + Hamming verify
* embedding_cosine_pairs — near-dup via embedding cosine (see
  similarity_search for the ANN variants)

ngram_jaccard_pairs, minhash_lsh_pairs and simhash_pairs generate
candidates with one primitive, ``blocking.bucket_pairs``: an equi-join
on a derived bucket key (n-gram block, LSH band, SimHash chunk) with a
star guard for hot buckets, so they scale with the shuffle, never with
n².  Each kernel keeps only its own filter-then-verify step.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_reconciliation_spark.config import BlockingConfig
from data_reconciliation_spark.functions.normalize import normalized_text
from data_reconciliation_spark.functions.similarity import attach_simhash64_md5
from data_reconciliation_spark.lifecycle import register_cached
from data_reconciliation_spark.operators.blocking import (
    attach_minhash_signature,
    band_hashes,
    bucket_pairs,
    token_shingles,
    token_shingles_from,
)


def text_fingerprint(text: Column | str) -> Column:
    """Deterministic content fingerprint: md5 of whitespace-normalized,
    lowercased text.  Portable (DuckDB computes the identical value, so
    the driver's oracle can verify it)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(normalized_text(text)))


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id representative per identical (normalized) text.

    groupBy on the md5 fingerprint — map-side partial aggregation makes
    this one shuffle of (fingerprint, min_id, count); the text itself is
    never shuffled.
    """
    fp = text_fingerprint(text_col).alias("fingerprint")
    return (
        docs.select(fp, F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    block_col: Column | str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_block_size: int | None = 500,
) -> DataFrame:
    """Near-duplicate pairs by token n-gram Jaccard within blocks.

    ``block_col`` is REQUIRED (the implicit length-bucket default was
    deprecated in round 3 and removed in round 5 — it degenerated to
    near-global blocks on homogeneous corpora); at corpus scale use
    minhash_lsh_pairs — this operator is the verify kernel /
    small-block path.  ``max_block_size`` (``bucket_pairs``' O(n²)
    guard, shared with the siblings) star-pairs oversized blocks to
    their min-id member: identical-doc clusters keep jaccard-1.0 star
    pairs (connectivity preserved); unrelated same-bucket members fail
    the threshold on the star pair exactly as they would pairwise.  Pass
    ``max_block_size=None`` for exact all-pairs semantics (e.g. oracle
    checks).

    The caller releases the internal block cache with
    ``lifecycle.release_cached(result)`` after materializing.
    """
    if block_col is None:
        # The implicit length bucket completed its deprecation cycle
        # (round-3 #6 warning -> round-5 error, per the deprecation
        # note's own wording): it degenerates to near-global blocks on
        # homogeneous corpora (uniform-length web text all lands in 2-3
        # buckets), leaving recall to the capped star-pairing guard.
        raise ValueError(
            "ngram_jaccard_pairs: block_col is required — the implicit "
            "length-bucket default degenerated on homogeneous corpora "
            "and was removed after a deprecation round.  Pass an "
            "explicit block_col (host, shingle key, F.lit(1) for "
            "single-block small inputs, or "
            "F.floor(F.log2(F.size(F.split(text, ' ')) + 1)) to keep "
            "the old length-bucket behavior), or use minhash_lsh_pairs "
            "— the scale path — for corpus-level near-dup detection."
        )
    # delegate to token_shingles: it binds the token array as a lambda
    # variable so the split/regex is not re-evaluated per gram
    grams = token_shingles(F.col(text_col), n)

    base = docs.select(
        F.col(id_col), (F.col(block_col) if isinstance(block_col, str) else block_col).alias("block"),
        F.array_distinct(grams).alias("grams"),
    )
    base_cache = None
    if max_block_size is not None:
        # consumed by the size histogram, the star branch and both
        # self-join sides; registered on the result for caller release
        base_cache = base = base.persist()
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    jac = F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
    # each doc carries exactly one block key, so every pair comes out of
    # bucket_pairs once — no dedup shuffle needed
    out = (
        bucket_pairs(base, ["block"], id_col, max_block_size, carry=("grams",))
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return register_cached(out, base_cache)


def minhash_lsh_pairs(
    docs: DataFrame,
    cfg: BlockingConfig | None = None,
    verify_threshold: float | None = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Scale-path near-dup: shingle -> MinHash -> band -> bucket equi-join.

    Candidate pairs collide on >=1 LSH band; the optional verify step
    filters by true token-set Jaccard (native array expressions).  The
    only shuffles are the band-key self-join and the pair dedup groupBy.

    One pass over the corpus computes EVERYTHING per-document — token
    array (one regex split), distinct token hashes for the verify stage,
    MinHash signature, band hashes — cached as a single per-doc table;
    the band table and both verify sides are cheap projections of that
    cache, so the text is scanned and tokenized exactly once (the
    previous shape re-scanned + re-tokenized the corpus twice more for
    the verify joins).

    The caller releases the internal per-doc cache with
    ``lifecycle.release_cached(result)`` after materializing.
    """
    cfg = cfg or BlockingConfig()

    # ONE tokenization pass: the token array is materialized as its own
    # projection and feeds both the shingle/signature path and the
    # verify stage's distinct-token hashes.
    toks = F.split(normalized_text(F.col(text_col)), " ")
    base = docs.select(F.col(id_col), toks.alias("__toks"))
    extra = []
    if verify_threshold is not None:
        # distinct 8-byte token hashes — value-identical jaccard to
        # hashing the raw \s+-split tokens (same token set; xxhash64
        # collisions ~2^-64 per token pair, far below any threshold)
        extra.append(
            F.array_distinct(
                F.transform(F.col("__toks"), lambda t: F.xxhash64(t))
            ).alias("__th")
        )
    shingles = token_shingles_from(F.col("__toks"), cfg.shingle_size)
    # the extra __th column rides through the kernel's plan as a plain
    # attribute (never crosses into Python — ArrowEvalPython ships UDF
    # inputs only)
    sig = attach_minhash_signature(
        base.select(F.col(id_col), *extra, F.col("__toks")),
        shingles,
        "__sig",
        cfg.num_hashes,
    )
    from pyspark.storagelevel import StorageLevel

    # Single per-doc cache: (id[, token hashes], band hashes).  The band
    # explosion below carries ONLY (8-byte band hash, id) into the self-
    # join shuffle — never the text.
    per_doc = sig.select(
        F.col(id_col),
        *([F.col("__th")] if verify_threshold is not None else []),
        band_hashes(F.col("__sig"), cfg.bands, cfg.rows_per_band).alias("__bks"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    keyed = per_doc.select(
        F.col(id_col), F.explode("__bks").alias("band_key")
    )
    # Hot-bucket guard: a degenerate band key (e.g. every near-empty doc
    # sharing one band) would be an unguarded O(n^2) self-join
    # partition; bucket_pairs star-pairs it instead.  Identical docs
    # share EVERY band, so the star keeps giant duplicate clusters
    # (jaccard 1.0 star pairs); mixed hot buckets are best-effort
    # (measured bound:
    # tests/test_dedup_and_search.py::test_mixed_hot_bucket_star_recall).
    # Oracle-exact configurations pass ``max_block_size=None``.  A pair
    # sharing several bands comes out once per band: dedup.
    pairs = bucket_pairs(keyed, ["band_key"], id_col, cfg.max_block_size).distinct()
    if verify_threshold is not None:
        # verify on the HASHED distinct-token arrays from the per-doc
        # cache: tokenization + dedup ran once per DOCUMENT in the same
        # pass that built the signature (no extra corpus scans), the
        # per-pair work is one array_intersect over 8-byte hashes, and
        # |union| is size arithmetic — no union array, no per-pair regex
        # split.  Values are identical to exact string-token Jaccard
        # except for xxhash64 collisions (~2^-64 per token pair), far
        # below any threshold granularity, so the driver's SQL oracle
        # (exact string jaccard) still matches bit-for-bit.
        ta = per_doc.select(F.col(id_col).alias("id_a"), F.col("__th").alias("__th_a"))
        tb = per_doc.select(F.col(id_col).alias("id_b"), F.col("__th").alias("__th_b"))

        def _jac(i):
            union = F.size("__th_a") + F.size("__th_b") - i
            return F.when(union == 0, F.lit(1.0)).otherwise(
                i.cast("double") / union
            )

        jaccard = F.element_at(
            F.transform(
                F.array(F.size(F.array_intersect("__th_a", "__th_b"))), _jac
            ),
            1,
        )
        pairs = (
            pairs.join(ta, "id_a")
            .join(tb, "id_b")
            .withColumn("jaccard", jaccard)
            .where(F.col("jaccard") >= verify_threshold)
            .select("id_a", "id_b", "jaccard")
        )
    return register_cached(pairs, per_doc)


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    n_chunks: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """SimHash near-dup: 64-bit signature, blocked on 64/n_chunks-bit
    chunks.

    By pigeonhole, two signatures within Hamming distance ``n_chunks - 1``
    agree on at least one chunk — so the candidate join is an equi-join
    on (chunk_idx, chunk_value), then an exact popcount verify.  More
    chunks widen the distance guarantee but coarsen the buckets (more
    candidates); ``max_hamming`` must be < ``n_chunks`` for guaranteed
    recall.

    Signatures come from :func:`attach_simhash64_md5` — the md5-nibble
    SimHash, reproducible in DuckDB SQL so the driver oracle verifies
    the full pair set exactly (recall is guaranteed by pigeonhole, so
    output == all pairs with hamming <= max_hamming).  Documents over
    16383 tokens get a NULL signature and drop out of the chunk join.

    ``max_bucket_size`` guards degenerate buckets (e.g. thousands of
    near-empty docs all hashing to signature 0): oversized
    (chunk_idx, chunk) buckets are star-paired to their min-id member by
    ``bucket_pairs`` instead of self-joined.  Star recall is exact for
    identical-signature clusters (hamming 0 to the star) and best-effort
    for mixed hot buckets — oracle-exact configurations pass
    ``max_bucket_size=None``.

    The caller releases the internal signature cache with
    ``lifecycle.release_cached(result)`` after materializing.
    """
    if 64 % n_chunks:
        raise ValueError("n_chunks must divide 64")
    bits = 64 // n_chunks
    mask = (1 << bits) - 1
    from pyspark.storagelevel import StorageLevel

    # persist: the chunk table feeds both self-join sides; the per-doc
    # SimHash signature must be computed exactly once per document
    sig = attach_simhash64_md5(
        docs.select(F.col(id_col), normalized_text(F.col(text_col)).alias("__nt")),
        "__nt",
        "simhash",
    ).select(F.col(id_col), F.col("simhash")).persist(StorageLevel.MEMORY_AND_DISK)
    chunks = sig.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright("simhash", bits * i).bitwiseAND(F.lit(mask)).alias("chunk"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.chunk_idx", "c.chunk")
    # The Hamming verify runs map-side BEFORE the pair dedup: a
    # candidate pair appears once per agreeing chunk (up to n_chunks
    # copies), so filtering first shrinks the dedup shuffle from the
    # full chunk-collision volume to the true near-dup set (measured
    # 5.1M -> ~54k rows at sf0.1, 6.1s -> ~1.5s).
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    out = (
        bucket_pairs(
            chunks, ["chunk_idx", "chunk"], id_col, max_bucket_size, carry=("simhash",)
        )
        .select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return register_cached(out, sig)


def embedding_cosine_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs: random-hyperplane LSH bucketing +
    exact cosine verify inside buckets (the ANN self-join variant of
    similarity_search.lsh_bucketed_topk).

    Near-identical vectors share every hyperplane sign, so they always
    share a bucket; the verify step keeps only pairs with cosine >=
    threshold.  Shuffle = one equi-join on the bucket key.
    """
    from data_reconciliation_spark.operators.similarity_search import (
        _hyperplane_bits,
        cosine_sim,
    )

    if dim is None:
        from data_reconciliation_spark.operators.similarity_search import infer_dim

        dim = infer_dim(vectors, vec_col)
    b = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        _hyperplane_bits(F.col(vec_col), n_planes, dim).alias("bucket"),
    )
    lhs = b.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket"
    )
    rhs = b.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket"
    )
    return (
        lhs.join(rhs, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_sim(F.col("va"), F.col("vb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Continuous-ingest dedup: of a new batch, keep one representative
    per fingerprint (lowest id) that does NOT already exist in the
    corpus.

    Both sides reduce to 32-hex-char fingerprints before any join — the
    corpus text is never shuffled, and the corpus side collapses to its
    distinct fingerprint set (at warehouse scale: a persisted
    fingerprint table the ingest job anti-joins against; Spark
    broadcasts it when small).  Output: (doc_id, fingerprint) of the
    genuinely new documents.
    """
    fp_new = new_docs.select(
        F.col(id_col), text_fingerprint(text_col).alias("fingerprint")
    )
    first_in_batch = fp_new.groupBy("fingerprint").agg(
        F.min(id_col).alias(id_col)
    )
    corpus_fps = corpus_docs.select(
        text_fingerprint(text_col).alias("fingerprint")
    ).distinct()
    return first_in_batch.join(corpus_fps, "fingerprint", "left_anti").select(
        id_col, "fingerprint"
    )
