"""Tests for the dedup suite, similarity search, text functions,
profiling, multimodal plumbing, and state/audit stores."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_reconciliation_spark.functions.text import (
    lang_id,
    quality_score,
    rolling_fingerprint,
    stopword_ratio,
    whitespace_token_count,
)
from data_reconciliation_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from data_reconciliation_spark.operators.multimodal import (
    extract_features,
    sample_frames,
)
from data_reconciliation_spark.operators.profiling import (
    detect_primary_key,
    uniqueness_profile,
)
from data_reconciliation_spark.operators.similarity_search import (
    brute_force_topk,
    cosine_sim,
    ivf_topk,
    lsh_bucketed_topk,
)
from data_reconciliation_spark.sources.state import AuditStore


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),   # exact dup of 0
        (2, "the quick brown fox jumps over a lazy dog", "en"),     # near dup of 0
        (3, "completely different content about spark engines", "en"),
        (4, "  The Quick Brown fox jumps over the lazy dog  ", "en"),  # case/ws dup of 0
        (5, "der hund ist nicht auf der couch und das ist gut", "de"),
        (6, "totally unrelated words forming another document body", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string").cache()


def test_exact_dedup(docs):
    groups = exact_dedup(docs).collect()
    # 0,1,4 share a fingerprint (case/whitespace-normalized)
    big = [g for g in groups if g["dup_count"] == 3]
    assert len(big) == 1 and big[0]["keep_id"] == 0
    assert sum(g["dup_count"] for g in groups) == 7


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.35, block_col=F.lit(1)).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    # doc0 vs doc2 share 4 of 10 distinct trigrams -> exactly 0.4
    assert (0, 2) in pairs and abs(pairs[(0, 2)] - 0.4) < 1e-12
    assert (0, 3) not in pairs


def test_minhash_lsh_pairs(docs):
    # docs 0 vs 2 share 4 of 10 distinct trigram shingles (jaccard 0.4):
    # at the default 16 bands x 4 rows the collision probability is only
    # ~0.34, so the test pins 32 bands x 2 rows (P(collide) ~ 0.996) —
    # the knob a caller tunes to the jaccard they must recall.
    from data_reconciliation_spark.config import BlockingConfig

    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, cfg=BlockingConfig(bands=32), verify_threshold=0.6
        ).collect()
    }
    assert (0, 1) in got          # identical
    assert (0, 2) in got          # near dup collides on >=1 band
    assert (0, 3) not in got and (3, 6) not in got


def test_simhash_pairs(docs):
    # md5-nibble SimHash: 8 chunks guarantee recall for any
    # distance <= 7 by pigeonhole, so the output must equal the
    # brute-force pair set computed from the pure-Python oracle.
    from data_reconciliation_spark.functions.similarity import (
        hamming64_py,
        simhash64_md5_py,
    )

    rows = docs.collect()
    import re

    def norm(s):
        return re.sub(r"\s+", " ", s.strip())

    sigs = {r["doc_id"]: simhash64_md5_py(norm(r["text"])) for r in rows}
    ids = sorted(sigs)
    want = {
        (a, b): hamming64_py(sigs[a], sigs[b])
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if hamming64_py(sigs[a], sigs[b]) <= 6
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, max_hamming=6, n_chunks=8).collect()
    }
    assert got == want
    assert got.get((0, 1)) == 0 and (0, 3) not in got


@pytest.mark.parametrize(
    "query, oracle, rows",
    [("q_simhash_pairs", "SQL_SIMHASH", 71), ("q_minhash_lsh_pairs", "SQL_MINHASH", 377)],
)
def test_dedup_kernels_match_duckdb_oracle(spark, query, oracle, rows):
    """The simhash and minhash driver queries at sf0.001 equal their
    frozen DuckDB SQL, compared the way ``tools/check_oracles.py``
    compares them (row count, column names, order-insensitive value
    hash).  DuckDB recomputes every signature from ``md5()`` or token
    sets, so this checks the Arrow kernels against an engine that
    shares no code with them."""
    import duckdb

    from data_reconciliation_spark.lifecycle import release_cached
    from data_reconciliation_spark.plans import driver_queries as dq
    from tools.check_oracles import value_hash

    sf = "/root/testdata/sf0.001"
    got_df = getattr(dq, query)(spark, sf)
    got = got_df.toPandas()
    release_cached(got_df)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    want = con.execute(getattr(dq, oracle)).df()
    assert len(got) == len(want) == rows
    assert sorted(got.columns) == sorted(want.columns)
    assert value_hash(got) == value_hash(want)


def test_lsh_hot_bucket_guards(spark):
    """Degenerate corpora (thousands of identical near-empty docs) must
    not explode into O(n^2) pair generation — but the biggest duplicate
    clusters must NOT be lost either (identical docs share EVERY band,
    so dropping their buckets would zero their recall).  Oversized
    buckets are star-paired to a min-id representative: O(n) pairs,
    connectivity preserved for transitive clustering."""
    from data_reconciliation_spark.config import BlockingConfig

    n = 5000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("").alias("text")
    )
    # every doc hashes to the same bands / simhash 0 -> one n^2 bucket
    # (25M pairs) without the guard; with star-pairing, exactly n-1
    # pairs all anchored at the min-id representative, and fast.
    mh = minhash_lsh_pairs(
        docs, cfg=BlockingConfig(shingle_size=1), verify_threshold=1.0
    )
    rows = mh.collect()
    assert len(rows) == n - 1
    assert all(r["id_a"] == 0 and r["jaccard"] == 1.0 for r in rows)
    sh = simhash_pairs(docs, max_hamming=6, n_chunks=8, max_bucket_size=1000)
    srows = sh.collect()
    assert len(srows) == n - 1
    assert all(r["id_a"] == 0 and r["hamming"] == 0 for r in srows)


def test_mixed_hot_bucket_star_recall(spark):
    """Quantified recall bound for MIXED (non-identical-member) over-cap
    buckets under the star-pairing guard (round-3 verdict #3).

    Realistic case — the ER pipeline's hot HOST block: ~20% of entities
    interleave on one host whose block exceeds ``max_block_size``, so
    its pairwise join is replaced by O(n) star pairs.  True pairs lost
    there must be recovered by the content bands (same-entity pages
    collide on non-hot MinHash band buckets).  Measured against the
    caps-off ground truth: BOTH pair-level recall of match verdicts and
    cluster-level recall (a ground-truth cluster counts as recalled only
    if the capped run keeps it in one piece post-closure).
    """
    from data_reconciliation_spark.config import BlockingConfig
    from data_reconciliation_spark.plans.pipeline import link
    from data_reconciliation_spark.testgen import HOT_HOST, generate_pages

    pages = generate_pages(spark, n_rows=1600, n_entities=100, seed=11).persist()
    hot_rows = pages.where(F.col("host") == HOT_HOST).count()
    capped_cfg = BlockingConfig(max_block_size=64)
    assert hot_rows > capped_cfg.max_block_size, "fixture must exceed the cap"
    # the hot block is mixed: many distinct entities interleave on it
    hot_entities = (
        pages.where(F.col("host") == HOT_HOST).select("entity_id").distinct().count()
    )
    assert hot_entities >= 10

    truth = link(pages, BlockingConfig(max_block_size=None))
    truth_matches = {
        (r["url_a"], r["url_b"])
        for r in truth.matches.select("url_a", "url_b").collect()
    }
    truth_clusters = {}
    for r in truth.clusters.collect():
        truth_clusters.setdefault(r["entity"], set()).add(r["url"])
    truth.release()

    capped = link(pages, capped_cfg)
    capped_matches = {
        (r["url_a"], r["url_b"])
        for r in capped.matches.select("url_a", "url_b").collect()
    }
    capped_label = {r["url"]: r["entity"] for r in capped.clusters.collect()}
    capped.release()
    pages.unpersist()

    pair_recall = len(capped_matches & truth_matches) / len(truth_matches)
    intact = sum(
        1
        for members in truth_clusters.values()
        if len({capped_label[u] for u in members}) == 1
    )
    cluster_recall = intact / len(truth_clusters)
    # Documented bounds (docs/SCALE.md §4b): band buckets recover the
    # pairs the capped host block no longer enumerates.
    assert pair_recall >= 0.98, (pair_recall, len(truth_matches))
    assert cluster_recall >= 0.95, (cluster_recall, len(truth_clusters))


def test_single_block_mixed_hot_bucket_floor(spark):
    """WORST-CASE floor, documented: when the over-cap mixed bucket is
    the ONLY bucket containing a pair (single explicit block, no band
    recovery), star-pairing keeps exactly the representative's own
    cluster and loses every other cluster — cluster recall = 1/k.  This
    is why ``ngram_jaccard_pairs``' implicit single-corpus-wide blocking
    is deprecated and corpus-scale dedup routes to ``minhash_lsh_pairs``
    (multi-bucket recovery, previous test)."""
    k, m = 8, 30
    rows = []
    for c in range(k):
        base = [f"c{c}tok{j}" for j in range(20)]
        for i in range(m):
            # near-dup within cluster: one doc-specific token appended
            rows.append((c * 100 + i, " ".join(base + [f"u{c}_{i}"])))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    truth = ngram_jaccard_pairs(
        docs, threshold=0.5, n=3, block_col=F.lit(1), max_block_size=None
    )
    n_truth = truth.count()
    assert n_truth == k * m * (m - 1) // 2  # all within-cluster pairs

    capped = ngram_jaccard_pairs(
        docs, threshold=0.5, n=3, block_col=F.lit(1), max_block_size=100
    )
    got = capped.collect()
    from data_reconciliation_spark.lifecycle import release_cached

    release_cached(capped)
    # only the representative's (doc 0's) cluster survives the star:
    # rep-to-own-cluster pairs pass the threshold, rep-to-other-cluster
    # star pairs fail it, and member-member pairs are never enumerated
    assert {(r["id_a"], r["id_b"]) for r in got} == {
        (0, i) for i in range(1, m)
    }
    pair_recall = len(got) / n_truth
    assert pair_recall == pytest.approx((m - 1) / (k * m * (m - 1) / 2))


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(0)
    base = rng.randn(20, 8).astype("float32")
    base[7] = base[3] * 1.5            # exact cosine twin of 3
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_brute_force_topk(spark, vectors):
    queries = vectors.where("vec_id = 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = brute_force_topk(vectors, queries, k=3).orderBy("rank").collect()
    # rank1 = self (cosine 1.0), rank2 = scaled twin (cosine ~1.0)
    assert top[0]["vec_id"] == 3 and abs(top[0]["cosine"] - 1.0) < 1e-9
    assert top[1]["vec_id"] == 7 and abs(top[1]["cosine"] - 1.0) < 1e-6
    # exact parity with numpy oracle on rank-3
    import numpy as np

    mat = np.array(vectors.orderBy("vec_id").toPandas()["embedding"].tolist(), dtype="float64")
    sims = mat @ mat[3] / (np.linalg.norm(mat, axis=1) * np.linalg.norm(mat[3]))
    order = np.argsort([(-s, i) for i, s in enumerate(sims)], axis=0)
    want_third = sorted(((-s, i) for i, s in enumerate(sims)))[2][1]
    assert top[2]["vec_id"] == want_third


def test_lsh_and_ivf_find_twin(vectors):
    queries = vectors.where("vec_id = 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    lsh = lsh_bucketed_topk(vectors, queries, k=3, n_planes=4, dim=8).collect()
    assert any(r["vec_id"] == 7 for r in lsh)  # twin shares every hyperplane sign
    ivf = ivf_topk(vectors, queries, n_centroids=4, nprobe=2, k=3).collect()
    assert any(r["vec_id"] == 7 for r in ivf)


def test_text_functions(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog sat in the house for a while"),
            (1, "der hund und die katze, das ist ein haus mit garten"),
            (2, ""),
            (3, "!!! ??? ;;; ###"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            whitespace_token_count("text").alias("ntok"),
            lang_id("text").alias("lang"),
            stopword_ratio("text", "en").alias("sw_en"),
            quality_score("text").alias("q"),
            rolling_fingerprint("text").alias("fp"),
        ).collect()
    }
    assert rows[0]["ntok"] == 12 and rows[0]["lang"] == "en" and rows[0]["sw_en"] > 0.3
    assert rows[1]["lang"] == "de"
    assert rows[2]["ntok"] == 0 and rows[2]["lang"] == "und"
    assert rows[3]["q"] < rows[0]["q"]
    assert isinstance(rows[0]["fp"], int)
    # fingerprint stable under trailing-edit (min window far from edit)
    fp2 = (
        spark.createDataFrame(
            [(0, "the cat and the dog sat in the house for a time")], "doc_id long, text string"
        )
        .select(rolling_fingerprint("text").alias("fp"))
        .collect()[0]["fp"]
    )
    # both documents share all but the final window; min usually unchanged
    # (not guaranteed — just assert determinism of repeated evaluation)
    fp_again = df.where("doc_id=0").select(rolling_fingerprint("text").alias("fp")).collect()[0]["fp"]
    assert fp_again == rows[0]["fp"]


def test_uniqueness_profile_and_pk_detection(spark):
    a = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 10), (3, "z", 20)], "id long, name string, grp long"
    )
    b = spark.createDataFrame(
        [(1, "x", 30), (2, "q", 30), (4, "z", 40)], "id long, name string, grp long"
    )
    prof = {r["column"]: r for r in uniqueness_profile(a).collect()}
    assert prof["id"]["is_unique"] and not prof["grp"]["is_unique"]
    assert detect_primary_key(a, b) == ["id"]
    # `name` unique on both sides while `id` is not -> name wins alone
    a2 = a.withColumn("id", F.col("grp"))
    b2 = b.withColumn("id", F.col("grp"))
    assert detect_primary_key(a2, b2) == ["name"]
    # no unique common column -> top-2 by combined distinct count
    a3 = a2.withColumn("name", F.lit("same"))
    b3 = b2.withColumn("name", F.lit("same"))
    top2 = detect_primary_key(a3, b3)
    assert len(top2) == 2 and "name" not in top2


def test_multimodal_plumbing(spark):
    rows = [
        (0, "image", b"\x00\x01\x02\x03" * 16, "image/png", 8, 8, None),
        (1, "video", b"\xff" * 64, "video/mp4", 64, 48, 3500),
        (2, "audio", None, "audio/wav", None, None, 2000),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    feats = {r["media_id"]: r for r in extract_features(media, dim=4).collect()}
    assert feats[0]["n_bytes"] == 64
    assert len(feats[0]["feature"]) == 4
    assert abs(sum(x * x for x in feats[0]["feature"]) - 1.0) < 1e-5  # L2 normalized
    assert feats[2]["feature"] is None and feats[2]["n_bytes"] == 0
    # deterministic across runs
    feats2 = {r["media_id"]: r for r in extract_features(media, dim=4).collect()}
    assert feats2[0]["feature"] == feats[0]["feature"]

    frames = sample_frames(media, every_ms=1000).collect()
    assert len(frames) == 4  # 3500ms -> ts 0,1000,2000,3000
    assert {f["frame_ts_ms"] for f in frames} == {0, 1000, 2000, 3000}

    from data_reconciliation_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"...")


def test_audit_store_dedup_gate(spark, tmp_path):
    store = AuditStore(spark, str(tmp_path / "audit"))
    exc = spark.createDataFrame([(1, "f", "a", "b")], "id long, field string, old string, new string")
    rid1 = store.save_run("sysA", 98.5, exc, "id")
    assert rid1 is not None
    # identical run within 24h -> gated (A9, models.py:32-49)
    rid2 = store.save_run("sysA", 98.5, exc, "id")
    assert rid2 is None
    # different rate -> saved
    rid3 = store.save_run("sysA", 97.0, exc, "id")
    assert rid3 is not None
    hist = store.history("sysA").collect()
    assert len(hist) == 2
    assert hist[0]["date"] <= hist[1]["date"]
    assert store.read_exceptions(rid1).count() == 1


def test_analysis_by_date(spark, tmp_path):
    """Reference GET /analysis parity (app.py:228-299): system + pk +
    calendar-date filter -> first run -> header + that run's exceptions;
    404-analog None when nothing matches; 400-analog ValueError on a bad
    date string."""
    from datetime import datetime, timezone

    store = AuditStore(spark, str(tmp_path / "audit_bydate"))
    exc1 = spark.createDataFrame(
        [(1, "f", "a", "b"), (2, "f", "c", "d")],
        "id long, field string, old string, new string",
    )
    exc2 = spark.createDataFrame(
        [(9, "g", "x", "y")], "id long, field string, old string, new string"
    )
    d1 = datetime(2024, 3, 1, 10, 0, tzinfo=timezone.utc)
    d2 = datetime(2024, 3, 2, 11, 0, tzinfo=timezone.utc)
    rid1 = store.save_run("sysD", 95.0, exc1, "id", now=d1)
    rid2 = store.save_run("sysD", 90.0, exc2, "id", now=d2)
    assert rid1 and rid2

    got = store.analysis_by_date("sysD", "2024-03-01", pk="id")
    assert got is not None
    assert got["analysis_id"] == rid1
    assert got["system_name"] == "sysD" and got["date"] == "2024-03-01"
    assert got["match_rate"] == 95.0 and got["primary_key_used"] == "id"
    assert got["exceptions"].count() == 2

    # day 2 run resolves independently
    assert store.analysis_by_date("sysD", "2024-03-02")["analysis_id"] == rid2
    # no run that day / wrong system -> None (reference 404)
    assert store.analysis_by_date("sysD", "2024-03-03") is None
    assert store.analysis_by_date("nope", "2024-03-01") is None
    # bad date -> ValueError (reference 400)
    with pytest.raises(ValueError):
        store.analysis_by_date("sysD", "03/01/2024")


def test_rejection_loop(spark, tmp_path):
    """Reference app.py:302-475 rejection loop: reject -> filtered view ->
    recalculated rate with the reference's exact (quirky) formula."""
    store = AuditStore(spark, str(tmp_path / "audit_rej"))
    exc = spark.createDataFrame(
        [(1, "f1", "a", "b"), (2, "f1", "c", "d"), (3, "f2", "e", "g"), (4, "f2", "h", "i")],
        "id long, field string, old string, new string",
    )
    rid = store.save_run("sysR", 90.0, exc, "id")
    assert rid is not None

    store.reject_exceptions(rid, [0, 2])
    filtered = store.filtered_exceptions(rid)
    assert filtered.count() == 2
    assert {r["exc_idx"] for r in filtered.collect()} == {1, 3}

    stats = store.recalculate_match_rate(rid)
    # reference formula: (total - remaining)/total*100 = (4-2)/4*100
    assert stats == {
        "original_exceptions": 4,
        "rejected_exceptions": 2,
        "remaining_exceptions": 2,
        "new_match_rate": 50.0,
    }


def test_resize_images_contract(spark):
    from data_reconciliation_spark.operators.multimodal import resize_images

    media = spark.createDataFrame(
        [(0, "image", b"abc", "image/png", 640, 480, None),
         (1, "video", b"xyz", "video/mp4", 64, 48, 1000)],
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    out = resize_images(media, 224, 224).collect()
    assert len(out) == 1  # only the image row
    assert (out[0]["width"], out[0]["height"]) == (224, 224)
    import zlib
    assert out[0]["checksum"] == zlib.crc32(b"abc")


def test_bmp_decode_resize_roundtrip(spark):
    """Real pixel path: BMP decode -> nearest resample -> BMP re-encode,
    verified against a pure-numpy oracle."""
    import numpy as np

    from data_reconciliation_spark.operators.multimodal import (
        _decode_bmp24,
        decode_image,
        encode_bmp24,
        resample_nearest,
        resize_images,
    )

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(6, 8, 3), dtype=np.uint8)
    payload = encode_bmp24(img)
    assert (decode_image(payload) == img).all()          # lossless roundtrip

    media = spark.createDataFrame(
        [(0, "image", bytearray(payload), "image/bmp", 8, 6, None)],
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    out = resize_images(media, 4, 3).collect()
    assert len(out) == 1 and out[0]["decoded"]
    got = _decode_bmp24(bytes(out[0]["payload"]))
    want = resample_nearest(img, 4, 3)
    assert got.shape == (3, 4, 3) and (got == want).all()


def test_png_decode_roundtrip_and_filters(spark):
    """Stdlib PNG path (round-4 verdict #9): encode->decode roundtrip,
    all five scanline filters via a reference filter-applying encoder,
    gray/palette/RGBA color types, and the mapInPandas resize stage."""
    import struct
    import zlib

    import numpy as np

    from data_reconciliation_spark.operators.multimodal import (
        _decode_png,
        decode_image,
        encode_png,
        resample_nearest,
        resize_images,
    )

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(7, 5, 3), dtype=np.uint8)
    payload = encode_png(img)
    assert (decode_image(payload) == img).all()  # lossless roundtrip

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    def encode_with_filters(px, color_type, channels, filters, plte=None):
        """Reference encoder applying a given filter type per scanline
        (the forward transform of the spec; decode must invert it)."""
        h, w = px.shape[:2]
        flat = px.reshape(h, w * channels).astype(np.int64)
        out = []
        prev = np.zeros(w * channels, dtype=np.int64)
        for y in range(h):
            cur, ft = flat[y], filters[y % len(filters)]
            a = np.concatenate([np.zeros(channels, np.int64), cur[:-channels]])
            b = prev
            c = np.concatenate([np.zeros(channels, np.int64), prev[:-channels]])
            if ft == 0:
                enc = cur
            elif ft == 1:
                enc = cur - a
            elif ft == 2:
                enc = cur - b
            elif ft == 3:
                enc = cur - ((a + b) >> 1)
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                )
                enc = cur - pred
            out.append(bytes([ft]) + (enc & 0xFF).astype(np.uint8).tobytes())
            prev = cur
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        chunks = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte is not None:
            chunks += chunk(b"PLTE", plte.astype(np.uint8).tobytes())
        return chunks + chunk(
            b"IDAT", zlib.compress(b"".join(out))
        ) + chunk(b"IEND", b"")

    # every filter type must invert exactly (cycled per scanline)
    data = encode_with_filters(img, 2, 3, filters=[0, 1, 2, 3, 4])
    assert (_decode_png(data) == img).all()

    # larger fixture dominated by the list-recurrence average/Paeth
    # paths (round-5 verdict #7 rewrote them off numpy scalar loops):
    # 96x128 RGB, rows alternating 3/4 with occasional 0/1/2 so every
    # row's `prev` context comes from a rewritten-path row
    big = rng.randint(0, 256, size=(96, 128, 3), dtype=np.uint8)
    data = encode_with_filters(big, 2, 3, filters=[3, 4, 4, 3, 0, 3, 4, 1, 4, 2])
    assert (_decode_png(data) == big).all()

    # grayscale -> replicated channels
    gray = rng.randint(0, 256, size=(4, 6, 1), dtype=np.uint8)
    got = _decode_png(encode_with_filters(gray, 0, 1, filters=[4, 3, 2, 1]))
    assert (got == np.repeat(gray, 3, axis=2)).all()

    # RGBA -> alpha dropped
    rgba = rng.randint(0, 256, size=(3, 3, 4), dtype=np.uint8)
    got = _decode_png(encode_with_filters(rgba, 6, 4, filters=[1, 4]))
    assert (got == rgba[:, :, :3]).all()

    # palette
    plte = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.randint(0, 16, size=(5, 4, 1), dtype=np.uint8)
    got = _decode_png(encode_with_filters(idx, 3, 1, filters=[0, 2], plte=plte))
    assert (got == plte[idx[:, :, 0]]).all()

    # the Spark resize stage accepts PNG payloads too (decoded flag set)
    media = spark.createDataFrame(
        [(0, "image", bytearray(payload), "image/png", 5, 7, None)],
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    out = resize_images(media, 3, 4).collect()
    assert len(out) == 1 and out[0]["decoded"]
    from data_reconciliation_spark.operators.multimodal import _decode_bmp24

    got = _decode_bmp24(bytes(out[0]["payload"]))
    assert (got == resample_nearest(img, 3, 4)).all()


def test_incremental_exact_dedup(docs):
    from data_reconciliation_spark.operators.dedup import incremental_exact_dedup

    corpus = docs.where("doc_id <= 3")     # holds the 0/1 dup pair's text
    batch = docs.where("doc_id > 3")       # 4 = ws/case dup of 0; 5,6 fresh
    kept = {
        r["doc_id"] for r in incremental_exact_dedup(batch, corpus).collect()
    }
    # doc 4 normalizes to doc 0's fingerprint (already in corpus) -> dropped
    assert kept == {5, 6}
