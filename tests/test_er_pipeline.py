"""End-to-end ER pipeline tests: generator determinism, byte-identical
extraction, blocking recall, pairwise F1 >= 0.99 on labeled pairs,
closure correctness vs networkx, and checkpoint resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_reconciliation_spark.config import BlockingConfig, ScoringConfig
from data_reconciliation_spark.functions.normalize import (
    extract_text_from_html,
    extract_title_from_html,
)
from data_reconciliation_spark.operators.blocking import candidate_pairs
from data_reconciliation_spark.operators.cluster import connected_components
from data_reconciliation_spark.operators.scoring import score_pairs
from data_reconciliation_spark.plans.pipeline import link
from data_reconciliation_spark.sources.state import CheckpointManager
from data_reconciliation_spark.testgen import generate_pages, labeled_pairs

N_ROWS = 600
N_ENTITIES = 150


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, n_rows=N_ROWS, n_entities=N_ENTITIES, seed=42).cache()


def test_generator_deterministic(spark, pages):
    again = generate_pages(spark, n_rows=N_ROWS, n_entities=N_ENTITIES, seed=42)
    assert pages.exceptAll(again).count() == 0
    assert again.exceptAll(pages).count() == 0
    # ~20% of rows on the hot host (skew fixture)
    hot_frac = (
        pages.where(F.col("host") == "hot.example.com").count() / pages.count()
    )
    assert 0.10 < hot_frac < 0.35


def test_extraction_byte_identical(pages):
    """North-rule invariant: text extracted from html bytes == the text
    column, byte for byte, for every url."""
    bad = pages.where(
        (extract_text_from_html("html") != F.col("text"))
        | (extract_title_from_html("html") != F.col("title"))
    ).count()
    assert bad == 0


def test_blocking_recall(pages):
    """Every intra-entity pair must be a candidate (they share the host
    key at minimum)."""
    cands = candidate_pairs(pages, BlockingConfig())
    assert cands.columns == ["id_a", "id_b"]
    truth = (
        pages.alias("a")
        .join(pages.alias("b"), F.col("a.entity_id") == F.col("b.entity_id"))
        .where(F.col("a.url") < F.col("b.url"))
        .select(F.col("a.url").alias("id_a"), F.col("b.url").alias("id_b"))
    )
    missed = truth.join(cands, ["id_a", "id_b"], "left_anti").count()
    assert missed == 0


def test_pairwise_f1(spark, pages):
    """BASELINE.json headline: F1 >= 0.99 on labeled pairs at shared
    blocking keys."""
    from data_reconciliation_spark.operators.scoring import prepare_pages

    gold = labeled_pairs(pages, max_pairs_per_block=400)
    prep = prepare_pages(pages)
    pa = prep.select(
        F.col("url").alias("url_a"), F.col("canon_url").alias("canon_url_a"),
        F.col("title").alias("title_a"), F.col("tok_hashes").alias("tok_hashes_a"),
        F.col("simhash").alias("simhash_a"),
    )
    pb = prep.select(
        F.col("url").alias("url_b"), F.col("canon_url").alias("canon_url_b"),
        F.col("title").alias("title_b"), F.col("tok_hashes").alias("tok_hashes_b"),
        F.col("simhash").alias("simhash_b"),
    )
    pairs = gold.join(pa, "url_a").join(pb, "url_b")
    # the gold label column and the scored verdict share the name
    # "is_match" — score on payload-only columns, then join verdicts back
    # to the gold labels.
    scored = score_pairs(pairs.drop("is_match"), ScoringConfig())
    pred = scored.select("url_a", "url_b", F.col("is_match").alias("pred"))
    joined = gold.join(pred, ["url_a", "url_b"])
    agg2 = joined.agg(
        F.sum((F.col("pred") & F.col("is_match")).cast("long")).alias("tp"),
        F.sum((F.col("pred") & ~F.col("is_match")).cast("long")).alias("fp"),
        F.sum((~F.col("pred") & F.col("is_match")).cast("long")).alias("fn"),
    ).collect()[0]
    tp, fp, fn = agg2["tp"] or 0, agg2["fp"] or 0, agg2["fn"] or 0
    assert tp > 0
    precision = tp / (tp + fp)
    recall = tp / (tp + fn)
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99, f"F1={f1:.4f} precision={precision:.4f} recall={recall:.4f}"


def test_connected_components_vs_networkx(spark):
    import networkx as nx
    import random

    rng = random.Random(99)
    edges = []
    for _ in range(300):
        a, b = rng.randint(0, 120), rng.randint(0, 120)
        if a != b:
            edges.append((f"n{a:03d}", f"n{b:03d}"))
    # include a long chain (worst case for naive propagation)
    edges += [(f"c{i:03d}", f"c{i+1:03d}") for i in range(40)]

    g = nx.Graph()
    g.add_edges_from(edges)
    want = {}
    for comp in nx.connected_components(g):
        root = min(comp)
        for n in comp:
            want[n] = root

    df = spark.createDataFrame(edges, "src string, dst string")
    # default = driver-side union-find (under the local-finish budget)
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == want
    # forced fully-distributed star-contraction path
    got_dist = {
        r["node"]: r["component"]
        for r in connected_components(df, local_finish_threshold=0).collect()
    }
    assert got_dist == want
    # mid-loop handoff: the ~290-edge distinct set starts above the
    # threshold; round 1 contracts to ~(nodes - components) edges,
    # dropping under it, so the loop hands off to the driver finish
    got_mid = {
        r["node"]: r["component"]
        for r in connected_components(df, local_finish_threshold=200).collect()
    }
    assert got_mid == want
    # byte budget binds independently of the edge budget: a tiny
    # local_finish_mb forces the distributed loop for string ids even
    # though the edge count fits, and the result is identical
    got_bytes = {
        r["node"]: r["component"]
        for r in connected_components(df, local_finish_mb=0).collect()
    }
    assert got_bytes == want
    # assume_distinct (the link() fast path — edges here ARE distinct
    # post-dedup): same labels, one shuffle less
    ddf = df.distinct()
    got_nodedup = {
        r["node"]: r["component"]
        for r in connected_components(ddf, assume_distinct=True).collect()
    }
    assert got_nodedup == want


def test_local_finish_byte_budget_measures_ids(spark):
    """The driver-finish gate prices VARIABLE-WIDTH ids by measured
    bytes: the same 60-edge graph fits the budget with short ids but
    not with ~16 KB ids at local_finish_mb=1 (60 * 32 KB > 1 MB), where
    the closure must fall back to the distributed loop — observable via
    max_iter=1 (the distributed loop raises; the local finish cannot)."""
    import pytest

    short = spark.createDataFrame(
        [(f"s{i:02d}", f"s{i+1:02d}") for i in range(60)],
        "src string, dst string",
    )
    # short ids: ~6 B/edge * 60 edges fits 1 MB -> local finish, which
    # closes the whole chain in one shot regardless of max_iter
    labels = {
        r["node"]: r["component"]
        for r in connected_components(
            short, local_finish_mb=1, max_iter=1
        ).collect()
    }
    assert set(labels.values()) == {"s00"}

    pad = "x" * 16384
    fat = spark.createDataFrame(
        [(f"{pad}{i:02d}", f"{pad}{i+1:02d}") for i in range(60)],
        "src string, dst string",
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(fat, local_finish_mb=1, max_iter=1)


def test_closure_resume(spark, tmp_path):
    """Kill after round 1 (simulated via max_iter=1 -> RuntimeError),
    resume from the checkpoint, and assert the final labels equal a
    clean uninterrupted run — plus lineage metrics exist per round."""
    edges = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(60)]  # needs >1 round
    df = spark.createDataFrame(edges, "src string, dst string")

    clean = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }

    # local_finish_threshold=0 forces the distributed loop whose rounds
    # the checkpoint protocol snapshots
    ckpt_dir = str(tmp_path / "ckpt")
    mgr = CheckpointManager(spark, ckpt_dir)
    with pytest.raises(RuntimeError):
        connected_components(
            df, max_iter=1, checkpoint=mgr, local_finish_threshold=0
        )
    assert mgr.latest() is not None and mgr.latest()[0] == 1

    resumed_mgr = CheckpointManager(spark, ckpt_dir)
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            df, checkpoint=resumed_mgr, local_finish_threshold=0
        ).collect()
    }
    assert got == clean

    lineage = resumed_mgr.lineage()
    assert lineage is not None
    iters = {r["iteration"] for r in lineage.select("iteration").distinct().collect()}
    assert 1 in iters and len(iters) >= 2
    assert lineage.agg(F.sum("row_count")).collect()[0][0] > 0


def test_link_writes_scoring_lineage_and_fanout(spark, pages, tmp_path):
    """link() with a checkpoint manager records per-partition scoring
    lineage (north rule) plus the dictionary-id collision fan-out row
    (round-5 verdict #8) — 0 on a clean corpus."""
    mgr = CheckpointManager(spark, str(tmp_path / "link_ckpt"))
    res = link(pages, checkpoint=mgr)
    res.clusters.count()
    res.release()
    lin = mgr.lineage()
    assert lin is not None
    scoring_rows = lin.where("stage = 'scoring'").collect()
    assert scoring_rows and sum(r["row_count"] for r in scoring_rows) > 0
    fanout_rows = lin.where("stage = 'pair_fanout'").collect()
    assert len(fanout_rows) == 1
    assert fanout_rows[0]["row_count"] == 0


def test_link_end_to_end(spark, pages):
    res = link(pages)
    # every url labeled exactly once
    assert res.clusters.count() == pages.count()
    assert res.clusters.select("url").distinct().count() == pages.count()
    # cluster quality vs ground truth: pairwise F1 over same-cluster pairs
    truth = pages.select("url", "entity_id")
    joined = res.clusters.join(truth, "url")
    a = joined.select(F.col("url").alias("ua"), F.col("entity").alias("ea"),
                      F.col("entity_id").alias("ta"))
    b = joined.select(F.col("url").alias("ub"), F.col("entity").alias("eb"),
                      F.col("entity_id").alias("tb"))
    pairs = a.crossJoin(b).where(F.col("ua") < F.col("ub"))
    agg = pairs.agg(
        F.sum(((F.col("ea") == F.col("eb")) & (F.col("ta") == F.col("tb"))).cast("long")).alias("tp"),
        F.sum(((F.col("ea") == F.col("eb")) & (F.col("ta") != F.col("tb"))).cast("long")).alias("fp"),
        F.sum(((F.col("ea") != F.col("eb")) & (F.col("ta") == F.col("tb"))).cast("long")).alias("fn"),
    ).collect()[0]
    tp, fp, fn = agg["tp"], agg["fp"], agg["fn"]
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.95, f"cluster F1={f1:.4f} (p={precision:.4f} r={recall:.4f})"


def test_scored_pairs_real_id_ordering(spark, pages):
    """With dictionary ids, candidate ordering is on the hash domain;
    block_score_pipeline must re-orient so scored output upholds
    url_a < url_b on REAL ids (round-4 ADVICE — consumers and unions
    with the string-id path canonicalize by real-id order)."""
    from data_reconciliation_spark.operators.scoring import block_score_pipeline

    scored = block_score_pipeline(pages)
    assert scored.where(F.col("url_a") >= F.col("url_b")).count() == 0
    from data_reconciliation_spark.lifecycle import release_cached

    release_cached(scored)


def test_pair_fanout_collision_telemetry(spark, pages, monkeypatch):
    """Round-5 verdict #8: the dictionary-id path's collision fan-out is
    an observed metric, not trusted 2^-64 math.  A clean corpus reports
    0; a deliberately coarse uid (3-bit hash — every id collides) must
    report exactly rows_scored - distinct_coarse_hash_pairs."""
    from data_reconciliation_spark.lifecycle import release_cached
    from data_reconciliation_spark.operators import blocking, scoring

    scored = scoring.block_score_pipeline(pages)
    assert scoring.pair_fanout(scored) is None  # not materialized — no obs read
    n_clean = scored.count()
    assert n_clean > 0
    assert scoring.pair_fanout(scored) == 0  # xxhash64: no collisions here
    release_cached(scored)

    coarse = lambda c: F.pmod(F.xxhash64(c), F.lit(8))  # noqa: E731
    monkeypatch.setattr(blocking, "dictionary_uid", coarse)
    fanned = scoring.block_score_pipeline(pages)
    n_fanned = fanned.count()
    fanout = scoring.pair_fanout(fanned)
    assert fanout is not None and fanout > 0
    # independent recount: candidate pairs live on the coarse-hash
    # domain, so fan-out == scored rows minus distinct unordered
    # coarse-hash pairs
    n_hash_pairs = (
        fanned.select(
            F.least(coarse(F.col("url_a")), coarse(F.col("url_b"))).alias("ha"),
            F.greatest(coarse(F.col("url_a")), coarse(F.col("url_b"))).alias("hb"),
        )
        .distinct()
        .count()
    )
    assert fanout == n_fanned - n_hash_pairs
    release_cached(fanned)


def test_closure_conf_isolation(spark):
    """The distributed loop's latency-regime tuning (AQE off + small
    shuffle partitioning) must run in a cloned session: the caller's
    conf is never mutated, even mid-loop (round-4 ADVICE — a shared
    long-running driver plans concurrent queries under session conf)."""
    before = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    }
    edges = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(80)]
    df = spark.createDataFrame(edges, "src string, dst string")
    connected_components(df, local_finish_threshold=0).count()
    after = {k: spark.conf.get(k) for k in before}
    assert after == before
    # result DataFrames are handed back bound to the caller's session,
    # so downstream composition plans under the caller's conf
    out = connected_components(df, local_finish_threshold=0)
    assert out.sparkSession is spark


def test_parse_partitions_auto_fallback(spark):
    """'auto' (allowed on some Spark distributions; OSS Spark rejects
    setting it, so the coercion is tested directly) must fall back to
    defaultParallelism instead of raising (round-4 ADVICE)."""
    from data_reconciliation_spark.operators.cluster import (
        _coerce_partitions,
        _parse_partitions,
    )

    assert _coerce_partitions("auto", 16) == 16
    assert _coerce_partitions(None, 16) == 16
    assert _coerce_partitions("32", 16) == 32
    assert _parse_partitions(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_fanout_observes_gated_off_without_consumer(spark, pages):
    """collect_fanout=False (what link() passes when no checkpoint
    manager will persist the metric) must leave ZERO CollectMetrics
    barriers in the pair plan — the round-6 telemetry cost two codegen
    barriers on every candidate row even when nobody read the number."""
    from data_reconciliation_spark.lifecycle import release_cached
    from data_reconciliation_spark.operators import scoring

    scored = scoring.block_score_pipeline(pages, collect_fanout=False)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "CollectMetrics" not in plan, plan
    assert scoring.pair_fanout(scored) is None
    release_cached(scored)

    # link() without a checkpoint manager takes the gated path
    res = link(pages)
    plan = res.scored_pairs._jdf.queryExecution().executedPlan().toString()
    assert "CollectMetrics" not in plan, plan
    res.clusters.count()
    res.release()


def test_scored_pairs_drop_scoring_inputs(spark, pages):
    """The scored table the caller persists must not carry the fat
    per-side scoring inputs (token-hash arrays, canon urls, titles,
    simhashes) — features + ids only (cache/shuffle width, guide §2.3)."""
    from data_reconciliation_spark.lifecycle import release_cached
    from data_reconciliation_spark.operators import scoring

    scored = scoring.block_score_pipeline(pages, collect_fanout=False)
    cols = set(scored.columns)
    for c in ("tok_hashes_a", "tok_hashes_b", "canon_url_a", "canon_url_b",
              "title_a", "title_b", "simhash_a", "simhash_b", "block_key"):
        assert c not in cols, c
    for c in ("url_a", "url_b", "token_jaccard", "simhash_hamming",
              "url_jw", "title_jw", "score", "is_match"):
        assert c in cols, c
    release_cached(scored)


def test_observation_count_failure_modes(spark):
    """_observation_count must distinguish 'not materialized' (None)
    from 'API shape changed' (loud RuntimeError) — a silent None reads
    as telemetry-off and would mask a real collision (round-6 #4)."""
    from pyspark.sql import Observation

    from data_reconciliation_spark.operators.scoring import _observation_count

    # attached but no action yet -> None (not materialized)
    df = spark.range(5)
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
    assert _observation_count(obs) is None
    observed.count()
    assert _observation_count(obs) == 5

    # never attached -> loud
    with pytest.raises(RuntimeError, match="never attached"):
        _observation_count(Observation())

    # internals changed (no _jo attribute at all) -> loud
    class NotAnObservation:
        pass

    with pytest.raises(RuntimeError, match="internals changed"):
        _observation_count(NotAnObservation())


def test_link_latency_regime_conf_isolation(spark, pages):
    """link()'s latency-regime AQE tuning must run in a cloned session:
    the caller's conf is untouched and every returned DataFrame is
    re-bound to the caller's session (same discipline as the closure
    loop's regime tuning)."""
    before = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    }
    res = link(pages)  # 600 pages -> latency regime
    assert res.scored_pairs.sparkSession is spark
    assert res.matches.sparkSession is spark
    assert res.clusters.sparkSession is spark
    assert res.scored_pairs.count() > 0
    assert res.clusters.count() == pages.count()
    # the regime planned without AQE: no AdaptiveSparkPlan node
    plan = res.scored_pairs._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" not in plan, plan[:500]
    res.release()
    assert {k: spark.conf.get(k) for k in before} == before


def test_local_union_find_nonmonotone_rank_chain(spark):
    """Regression: a chain whose LEXICOGRAPHIC id order is non-monotone
    along the chain (unpadded numbers: 'n10' < 'n2') must still close
    into ONE component.  The driver finish's convergence check used an
    aliased snapshot that np.minimum.at mutated in place, so the loop
    could exit one edge pass early and split the chain (round-7 find;
    every earlier fixture used zero-padded ids whose rank order is
    monotone, hiding it)."""
    df = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(50)], "src string, dst string"
    )
    out = connected_components(df).collect()
    comps = {r["component"] for r in out}
    assert comps == {"n0"}, comps
    assert len(out) == 51
    # same graph through the fully distributed loop agrees
    dist = connected_components(df, local_finish_threshold=0).collect()
    assert {r["component"] for r in dist} == {"n0"}
    assert sorted((r["node"], r["component"]) for r in out) == sorted(
        (r["node"], r["component"]) for r in dist
    )


def test_link_page_over_simhash_token_guard(spark):
    """A page over 16383 tokens gets a NULL SimHash (the md5 kernel's
    exact-range guard).  It must still get exactly one label, and still
    link to its exact duplicate on token Jaccard alone: the titles
    differ, and the NULL Hamming distance is no evidence either way."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(3000)]
    big = " ".join(rng.choice(vocab) for _ in range(17000))
    pages = spark.createDataFrame(
        [
            ("https://alpha.example.com/report", big, "Annual figures"),
            ("https://beta.example.com/report", big, "Zebra crossing"),
            ("https://gamma.example.com/other", "a short unrelated page", "Other"),
        ],
        "url string, text string, title string",
    )
    res = link(pages)
    labels = {r["url"]: r["entity"] for r in res.clusters.collect()}
    assert len(labels) == 3 and res.clusters.count() == 3
    a, b, c = sorted(labels)
    assert labels[a] == labels[b] != labels[c]
    pair = res.scored_pairs.where(
        (F.col("url_a") == a) & (F.col("url_b") == b)
    ).collect()
    assert len(pair) == 1
    assert pair[0]["simhash_hamming"] is None
    assert pair[0]["token_jaccard"] == 1.0 and pair[0]["is_match"]
    res.release()
