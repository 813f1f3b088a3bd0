"""Skew handling: oversized hot-host blocks are excluded from pairwise
generation yet recall survives via content band keys."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_reconciliation_spark.config import BlockingConfig
from data_reconciliation_spark.operators.blocking import (
    candidate_pairs,
    exploded_blocks,
    with_blocking_keys,
)
from data_reconciliation_spark.testgen import HOT_HOST, generate_pages


def test_hot_block_guard_keeps_band_recall(spark):
    """Every entity on ONE host, host block far above max_block_size:
    the host key is excluded (no quadratic blow-up) but MinHash band
    keys still recover intra-entity pairs."""
    pages = generate_pages(
        spark, n_rows=1200, n_entities=300, hot_host_pct=100, seed=7
    ).cache()
    assert pages.select("host").distinct().count() == 1  # all hot

    cfg = BlockingConfig(max_block_size=400)
    cands = candidate_pairs(pages, cfg).select("id_a", "id_b")
    n_cands = cands.count()
    # quadratic host join would be ~C(1200,2) = 719k pairs; the guard
    # must keep candidates far below that
    assert n_cands < 100_000

    truth = (
        pages.alias("a")
        .join(pages.alias("b"), F.col("a.entity_id") == F.col("b.entity_id"))
        .where(F.col("a.url") < F.col("b.url"))
        .select(F.col("a.url").alias("id_a"), F.col("b.url").alias("id_b"))
    )
    n_truth = truth.count()
    found = truth.join(cands, ["id_a", "id_b"], "left_semi").count()
    recall = found / n_truth
    assert recall >= 0.98, f"band recall {recall:.4f} (found {found}/{n_truth})"


def test_block_keys_deterministic_across_partitioning(spark):
    """Band keys must be identical regardless of input partitioning
    (scaling-benchmark precondition), and are 8-byte hashes: the host
    key plus one key per LSH band."""
    cfg = BlockingConfig()
    keyed = with_blocking_keys(generate_pages(spark, 300, 75, partitions=2), cfg)
    assert keyed.schema["block_keys"].dataType.simpleString() == "array<bigint>"
    sizes = keyed.select(F.size("block_keys").alias("n")).distinct().collect()
    assert [r.n for r in sizes] == [1 + cfg.bands]
    a = exploded_blocks(keyed)
    b = exploded_blocks(
        with_blocking_keys(generate_pages(spark, 300, 75, partitions=16))
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
