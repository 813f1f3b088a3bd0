"""Dump .explain('formatted') for every benched query into plans/r07/.

Usage: python tools/dump_plans.py <suffix> [query ...]
e.g.   python tools/dump_plans.py before
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r07"
    )
    os.makedirs(out_dir, exist_ok=True)

    from data_reconciliation_spark.config import BlockingConfig
    from data_reconciliation_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from data_reconciliation_spark.plans import driver_queries as dq
    from data_reconciliation_spark.session import build_session

    spark = build_session(
        app_name="dump-plans",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "50000"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def bench_minhash_df():
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return minhash_lsh_pairs(
            docs,
            cfg=BlockingConfig(shingle_size=1, num_hashes=32, bands=2),
            verify_threshold=1.0,
        )

    def bench_simhash_df():
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return simhash_pairs(docs, max_hamming=6, n_chunks=8)

    plans = {
        "reconcile_exceptions": lambda: dq.q_reconcile_exceptions(spark, sf_dir),
        "j1_full_outer_merge": lambda: dq.q_j1_full_outer_merge(spark, sf_dir),
        "f3_tolerance": lambda: dq.q_f3_tolerance_with_coercion(spark, sf_dir),
        "a9_dedup_gate_24h": lambda: dq.q_a9_dedup_gate_24h(spark, sf_dir),
        "dedup_exact": lambda: dq.q_dedup_exact(spark, sf_dir),
        "minhash_lsh_pairs": bench_minhash_df,
        "simhash_pairs": bench_simhash_df,
        "ann_cosine_topk": lambda: dq.q_ann_cosine_topk(spark, sf_dir),
        "text_stats": lambda: dq.q_text_stats(spark, sf_dir),
    }
    for name, fn in plans.items():
        if only and name not in only:
            continue
        df = fn()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
