"""Locate link()'s fixed per-pass overhead job by job.

Round-5 verdict: solving the two e2e scaling legs for a fixed+parallel
split showed ~24s of NON-SCALING time per pass spread across many short
jobs.  This tool makes that visible: it runs one steady-state link()
pass (after two warmups) and dumps every Spark job the pass scheduled —
name/callsite, wall duration, task count — plus the DRIVER GAPS between
consecutive jobs (planning, Arrow collects, python-side work), from the
AppStatusStore.  Fixed cost candidates are (a) many short jobs, (b) long
gaps, (c) jobs whose duration doesn't shrink with cores.

Usage: python tools/profile_link_overhead.py [--pages 100000] [--cores 32]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _jobs_snapshot(spark):
    """All jobs in the status store: (id, name, submit_ms, complete_ms,
    num_tasks)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    out = []
    for i in range(seq.size()):
        jd = seq.apply(i)
        sub = jd.submissionTime()
        comp = jd.completionTime()
        out.append(
            {
                "id": jd.jobId(),
                "name": jd.name(),
                "submit": sub.get().getTime() if sub.isDefined() else None,
                "complete": comp.get().getTime() if comp.isDefined() else None,
                "tasks": jd.numTasks(),
            }
        )
    out.sort(key=lambda j: j["id"])
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=100_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--warmups", type=int, default=2)
    ap.add_argument("--write-scale-md", action="store_true",
                    help="persist BENCH/link_overhead.json and render the "
                         "LINK-OVERHEAD block in docs/SCALE.md")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    from data_reconciliation_spark.plans.pipeline import link
    from data_reconciliation_spark.session import build_session
    from data_reconciliation_spark.testgen import generate_pages

    spark = build_session(
        app_name=f"link-overhead-{args.cores}",
        master=f"local[{args.cores}]",
        shuffle_partitions=128,
        extra_conf={
            "spark.driver.extraJavaOptions": "-XX:+UseG1GC -Xms32g "
            "-XX:+AlwaysPreTouch -XX:G1HeapRegionSize=32m",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "50000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    pages = generate_pages(
        spark,
        n_rows=args.pages,
        n_entities=args.pages // 16,
        n_hosts=max(50, args.pages // 32),
        partitions=128,
    ).persist()
    pages.count()

    def one_pass():
        t0 = time.time()
        res = link(pages)
        n_pairs = res.scored_pairs.count()
        n_clusters = res.clusters.count()
        elapsed = time.time() - t0
        res.release()
        return elapsed, n_pairs, n_clusters

    for w in range(args.warmups):
        e, np_, nc = one_pass()
        print(f"[warmup {w}] {e:.2f}s pairs={np_} clusters={nc}", file=sys.stderr)

    before = _jobs_snapshot(spark)
    last_id = before[-1]["id"] if before else -1
    t0 = time.time()
    elapsed, n_pairs, n_clusters = one_pass()
    t_end = time.time()
    after = _jobs_snapshot(spark)
    jobs = [j for j in after if j["id"] > last_id and j["submit"]]

    print(f"\n=== pass: {elapsed:.2f}s, {len(jobs)} jobs, pairs={n_pairs}, "
          f"clusters={n_clusters}, cores={args.cores} ===")
    wall0 = t0 * 1000
    prev_end = wall0
    total_job = 0.0
    total_gap = 0.0
    print(f"{'job':>4} {'start+s':>8} {'dur_s':>7} {'gap_s':>7} {'tasks':>6}  name")
    for j in jobs:
        dur = ((j["complete"] or t_end * 1000) - j["submit"]) / 1000
        gap = max(0.0, (j["submit"] - prev_end) / 1000)
        total_job += dur
        total_gap += gap
        prev_end = max(prev_end, j["complete"] or t_end * 1000)
        name = j["name"][:95]
        print(
            f"{j['id']:>4} {(j['submit'] - wall0) / 1000:>8.2f} {dur:>7.2f} "
            f"{gap:>7.2f} {j['tasks']:>6}  {name}"
        )
    tail_gap = max(0.0, t_end * 1000 - prev_end) / 1000
    print(
        f"\nwall={elapsed:.2f}s  sum(job_dur)={total_job:.2f}s  "
        f"sum(gaps)={total_gap:.2f}s  tail_gap={tail_gap:.2f}s"
    )

    if "--write-scale-md" in sys.argv:
        # persist the itemization and render it into docs/SCALE.md
        # between the LINK-OVERHEAD markers (same machine-written
        # discipline as the closure profile; round-6 verdict #5) —
        # tools/check_headline_sync.py validates block == artifact.
        import json

        from data_reconciliation_spark.benchfmt import rewrite_link_overhead

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        top = sorted(jobs, key=lambda j: (
            -(((j["complete"] or t_end * 1000) - j["submit"]) / 1000)))[:5]
        payload = {
            "pages": args.pages,
            "cores": args.cores,
            "wall_s": round(elapsed, 2),
            "n_jobs": len(jobs),
            "sum_job_s": round(total_job, 2),
            "sum_gap_s": round(total_gap, 2),
            "top_jobs": [
                {
                    "id": j["id"],
                    "start_s": round((j["submit"] - wall0) / 1000, 2),
                    "dur_s": round(
                        ((j["complete"] or t_end * 1000) - j["submit"]) / 1000, 2
                    ),
                    "tasks": j["tasks"],
                    "name": j["name"].split(" at ")[0][:60],
                }
                for j in sorted(top, key=lambda j: j["id"])
            ],
        }
        with open(os.path.join(repo, "BENCH", "link_overhead.json"), "w") as f:
            json.dump(payload, f, indent=1)
            f.write("\n")
        rewrite_link_overhead(os.path.join(repo, "docs", "SCALE.md"), payload)
        print("wrote BENCH/link_overhead.json + docs/SCALE.md LINK-OVERHEAD block")
    spark.stop()


if __name__ == "__main__":
    main()
