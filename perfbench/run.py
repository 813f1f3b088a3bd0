"""Seeded benchmark of the data_reconciliation_spark public API.

Run from the root of a checkout:

    python3 perfbench/run.py --workload er_dense --seed 1 --seconds 8 --trace 0

One driver process runs ``local[nproc]`` and sends one operation at a
time (a closed loop).  The last line of standard output is one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of the traced run with ``--trace 1``.  The line before it,
prefixed ``perfbench:``, holds the workload's own figures and every
operation's time.  perfbench/README.md defines the metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

WARMUP_OPS = 2          # untimed operations before the timed loop
MIN_OPS = 5             # timed operations per run, however long they take
TRACED_PASSES = 2       # traced passes per --trace 1 run
DRIVER_MEMORY = "3g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, help="a workload, or 'all' to run each in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="summed operation time to measure")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="small inputs and a single traced pass")
    return ap.parse_args(argv)


# ---------------------------------------------------------------------------
# session lifecycle: every file Spark, the JVM and Python write goes under
# a scratch directory inside the benchmark's own output directory
# ---------------------------------------------------------------------------


def start_session(tmp: str, cpus: int):
    from data_reconciliation_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the context, then the driver JVM, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def warm_page_cache(root: str) -> None:
    """Read every file of the package once.  The inputs are generated in
    memory, so the files a cold run would read from disk are the modules
    the driver and its Python workers import (the DAMON note in bench.py:
    idle page cache is reclaimed on this kind of host)."""
    for d, _, files in os.walk(root):
        for name in files:
            with open(os.path.join(d, name), "rb") as f:
                while f.read(1 << 22):
                    pass


def persistent_rdds(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(str(k)) for k in jmap.keySet().toArray()}


# ---------------------------------------------------------------------------
# the closed loop
# ---------------------------------------------------------------------------

# end-to-end metrics (--trace 0) and their units, as BENCHMARK.json lists them
END_TO_END = {"setup_s": "s", "op_cpu_s_p50": "s", "ok_op_frac": "frac"}

# the workload's own end-to-end figures in the perfbench: line, each
# reported where it applies
FIGURES = {
    "setup_s": "s",
    "op_s_p50": "s",
    "op_cpu_s_p50": "s",
    "pairs_scored_per_s": "1/s",
    "cells_compared_per_s": "1/s",
    "docs_per_s": "1/s",
    "pairwise_f1": "frac",
    "cluster_f1": "frac",
    "failed_op_frac": "frac",
    "peak_rss_mb": "MB",
}


def settle(spark) -> None:
    """Collect garbage in the driver and the JVM, so that each operation
    starts from the same heap and the previous one's released data is
    cleaned up before the timing, not during it."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def closed_loop(wl, spark, seconds: float, min_ops: int) -> dict:
    """Operations one at a time until their summed time, failed ones
    included, reaches ``seconds`` and at least ``min_ops`` ran.  Each
    operation's wall time and CPU time are taken alone; the settle
    before it and its output check run outside them."""
    import tracing

    pid = jvm_pid()
    times, cpu, work, attempted, failed, errors, spent = [], [], 0, 0, 0, [], 0.0
    while attempted < min_ops or spent < seconds:
        attempted += 1
        settle(spark)
        c0 = tracing.cpu_s(pid)
        t0 = time.perf_counter()
        try:
            out = wl.op()
        except Exception:  # an operation that raises counts as failed
            spent += time.perf_counter() - t0
            failed += 1
            errors.append(traceback.format_exc(limit=3))
            continue
        times.append(time.perf_counter() - t0)
        cpu.append(tracing.cpu_s(pid) - c0)
        spent += times[-1]
        err = wl.check(out)
        if err:
            failed += 1
            errors.append(err)
        work += out["work"]
    return {"times": times, "cpu": cpu, "work": work, "attempted": attempted, "failed": failed, "errors": errors}


def traced_run(wl, spark, passes: int) -> tuple[dict, list, int, list]:
    """``passes`` traced passes; per-layer metrics are their medians."""
    import tracing

    metrics, records, failed, errors = [], [], 0, []
    host = tracing.HostWindow()
    for p in range(passes):
        settle(spark)
        try:
            m, rec, err = wl.traced_pass(tracing.Tracer(spark, p))
        except Exception:
            failed += 1
            errors.append(traceback.format_exc(limit=3))
            continue
        if err:
            failed += 1
            errors.append(err)
        metrics.append(m)
        records.append(rec)
    per_layer = {
        k: statistics.median(float(m.get(k, 0.0)) for m in metrics) if metrics else 0.0
        for k in tracing.PER_LAYER
    }
    per_layer.update(host.read())
    return per_layer, records, failed, errors


def run(args, tmp: str) -> dict:
    import tracing
    import workloads

    wl = workloads.make(args.workload, args.seed, args.smoke)
    cpus = len(os.sched_getaffinity(0))

    # set-up: the session start, the page-cache warm and the inputs,
    # then WARMUP_OPS untimed operations.  The first absorbs codegen and
    # Python-worker spawn; the JVM's JIT keeps cutting an operation's
    # CPU time for several more, and timed operations taken on that
    # slope would spread with it.
    t0 = time.perf_counter()
    spark = start_session(tmp, cpus)
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm_page_cache(os.path.join(ROOT, "data_reconciliation_spark"))
    wl.setup(spark)
    build_s = time.perf_counter() - t0
    warmup_s = []
    for i in range(WARMUP_OPS):
        t0 = time.perf_counter()
        warm = wl.op(keep=i == WARMUP_OPS - 1)
        warmup_s.append(time.perf_counter() - t0)
    setup_s = session_s + build_s + sum(warmup_s)
    input_rdds = persistent_rdds(spark)

    # outside all timing: the oracle, the last warm-up's check, the F1
    # figures
    wl.prepare_oracle()
    err = wl.check(warm)
    quality, q_err = wl.quality(warm)
    wl.release(warm)
    errors = [e for e in (err, q_err) if e]

    host = tracing.HostWindow()
    with tracing.RssSampler(jvm_pid()) as rss:
        # a traced run spends half its time on the untraced baseline
        loop = closed_loop(wl, spark, args.seconds / 2 if args.trace else args.seconds, MIN_OPS)
    leaked = len(persistent_rdds(spark) - input_rdds)
    attempted, failed, times = loop["attempted"], loop["failed"], loop["times"]
    errors += loop["errors"]
    p50 = statistics.median(times) if times else float("nan")
    cpu_p50 = statistics.median(loop["cpu"]) if times else float("nan")
    figures = {
        "setup_s": setup_s,
        "op_s_p50": p50,
        "op_cpu_s_p50": cpu_p50,
        f"{wl.work_name}_per_s": loop["work"] / sum(times) if times else 0.0,
        **quality,
        "failed_op_frac": failed / attempted,
        "peak_rss_mb": rss.peak / tracing.MB,
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cpus,
        "records": wl.records,
        "figures": {k: {"value": v, "unit": FIGURES[k]} for k, v in figures.items()},
        "op_s": times,
        "op_cpu_s": loop["cpu"],
        "session_s": session_s,
        "build_s": build_s,
        "warmup_s": warmup_s,
        "leaked_cached_rdds": leaked,
        **host.read(),
    }

    if args.trace:
        passes = 1 if args.smoke else TRACED_PASSES
        metrics, records, t_failed, t_errors = traced_run(wl, spark, passes)
        attempted += passes
        failed += t_failed
        errors += t_errors
        walls = [r["wall_s"] for r in records]
        metrics["lifecycle.leaked_cached_rdds"] = leaked
        metrics["host.peak_rss_mb"] = figures["peak_rss_mb"]
        metrics["trace.overhead_frac"] = (statistics.median(walls) - p50) / p50 if walls else 0.0
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"trace-{args.workload}-s{args.seed}-{int(time.time())}-{os.getpid()}.json")
        with open(path, "w") as f:
            json.dump({"report": report, "metrics": metrics, "passes": records}, f, default=str)
        report["trace_file"] = os.path.relpath(path, ROOT)
        units = {k: tracing.unit(k) for k in metrics}
    else:
        metrics = {
            "setup_s": setup_s,
            "op_cpu_s_p50": cpu_p50,
            "ok_op_frac": 1.0 - failed / attempted,
        }
        units = END_TO_END

    report["errors"] = errors
    print("perfbench: " + json.dumps(report, default=str))
    for e in errors:
        print(e, file=sys.stderr)
    return {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def run_all(args) -> int:
    """Every workload in turn, each in a process of its own; prints each
    one's end-to-end figures by name, with their units."""
    import workloads

    ok = True
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.splitlines()
        reports = [json.loads(ln[len("perfbench: "):]) for ln in lines if ln.startswith("perfbench: ")]
        if proc.returncode or not reports:
            ok = False
            print(f"{name}: exit {proc.returncode}")
            sys.stderr.write(proc.stderr[-3000:])
            continue
        ok = ok and json.loads(lines[-1])["correct"]
        for k, f in reports[0]["figures"].items():
            print(f"{name:20s} {k:22s} {f['value']:16.4f} {f['unit']}")
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "data_reconciliation_spark", "__init__.py")):
        print(f"perfbench: no data_reconciliation_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload == "all":
        return run_all(args)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # Spark scratch, the JVM's temp files, Python's tempfile and the
    # warehouse all land in one directory removed at exit
    tmp = os.path.join(OUT, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # the Python workers import the package from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None
    try:
        result = run(args, tmp)
    finally:
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
