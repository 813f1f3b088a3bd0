"""Spans around public calls, Spark job statistics per span, and host
counters.

Nothing inside ``data_reconciliation_spark`` is instrumented.  A span
wraps a call into one layer's public function from the benchmark's own
code and runs every Spark job that call launches under its own job group.
After a traced pass the jobs of each group are read back from the
application status store (the same py4j route as
``tools/profile_link_overhead.py::_jobs_snapshot``), so the spans stay in
memory until the pass is over and are written out once per run.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

LAYERS = ("pipeline", "blocking", "scoring", "cluster", "reconcile", "dedup")
COMMON = ("jobs", "tasks", "shuffle_write_mb", "spill_mb", "gc_s", "driver_gap_s", "self_s")

# Per-layer metric names, in the order BENCHMARK.json lists them.  A
# workload that never enters a layer reports that layer's metrics as 0.
PER_LAYER = tuple(f"{layer}.{m}" for layer in LAYERS for m in COMMON) + (
    "scoring.prep_s",
    "scoring.score_s",
    "scoring.pairs_scored",
    "scoring.udf_pairs",
    "scoring.prefilter_pass_frac",
    "scoring.match_frac",
    "scoring.persist_mb",
    "blocking.candidates_s",
    "blocking.block_rows",
    "blocking.candidate_pairs",
    "blocking.dedup_ratio",
    "cluster.closure_s",
    "cluster.edges_in",
    "cluster.rounds",
    "cluster.checkpoint_s",
    "pipeline.regime_count_s",
    "pipeline.labels_s",
    "reconcile.call_s",
    "reconcile.metrics_s",
    "reconcile.exceptions_s",
    "reconcile.rows_joined",
    "reconcile.exception_rows",
    "dedup.minhash_s",
    "dedup.minhash_pairs",
    "dedup.simhash_s",
    "dedup.simhash_pairs",
    "lifecycle.leaked_cached_rdds",
    "host.steal_frac",
    "host.cpu_util",
    "host.peak_rss_mb",
    "trace.overhead_frac",
    "trace.self_cover_frac",
)

MB = float(1 << 20)


def unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith(("_frac", "_ratio", "_util")):
        return "frac"
    return "count"


def _union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    """Spans of one traced pass.  Each span runs its jobs under the job
    group ``perfbench-<pass>-<span>``; :meth:`finish` reads the jobs
    back and folds spans and jobs into per-layer metrics."""

    def __init__(self, spark, pass_no: int):
        self.sc = spark.sparkContext
        self.pass_no = pass_no
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self.jobs: dict[int, list[dict]] = {}

    def _group(self, span: dict) -> str:
        return f"perfbench-{self.pass_no}-{span['id']}"

    def _enter_group(self) -> None:
        if self._open:
            top = self._open[-1]
            self.sc.setJobGroup(self._group(top), f"{top['layer']}.{top['name']}")
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, layer: str | None, name: str):
        rec = {
            "id": len(self.spans),
            "parent": self._open[-1]["id"] if self._open else None,
            "layer": layer,
            "name": name,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec)
        self._enter_group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self._enter_group()

    def span_named(self, layer: str, name: str) -> dict:
        return next(s for s in self.spans if s["layer"] == layer and s["name"] == name)

    def busy_s(self, span: dict, name_part: str = "") -> float:
        """Wall time inside ``span`` during which one of its jobs ran
        (only jobs whose name contains ``name_part``)."""
        return _union_length(
            (max(j["submit"], span["start"]), min(j["complete"], span["end"]))
            for j in self.jobs.get(span["id"], ())
            if name_part in j["name"]
        )

    def collect_jobs(self) -> None:
        """Read every job of this pass's groups from the status store.
        Each stage is counted once, in the first job that ran it."""
        from py4j.protocol import Py4JError

        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Py4JError:
            time.sleep(1.0)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen: set[int] = set()
        found = []
        for span in self.spans:
            for jid in tracker.getJobIdsForGroup(self._group(span)):
                found.append((jid, span["id"]))
        for jid, sid in sorted(found):
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if not sub.isDefined():
                continue
            job = {
                "id": jid,
                "name": jd.name(),
                "submit": sub.get().getTime() / 1000.0,
                "complete": (comp.get().getTime() if comp.isDefined() else time.time() * 1000)
                / 1000.0,
                "tasks": 0,
                "shuffle_write_b": 0,
                "spill_b": 0,
                "gc_ms": 0,
            }
            stage_ids = jd.stageIds()
            for k in range(stage_ids.size()):
                st = int(stage_ids.apply(k))
                if st in seen:
                    continue
                seen.add(st)
                try:
                    sd = store.lastStageAttempt(st)
                except Py4JError:
                    continue
                if sd.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                job["tasks"] += sd.numCompleteTasks()
                job["shuffle_write_b"] += sd.shuffleWriteBytes()
                job["spill_b"] += sd.diskBytesSpilled()
                job["gc_ms"] += sd.jvmGcTime()
            self.jobs.setdefault(sid, []).append(job)

    def finish(self) -> tuple[dict, dict]:
        """Per-layer metrics of this pass, and its serializable record.

        A span's self time is its duration minus the part its child
        spans cover; its driver gap is the part of its self time during
        which none of its own jobs ran.  The root span (layer None) is
        the whole pass; its self time is benchmark glue, so
        ``trace.self_cover_frac`` is the share of the pass the layer
        spans account for."""
        self.collect_jobs()
        m = {f"{layer}.{c}": 0.0 for layer in LAYERS for c in COMMON}
        root = self.spans[0]
        wall = root["end"] - root["start"]
        for s in self.spans:
            kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]]
            dur = s["end"] - s["start"]
            self_t = dur - _union_length(kids)
            s["self_s"] = self_t
            if s["layer"] is None:
                m["trace.self_cover_frac"] = 1.0 - self_t / wall if wall > 0 else 0.0
                continue
            lay = s["layer"]
            jobs = self.jobs.get(s["id"], [])
            m[f"{lay}.{s['name']}_s"] = m.get(f"{lay}.{s['name']}_s", 0.0) + dur
            m[f"{lay}.self_s"] += self_t
            m[f"{lay}.jobs"] += len(jobs)
            m[f"{lay}.tasks"] += sum(j["tasks"] for j in jobs)
            m[f"{lay}.shuffle_write_mb"] += sum(j["shuffle_write_b"] for j in jobs) / MB
            m[f"{lay}.spill_mb"] += sum(j["spill_b"] for j in jobs) / MB
            m[f"{lay}.gc_s"] += sum(j["gc_ms"] for j in jobs) / 1000.0
            m[f"{lay}.driver_gap_s"] += max(0.0, self_t - self.busy_s(s))
        record = {"pass": self.pass_no, "wall_s": wall, "spans": self.spans, "jobs": self.jobs}
        return m, record


# ---------------------------------------------------------------------------
# host counters
# ---------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_jiffies() -> tuple[int, int, int]:
    """(busy, total, steal) jiffies summed over the machine's CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    idle = vals[3] + vals[4]
    total = sum(vals[:8])
    return total - idle, total, vals[7]


class HostWindow:
    """Machine-wide CPU use and hypervisor steal over a window, the
    ``_steal_sec`` pattern of ``bench.py``."""

    def __init__(self):
        self.t0 = time.time()
        self.j0 = cpu_jiffies()

    def read(self) -> dict:
        busy, total, steal = (b - a for a, b in zip(self.j0, cpu_jiffies()))
        wall = max(time.time() - self.t0, 1e-9)
        return {
            "host.steal_frac": steal / _CLK / (wall * (os.cpu_count() or 1)),
            "host.cpu_util": busy / total if total else 0.0,
        }


def _tree_stats(root_pid: int) -> list[tuple[int, float]]:
    """(resident bytes, CPU seconds) of every live process in
    ``root_pid``'s tree.  CPU seconds are user + system time, with the
    children each process has reaped."""
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[int, float]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        children.setdefault(int(fields[1]), []).append(int(d))
        stats[int(d)] = (pages * _PAGE, sum(int(x) for x in fields[11:15]) / _CLK)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    return sum(rss for rss, _ in _tree_stats(root_pid))


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process (the driver) and the
    JVM's process tree (the JVM and its Python workers).  Hypervisor
    steal is not charged to a process, so, unlike wall time, this does
    not grow when other guests take the host's CPUs."""
    own = os.times()
    return own.user + own.system + sum(c for _, c in _tree_stats(jvm_pid))


class RssSampler:
    """Peak resident memory of the driver JVM plus its Python workers
    (the JVM's whole process tree), sampled every ``period`` seconds on
    a background thread."""

    def __init__(self, jvm_pid: int, period: float = 0.2):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(self.jvm_pid))
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(self.jvm_pid))
