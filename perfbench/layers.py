"""Per-layer measurement from outside the program.

Layers are named after the package's modules (``session``, ``registry``,
``operators``, ``sources``) plus ``spark`` and ``streaming`` for the
runtime beneath them.  ``spark.*`` values come from Spark's own records:
the application status store (jobs and stages), each forcing action's
``QueryPlanningTracker`` and, for streaming, the progress events a
benchmark-registered ``StreamingQueryListener`` receives.

``LAYER_TARGETS`` records which end-to-end metric each layer metric
should move, and on which workload, so a performance change can cite
the pairing by name.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

#: layer metric -> [(end-to-end metric, workload), ...].  ``peak_rss_mb``
#: is reported in the detail record only (it is too noisy to bound).
LAYER_TARGETS: dict[str, list[tuple[str, str]]] = {
    **{m: [("setup_s", "*")] for m in (
        "session.get_spark_s", "registry.load_s", "warmup_s")},
    **{m: [("pass_s", "driver_iterative")] for m in (
        "operators.build_s", "spark.jobs", "spark.stages", "spark.tasks",
        "spark.plan_s", "spark.driver_gap_s")},
    **{m: [("pass_s", "stream_open_loop"),
           ("latency_p50_s", "stream_open_loop")] for m in (
        "operators.force_s", "spark.executor_run_s", "spark.executor_cpu_s",
        "spark.input_bytes", "spark.shuffle_read_bytes",
        "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.core_util")},
    "spark.gc_s": [("pass_s", "stream_open_loop"), ("peak_rss_mb", "*")],
    **{m: [("pass_s", "stream_open_loop"),
           ("latency_p50_s", "stream_open_loop"),
           ("latency_p90_s", "stream_open_loop")] for m in (
        "streaming.triggers", "streaming.trigger_s", "streaming.add_batch_s",
        "streaming.query_planning_s", "streaming.wal_commit_s",
        "streaming.commit_offsets_s", "streaming.latest_offset_s",
        "streaming.state_commit_s", "streaming.outside_trigger_s")},
    **{m: [("peak_rss_mb", "stream_open_loop")] for m in (
        "streaming.state_rows", "streaming.state_bytes")},
    **{m: [("latency_p90_s", "stream_open_loop")] for m in (
        "sources.backlog_files", "streaming.idle_share", "generator.late_s")},
}


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants, in MB."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total / 2**20


class RssSampler(threading.Thread):
    """Samples this process tree's RSS (Python driver, Spark JVM and its
    Python workers) every ``period`` seconds while running."""

    def __init__(self, period: float = 0.1):
        super().__init__(name="perfbench-rss", daemon=True)
        self.period = period
        self.peak_mb = 0.0
        self.samples = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        root = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            self.samples += 1
            if self._stop_evt.wait(self.period):
                return

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=10)
        return self.peak_mb


class ProgressListener(StreamingQueryListener):
    """Keeps every streaming progress event; ``for_query`` picks one
    query's events in batch order."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self.lock:
            self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def for_query(self, query_id: str) -> list:
        with self.lock:
            return sorted((p for p in self.progress if str(p.id) == query_id),
                          key=lambda p: p.batchId)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(since: tuple[int, int]) -> float:
    """Share of the machine's CPU time since ``since`` (a ``cpu_ticks()``
    reading) that the hypervisor gave to other guests."""
    steal, total = cpu_ticks()
    return (steal - since[0]) / max(total - since[1], 1)


def planning_s(df) -> float:
    """Analysis + optimization + planning time of ``df``'s last action."""
    phases = df._jdf.queryExecution().tracker().phases()
    return sum(phases.apply(k).durationMs()
               for k in ("analysis", "optimization", "planning")
               if phases.contains(k)) / 1000.0


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def spark_layers(spark, start_s: float, end_s: float, cores: int) -> dict:
    """Totals over the jobs submitted in [start_s, end_s] (epoch seconds),
    read from the application status store after the fact."""
    store = spark.sparkContext._jsc.sc().statusStore()
    lo, hi = int(start_s * 1000), int(end_s * 1000)
    spans, stage_ids = [], set()
    for job in _seq(store.jobsList(None)):
        sub = _ms(job.submissionTime())
        if sub is None or not lo <= sub <= hi:
            continue
        spans.append((sub, _ms(job.completionTime()) or hi))
        stage_ids.update(_seq(job.stageIds()))
    totals = dict.fromkeys((
        "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
        "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes"), 0.0)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # a skipped stage has no attempt in the store
            continue
        if st.status().toString() == "SKIPPED":
            continue
        totals["stages"] += 1
        totals["tasks"] += st.numCompleteTasks()
        totals["executor_run_s"] += st.executorRunTime() / 1e3
        totals["executor_cpu_s"] += st.executorCpuTime() / 1e9
        totals["gc_s"] += st.jvmGcTime() / 1e3
        totals["input_bytes"] += st.inputBytes()
        totals["shuffle_read_bytes"] += st.shuffleReadBytes()
        totals["shuffle_write_bytes"] += st.shuffleWriteBytes()
        totals["spill_bytes"] += (st.memoryBytesSpilled()
                                  + st.diskBytesSpilled())
    covered, cursor = 0, lo
    for a, b in sorted(spans):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            covered += b - a
            cursor = b
    wall = max(end_s - start_s, 1e-9)
    totals["jobs"] = len(spans)
    totals["driver_gap_s"] = wall - covered / 1000.0
    totals["core_util"] = totals["executor_run_s"] / (wall * cores)
    return totals


def streaming_layers(progress: list, wall_s: float) -> dict:
    """Per-trigger phases and state metrics from streaming progress."""
    def dur(p, key):
        return p.durationMs.get(key, 0) / 1000.0

    trig = [dur(p, "triggerExecution") for p in progress]
    state = [op for p in progress for op in p.stateOperators]
    last = progress[-1].stateOperators if progress else []
    busy = sum(trig)
    return {
        "streaming.triggers": len(progress),
        "streaming.trigger_s": statistics.median(trig) if trig else 0.0,
        "streaming.add_batch_s": sum(dur(p, "addBatch") for p in progress),
        "streaming.query_planning_s": sum(
            dur(p, "queryPlanning") for p in progress),
        "streaming.wal_commit_s": sum(dur(p, "walCommit") for p in progress),
        "streaming.commit_offsets_s": sum(
            dur(p, "commitOffsets") for p in progress),
        "streaming.latest_offset_s": sum(
            dur(p, "latestOffset") for p in progress),
        "streaming.state_commit_s": sum(op.commitTimeMs for op in state)
        / 1000.0,
        "streaming.outside_trigger_s": max(wall_s - busy, 0.0),
        "streaming.idle_share": max(wall_s - busy, 0.0) / wall_s,
        "streaming.state_rows": sum(op.numRowsTotal for op in last),
        "streaming.state_bytes": sum(op.memoryUsedBytes for op in last),
    }


def wait_until(predicate, timeout: float, period: float = 0.02) -> bool:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if predicate():
            return True
        time.sleep(period)
    return predicate()
