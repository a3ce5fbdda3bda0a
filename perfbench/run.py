#!/usr/bin/env python3
"""The repository benchmark: one workload per run, end to end or traced.

Usage (from the repository root):

    python3 perfbench/run.py --workload driver_iterative --seed 1 \
        --seconds 15 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``driver_iterative``: a fixed-schedule iterative operator whose wall is
  mostly Python-side plan building and tiny Spark jobs, in a closed loop
  over a seeded, multi-row-group sf0.01 ``part`` table.
- ``stream_open_loop``: the reference job, fed JSON event files on a
  fixed schedule, timed per file from when it was due.

The run stages its inputs from ``--seed`` under ``.perfbench/`` in the
working directory, points Spark's scratch space there too, and removes
it on exit.  The last stdout line is the result record; the line before
it is a detail record (self-description, sample counts, oracle checks,
every layer metric, and the layer-to-end-to-end mapping).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

from check import duckdb_views, fingerprint, oracle_matches  # noqa: E402
from inputs import EventGenerator, stage_part  # noqa: E402
from layers import (  # noqa: E402
    LAYER_TARGETS, ProgressListener, RssSampler, cpu_ticks, descendants,
    planning_s, spark_layers, streaming_layers, steal_share, wait_until)

ITERATIVE_SF = 0.01
ITERATIVE_QUERIES = ("dedup_entity_resolution_parts",)
SMOKE_SF = 0.001
FILES_PER_S = 8
EVENTS_PER_FILE = 250
#: An open-loop file not reflected in any sink output this long after it
#: was due counts as failed.
REFLECT_LIMIT_S = 10.0
#: Untimed passes before the closed loop's timed window.  The JVM is
#: still warming through the fourth pass: after two warm passes, the
#: timed passes on 4 cores fell from ~5.8 s to ~4.5 s (passes 3 to 5),
#: and a window on that slope magnified host noise.  From the fifth pass
#: on they stay within ~10% of each other.
WARM_PASSES = 4
#: Data batches before the open loop's timed window: trigger time falls
#: from ~1.4 s to ~0.9 s over the first ten batches as the JVM warms.
WARM_BATCHES = 8

WORKLOADS = ("driver_iterative", "stream_open_loop")
END_TO_END = {"setup_s": "s", "pass_s": "s", "latency_p50_s": "s",
              "latency_p90_s": "s"}
#: Measured and reported in the detail record, but too noisy to bound:
#: the JVM grows its heap at the collector's discretion (peak RSS spread
#: 25% across seeds on one tree).
UNBOUNDED = {"peak_rss_mb": "MB"}
PER_LAYER = {
    "session.get_spark_s": "s", "registry.load_s": "s", "warmup_s": "s",
    "operators.build_s": "s", "operators.force_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.plan_s": "s", "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.core_util": "ratio",
}


#: A percentile is reported only when at least ten samples lie beyond it,
#: so the 90th needs 100.
P90_MIN_SAMPLES = 100


def latency_percentiles(values: list[float]) -> dict:
    """Median and nearest-rank 90th percentile of per-request latencies.
    Below ``P90_MIN_SAMPLES`` requests no percentile above the median is
    supported, so the median is reported for both."""
    ordered = sorted(values)
    p50 = statistics.median(ordered)
    p90 = (ordered[math.ceil(0.9 * len(ordered)) - 1]
           if len(ordered) >= P90_MIN_SAMPLES else p50)
    return {"latency_p50_s": p50, "latency_p90_s": p90}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help=f"closed loops at sf{SMOKE_SF} (self-test)")
    return ap.parse_args(argv)


def _setup_environment(work: Path, cpus: int) -> dict:
    """Keep every file Spark and the engine write under ``work``."""
    for sub in ("tmp", "jtmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join((
        f"--driver-java-options -Djava.io.tmpdir={work / 'jtmp'}",
        "--conf spark.ui.retainedJobs=20000",
        "--conf spark.ui.retainedStages=20000",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ))
    return {k: os.environ[k] for k in
            ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}


def _commit() -> str:
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError as exc:
        return f"unknown ({exc.strerror})"
    return out.stdout.strip() if out.returncode == 0 else \
        "unknown (not a git checkout)"


class Bench:
    """One run of one workload."""

    def __init__(self, args: argparse.Namespace, work: Path):
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.cpus = len(os.sched_getaffinity(0))
        self.env = _setup_environment(work, self.cpus)
        self.layers: dict[str, float] = {}
        self.unavailable: dict[str, str] = {}
        self.samples: dict[str, int] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.oracle_checks = 0
        self.conf_leaks: list[str] = []
        self.extra: dict = {}
        self.spark = None

    # -- bookkeeping -------------------------------------------------------
    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def _conf(self) -> dict:
        return dict(self.spark.conf.getAll)

    def _note_conf_leak(self, name: str, before: dict) -> None:
        after = self._conf()
        for key in sorted(set(before) | set(after)):
            if before.get(key) != after.get(key):
                self.conf_leaks.append(f"{name}: {key}")

    # -- set-up --------------------------------------------------------------
    def setup(self) -> None:
        from kafka_stream_processing_spark import registry
        from kafka_stream_processing_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.specs = registry.all_specs()
        t2 = time.perf_counter()
        self.layers["session.get_spark_s"] = t1 - t0
        self.layers["registry.load_s"] = t2 - t1

    def run(self) -> dict:
        self.setup()
        if self.args.workload == "stream_open_loop":
            e2e = self.open_loop()
        else:
            e2e = self.closed_loop()
        e2e["setup_s"] = (self.layers["session.get_spark_s"]
                          + self.layers["registry.load_s"]
                          + self.layers["warmup_s"])
        return e2e

    # -- closed loop ---------------------------------------------------------
    def _stage(self, sf: float) -> str:
        data = str(self.work / "data")
        self.extra["input_rows"] = {"part": stage_part(data, sf,
                                                       self.args.seed)}
        self.extra["sf"] = sf
        return data

    def _execute(self, name: str, data: str, timings: dict | None):
        """Build, force and fingerprint one query; returns (df, fp)."""
        conf = self._conf()
        t0 = time.perf_counter()
        df = self.specs[name].fn(self.spark, data)
        t1 = time.perf_counter()
        fp, agg = fingerprint(df)
        t2 = time.perf_counter()
        if timings is not None:
            timings["build"] += t1 - t0
            timings["force"] += t2 - t1
            timings["walls"].append(t2 - t0)
            if self.trace:
                t3 = time.perf_counter()
                timings["plan"] += planning_s(agg)
                timings["trace_cost"] += time.perf_counter() - t3
        self._note_conf_leak(name, conf)
        return df, fp

    def closed_loop(self) -> dict:
        names = list(ITERATIVE_QUERIES)
        data = self._stage(SMOKE_SF if self.args.smoke else ITERATIVE_SF)
        self.extra["queries"] = names

        # Untimed warm-up passes; the last one's results are checked
        # against the oracle.
        t0 = time.perf_counter()
        warm = {}
        for _ in range(WARM_PASSES):
            for name in names:
                self.attempted += 1
                try:
                    warm[name] = self._execute(name, data, None)
                except Exception:
                    traceback.print_exc()
                    self.fail(f"{name}: warm-up raised")
        self.layers["warmup_s"] = time.perf_counter() - t0

        reference: dict[str, tuple[int, int]] = {}
        con = duckdb_views(data)
        try:
            for name, (df, fp) in warm.items():
                oracle = self.specs[name].oracle
                if oracle is None:
                    self.unavailable[f"oracle.{name}"] = "no oracle registered"
                    reference[name] = fp
                    continue
                self.attempted += 1
                self.oracle_checks += 1
                try:
                    problem = oracle_matches(self.spark, con, oracle, df, fp)
                except Exception:
                    traceback.print_exc()
                    problem = "oracle comparison raised"
                if problem:
                    self.fail(f"{name}: oracle mismatch: {problem}")
                else:
                    reference[name] = fp
        finally:
            con.close()

        sampler = RssSampler()
        sampler.start()
        ticks = cpu_ticks()
        timings = {"build": 0.0, "force": 0.0, "plan": 0.0,
                   "trace_cost": 0.0, "walls": []}
        passes = []
        window_start = time.time()
        deadline = time.perf_counter() + self.args.seconds
        while True:
            n_walls = len(timings["walls"])
            for name in names:
                self.attempted += 1
                try:
                    _, fp = self._execute(name, data, timings)
                except Exception:
                    traceback.print_exc()
                    self.fail(f"{name}: pass {len(passes)} raised")
                    continue
                if fp != reference.get(name):
                    self.fail(f"{name}: pass {len(passes)} fingerprint "
                              f"{fp} != verified {reference.get(name)}")
            passes.append(sum(timings["walls"][n_walls:]))
            if time.perf_counter() >= deadline:
                break
        window_end = time.time()
        peak = sampler.stop()
        self.extra["host_steal_share"] = steal_share(ticks)

        walls = timings["walls"]
        n = len(passes)
        self.extra["pass_walls_s"] = passes
        self.samples.update(pass_s=n, latency_p50_s=len(walls),
                            latency_p90_s=len(walls),
                            peak_rss_mb=sampler.samples)
        self.layers["operators.build_s"] = timings["build"] / n
        self.layers["operators.force_s"] = timings["force"] / n
        if self.trace:
            totals = spark_layers(self.spark, window_start, window_end,
                                  self.cpus)
            for key, value in totals.items():
                self.layers[f"spark.{key}"] = (
                    value if key == "core_util" else value / n)
            self.layers["spark.plan_s"] = timings["plan"] / n
            self.extra["trace_overhead_s"] = timings["trace_cost"] / n
            self.extra["trace_overhead_note"] = (
                "not traced minus untraced pass_s (each run is one "
                "process): the time per pass spent reading planning "
                "phases, outside the timed query intervals")
            self.unavailable.update(dict.fromkeys(
                (m for m in LAYER_TARGETS
                 if m.startswith(("streaming.", "sources.", "generator."))),
                "no streaming query in this workload"))
        if not walls:  # every query raised: nothing was timed
            return {"peak_rss_mb": peak}
        # One request is one query, so with a single query the latencies
        # are the pass walls, too few for a 90th percentile: both latency
        # metrics equal pass_s here.
        return {"pass_s": statistics.median(passes), "peak_rss_mb": peak,
                **latency_percentiles(walls)}

    # -- open loop -----------------------------------------------------------
    def open_loop(self) -> dict:
        from pyspark.sql import functions as F

        from kafka_stream_processing_spark.sources.kafka import (
            parse_event_payload, unique_users_topology)

        spark = self.spark
        watch = self.work / "events-in"
        watch.mkdir()
        listener = ProgressListener()
        spark.streams.addListener(listener)
        sink_done: dict[int, float] = {}
        sink_busy: dict[int, float] = {}
        latest: dict[str, int] = {}
        lock = threading.Lock()

        def sink(batch, batch_id: int) -> None:
            t0 = time.perf_counter()
            rows = batch.collect()
            done = time.time()
            with lock:
                for r in rows:
                    latest[r["key"]] = int(r["value"])
                sink_done[batch_id] = done
                sink_busy[batch_id] = time.perf_counter() - t0

        gen = EventGenerator(str(watch), self.args.seed, FILES_PER_S,
                             EVENTS_PER_FILE)
        t0 = time.perf_counter()
        raw = spark.readStream.format("text").load(str(watch))
        events = parse_event_payload(
            raw.withColumn("timestamp", F.current_timestamp()))
        counts = unique_users_topology(events, time_column="event_ts")
        query = (
            counts.writeStream.outputMode("update").foreachBatch(sink)
            .option("checkpointLocation", str(self.work / "checkpoint"))
            .start())
        build_s = time.perf_counter() - t0
        qid = str(query.id)

        def consumed_files() -> int:
            rows = sum(p.numInputRows for p in listener.for_query(qid))
            return rows // EVENTS_PER_FILE

        def warm() -> bool:
            return sum(1 for p in listener.for_query(qid)
                       if p.numInputRows > 0) >= WARM_BATCHES

        # One off-schedule file pays for the first trigger's compilation,
        # so the scheduled stream starts without a backlog.
        t_warm = time.perf_counter()
        gen.write_next(time.time())
        if not wait_until(lambda: consumed_files() >= 1, 120):
            raise RuntimeError("open loop: the first trigger never finished")
        gen.start()
        if not wait_until(warm, 60):
            raise RuntimeError("open loop: the stream never caught up")
        self.layers["warmup_s"] = time.perf_counter() - t_warm

        sampler = RssSampler()
        sampler.start()
        ticks = cpu_ticks()
        now = time.time()
        first = gen.scheduled_from + math.ceil(
            (now - gen.start_at) * FILES_PER_S)
        n_timed = int(round(self.args.seconds * FILES_PER_S))
        window_start = (gen.start_at
                        + (first - gen.scheduled_from) / FILES_PER_S)
        window_end = window_start + n_timed / FILES_PER_S
        time.sleep(max(0.0, window_end - time.time()))
        wait_until(lambda: len(gen.due) >= first + n_timed, 5)
        gen.stop()
        gen.join(timeout=10)
        if gen.error is not None:
            raise gen.error
        written = len(gen.due)

        wait_until(lambda: consumed_files() >= written
                   and all(p.batchId in sink_done
                           for p in listener.for_query(qid)),
                   REFLECT_LIMIT_S)
        drained = time.time()
        peak = sampler.stop()
        self.extra["host_steal_share"] = steal_share(ticks)
        query.stop()
        progress = listener.for_query(qid)
        spark.streams.removeListener(listener)

        # Map files to micro-batches through cumulative numInputRows.
        batch_of: list[int] = []
        for p in progress:
            files_done = (sum(q.numInputRows for q in progress
                              if q.batchId <= p.batchId) // EVENTS_PER_FILE)
            batch_of.extend([p.batchId] * (files_done - len(batch_of)))
        latencies = []
        for i in range(first, first + n_timed):
            self.attempted += 1
            b = batch_of[i] if i < len(batch_of) else None
            lat = (sink_done[b] - gen.due[i]) if b in sink_done else None
            if lat is None or lat > REFLECT_LIMIT_S:
                self.fail(f"file {i}: not reflected within "
                          f"{REFLECT_LIMIT_S:.0f} s of its due time")
            else:
                latencies.append(lat)

        # The final per-window counts must equal the generator's tally.
        self.attempted += 1
        expected = {time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(ws)):
                    len(users) for ws, users in gen.tally.items()}
        if latest != expected:
            self.fail(f"final window counts {latest} != tally {expected}")

        timed = [p for p in progress
                 if window_start <= sink_done.get(p.batchId, 0) <= drained]
        trig = [p.durationMs.get("triggerExecution", 0) / 1000.0
                for p in timed]
        wall = drained - window_start
        self.samples.update(pass_s=len(trig), latency_p50_s=len(latencies),
                            latency_p90_s=len(latencies),
                            peak_rss_mb=sampler.samples)
        self.layers["operators.build_s"] = build_s
        self.layers["operators.force_s"] = sum(
            sink_busy[p.batchId] for p in timed)
        self.extra.update(files_per_s=FILES_PER_S,
                          events_per_file=EVENTS_PER_FILE,
                          files_written=written, timed_files=n_timed)
        if self.trace:
            for key, value in spark_layers(spark, window_start, drained,
                                           self.cpus).items():
                self.layers[f"spark.{key}"] = value
            self.layers["spark.plan_s"] = sum(
                p.durationMs.get("queryPlanning", 0) for p in timed) / 1000.0
            self.layers.update(streaming_layers(timed, wall))
            backlog = 0
            for p in timed:
                at = sink_done[p.batchId]
                written_by = sum(1 for d, late in zip(gen.due, gen.late)
                                 if d + late <= at)
                before = sum(q.numInputRows for q in progress
                             if q.batchId < p.batchId) // EVENTS_PER_FILE
                backlog = max(backlog, written_by - before)
            self.layers["sources.backlog_files"] = backlog
            self.layers["generator.late_s"] = max(
                gen.late[first:first + n_timed])
            self.extra["trace_overhead_s"] = 0.0
            self.extra["trace_overhead_note"] = (
                "not traced minus untraced pass_s (each run is one "
                "process): the progress listener runs in both modes and "
                "every traced read happens after the window")
        e2e = {"peak_rss_mb": peak}
        if trig:
            e2e["pass_s"] = statistics.median(trig)
        if latencies:
            e2e.update(latency_percentiles(latencies))
        return e2e

    # -- teardown ------------------------------------------------------------
    def close(self) -> None:
        """Stop the stream, Spark, the JVM and its workers; wait for each."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        children = [p for p in descendants(os.getpid()) if p != os.getpid()]
        try:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
        finally:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            _reap(children)


def _reap(pids: list[int], timeout: float = 10.0) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}"):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited; its parent reaps it
            except OSError:
                break
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                break
            time.sleep(0.05)


def _sweep_stale(base: Path) -> None:
    """Remove work directories of runs that were killed."""
    for d in base.glob("*-*"):
        pid = d.name.rsplit("-", 1)[1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(d, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        from kafka_stream_processing_spark import registry  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from "
              f"{ROOT}: {exc}", file=sys.stderr)
        return 2
    import duckdb
    import pyspark

    # A run stopped by SIGTERM still tears down Spark and its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _sweep_stale(ROOT / ".perfbench")
    work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True)
    bench = Bench(args, work)
    try:
        e2e = bench.run()
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    metrics = ({k: (v, PER_LAYER[k]) for k, v in bench.layers.items()
                if k in PER_LAYER} if bench.trace else
               {k: (e2e[k], u) for k, u in END_TO_END.items() if k in e2e})
    expected = PER_LAYER if bench.trace else END_TO_END
    for key in expected:
        if key not in metrics:
            bench.unavailable.setdefault(key, "not measured in this run")
    correct = bench.failed == 0 and not bench.unavailable.keys() & expected
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "smoke": args.smoke,
        "nproc": bench.cpus, "env": bench.env,
        "versions": {"spark": pyspark.__version__,
                     "python": platform.python_version(),
                     "duckdb": duckdb.__version__},
        "commit": _commit(),
        "error_rate": bench.failed / max(bench.attempted, 1),
        "oracle_checks": bench.oracle_checks,
        "conf_leaks": len(bench.conf_leaks),
        "conf_leak_keys": sorted(set(bench.conf_leaks)),
        "failures": bench.failures,
        "end_to_end": {k: {"value": e2e.get(k), "unit": u,
                           "samples": bench.samples.get(k, 1)}
                       for k, u in {**END_TO_END, **UNBOUNDED}.items()},
        "layers": bench.layers,
        "unavailable": bench.unavailable,
        **bench.extra,
    }
    if bench.trace:
        detail["layer_targets"] = LAYER_TARGETS
    else:
        detail["layers_note"] = "per-layer metrics need --trace 1"
    print(json.dumps({"perfbench_detail": detail}, default=str))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
