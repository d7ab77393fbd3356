#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one process, one client.

    python3 perfbench/run.py --workload search_graph --seed 1 \\
        --seconds 5 --trace 0

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones
from a traced pass (spans and Spark's event log; see ``spans.py``), and
the spans go to ``perfbench/out/``.  The line before it is a summary
with the wall-clock latencies and rate, the tail latency, the error rate
and the warm-up count.  The exit code is 0 only when every check
passed.  See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "openai_vector_search_demo_spark"
CORES = 4

# (metric, unit, span name, rollup field, scale).  Spans named in
# SETUP_SPANS are summed over the run (they happen in setup); the others
# are summed per op and reported as the median over the ops that made
# them.  A layer a workload never calls reports 0.
SPAN_METRICS = [
    ("pipeline.ingest.wall_s", "s", "pipeline.ingest", "wall_s", 1),
    ("pipeline.ingest.jobs", "count", "pipeline.ingest", "jobs", 1),
    ("pipeline.ingest.in_job_s", "s", "pipeline.ingest", "in_job_s", 1),
    ("pipeline.ingest.driver_gap_s", "s", "pipeline.ingest",
     "driver_gap_s", 1),
    ("pipeline.ingest.task_s", "s", "pipeline.ingest", "task_s", 1),
    ("embedding.udf_s", "s", "embedding.udf", "wall_s", 1),
    ("embedding.query_ms", "ms", "embedding.query", "wall_s", 1000),
    ("dedup.wall_s", "s", "dedup", "wall_s", 1),
    ("dedup.jobs", "count", "dedup", "jobs", 1),
    ("dedup.shuffle_bytes", "B", "dedup", "shuffle_bytes", 1),
    ("line_dedup.wall_s", "s", "line_dedup", "wall_s", 1),
    ("line_dedup.jobs", "count", "line_dedup", "jobs", 1),
    ("line_dedup.shuffle_bytes", "B", "line_dedup", "shuffle_bytes", 1),
    ("repetition.wall_s", "s", "repetition", "wall_s", 1),
    ("repetition.task_s", "s", "repetition", "task_s", 1),
    ("repetition.shuffle_bytes", "B", "repetition", "shuffle_bytes", 1),
    ("nsw.write.wall_s", "s", "nsw.write", "wall_s", 1),
    ("nsw.write.jobs", "count", "nsw.write", "jobs", 1),
    ("nsw.write.driver_gap_s", "s", "nsw.write", "driver_gap_s", 1),
    ("nsw.write.bytes_written", "B", "nsw.write", "bytes_written", 1),
    ("nsw.read.wall_ms", "ms", "nsw.read", "wall_s", 1000),
    ("nsw.read.jobs", "count", "nsw.read", "jobs", 1),
    ("nsw.read.in_job_ms", "ms", "nsw.read", "in_job_s", 1000),
    ("nsw.read.driver_gap_ms", "ms", "nsw.read", "driver_gap_s", 1000),
    ("nsw.read.py4j_calls", "count", "nsw.read", "py4j_calls", 1),
    ("knn.in_job_ms", "ms", "knn", "in_job_s", 1000),
    ("knn.task_ms", "ms", "knn", "task_s", 1000),
    ("knn.driver_gap_ms", "ms", "knn", "driver_gap_s", 1000),
    ("knn.rows_scanned", "count", "knn", "rows_read", 1),
    ("rerank.wall_ms", "ms", "rerank", "wall_s", 1000),
    ("rerank.jobs", "count", "rerank", "jobs", 1),
    ("search.jobs", "count", "search", "jobs", 1),
    ("search.driver_gap_ms", "ms", "search", "driver_gap_s", 1000),
    ("search.py4j_calls", "count", "search", "py4j_calls", 1),
]
SETUP_SPANS = {"nsw.write"}
# (metric, unit, workload attribute holding one value per op)
COUNTER_METRICS = [
    ("pipeline.ingest.rows_out", "count", "rows_out"),
    ("embedding.udf_rows", "count", "udf_rows"),
    ("dedup.admit_ratio", "fraction", "admit_ratio"),
    ("line_dedup.kept_line_ratio", "fraction", "kept_line_ratio"),
]


def tail(latencies: list[float]):
    """``(percentile, value, samples beyond)`` for the highest
    percentile on the grid 1, 2, ..., 99, 99.9 that has at least ten
    samples beyond it (nearest rank), or None with fewer than 11."""
    xs = sorted(latencies)
    n = len(xs)
    for p in [99.9] + list(range(99, 0, -1)):
        rank = math.ceil(p * n / 100)
        if n - rank >= 10:
            return p, xs[rank - 1], n - rank
    return None


def parse_args(argv=None):
    from workloads import SIZES, WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sizes", choices=sorted(SIZES), default="full",
                    help="input sizes; 'tiny' is for the self-tests")
    return ap.parse_args(argv)


def environment(work: str, trace: bool) -> None:
    """Spark and its Python workers see the package from any working
    directory, and keep every scratch file inside ``work``."""
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = work
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # every JVM (the launcher too): temp files in work, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={work} "
                                       "-XX:-UsePerfData")
    conf = {"spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + os.path.join(
                         work, "events"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it (the JVM, Spark's Python workers), reaped children
    included.  The kernel keeps time stolen by the hypervisor out of
    these counters, so they swing far less than wall time with the load
    of other guests on the host."""
    hz = os.sysconf("SC_CLK_TCK")
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
        # utime, stime, cutime, cstime
        ticks[int(name)] = sum(int(f) for f in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / hz


def peak_rss_mb(spark) -> float:
    """Driver Python ``ru_maxrss`` plus the JVM's ``VmHWM``."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


class Run:
    """One benchmark run: counts, latencies and (traced) spans."""

    def __init__(self, workload, tracer):
        self.w = workload
        self.tracer = tracer
        self.attempted = self.failed = 0
        self.lat: list[float] = []          # untraced timed ops, seconds
        self.lat_traced: list[float] = []
        self.cpu: list[float] = []          # untraced timed ops, CPU s
        self.items = 0
        self.udf_rows: list[int] = []

    @contextlib.contextmanager
    def _traced(self, op_id):
        """Trace the body as op ``op_id``; ``None`` runs it untraced."""
        if op_id is None:
            yield
            return
        with self.tracer.installed(), self.tracer.op(op_id):
            yield

    def one(self, x, op_id=None):
        """Run and check one op; its ``(latency, CPU time)``, or None if
        it failed.  A traced op's check and (ingest) embedding projection
        are traced as ops of their own."""
        self.attempted += 1
        try:
            with self._traced(op_id):
                c = cpu_s()
                t = time.perf_counter()
                n = self.w.op(x)
                dt = time.perf_counter() - t
                dc = cpu_s() - c
            with self._traced(None if op_id is None else f"check-{op_id}"):
                self.w.check()
            if op_id is not None and hasattr(self.w, "udf_projection"):
                with self._traced(f"udf-{op_id}"), \
                        self.tracer.span("embedding.udf"):
                    self.udf_rows.append(self.w.udf_projection())
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            self.failed += 1
            traceback.print_exc()
            return None
        self.items += n
        return dt, dc

    def loop(self, xs, seconds: float) -> None:
        """Warm up, then run ops until ``seconds`` have passed and the
        workload's ``timed`` ops are done.  A traced run traces every
        other op, so the untraced ops in between give the tracing
        overhead, and runs at least two ops."""
        for _ in range(self.w.warmup):
            self.one(next(xs))
        self.items = 0
        end = time.perf_counter() + seconds
        i = 0
        while (time.perf_counter() < end or i < self.w.timed
               or (self.tracer and i < 2)):
            x = next(xs, None)
            if x is None:
                raise RuntimeError("workload ran out of inputs")
            traced = self.tracer is not None and i % 2 == 1
            res = self.one(x, op_id=i if traced else None)
            if res is not None:
                (self.lat_traced if traced else self.lat).append(res[0])
                if not traced:
                    self.cpu.append(res[1])
            i += 1


def end_to_end(run: Run, setup_s: float, rss: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        # the first ``timed`` ops: the same stretch of the JVM's warm-up
        # in every run
        "op_cpu_ms": (statistics.median(run.cpu[:run.w.timed]) * 1000,
                      "ms"),
        "recall_at_10": (statistics.median(run.w.recall), "fraction"),
        "peak_rss_mb": (rss, "MB"),
    }


def wall_figures(run: Run) -> dict:
    """Wall-clock latency and rate of the timed ops.  Printed in the
    summary, not bounded: on a shared host they follow the time other
    guests steal (see README.md)."""
    ops = run.lat + run.lat_traced
    t = tail(run.lat)
    return {
        "p50_ms": statistics.median(run.lat) * 1000,
        "rate_per_s": run.items / sum(ops),
        "op_ms": [round(x * 1000, 1) for x in run.lat],
        "op_cpu_ms": [round(x * 1000, 1) for x in run.cpu],
        "traced_op_ms": [round(x * 1000, 1) for x in run.lat_traced],
        "tail": None if t is None else {
            "percentile": t[0], "ms": t[1] * 1000, "samples_beyond": t[2],
            "samples": len(run.lat)},
    }


def per_layer(run: Run, rows: list[dict], breakdown: list[dict],
              session_s: float) -> dict:
    out = {"session.start_s": (session_s, "s")}
    for metric, unit, name, field, scale in SPAN_METRICS:
        mine = [r for r in rows if r["name"] == name]
        if name in SETUP_SPANS:
            value = sum(r[field] for r in mine)
        else:
            per_op: dict = {}
            for r in mine:
                if r["op"] is not None:
                    per_op[r["op"]] = per_op.get(r["op"], 0) + r[field]
            value = statistics.median(per_op.values()) if per_op else 0
        out[metric] = (value * scale, unit)
    for metric, unit, attr in COUNTER_METRICS:
        vals = getattr(run, attr, None) or getattr(run.w, attr, None) or []
        out[metric] = (statistics.median(vals) if vals else 0, unit)
    timed = [b for b in breakdown if isinstance(b["op"], int)]
    out["op.unattributed_ms"] = (statistics.median(
        b["unattributed_s"] for b in timed) * 1000, "ms")
    out["trace.overhead_ms"] = ((statistics.median(run.lat_traced)
                                 - statistics.median(run.lat)) * 1000, "ms")
    return out


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"run.py: package {PACKAGE} not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.perf_counter()
    work = tempfile.mkdtemp(prefix="_run-", dir=HERE)
    environment(work, bool(args.trace))
    spark = None
    try:
        from openai_vector_search_demo_spark.session import get_spark

        from spans import Tracer, op_breakdown, read_event_log, rollup
        from workloads import SIZES, WORKLOADS, patches

        spark = get_spark(master=f"local[{CORES}]")
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        w = WORKLOADS[args.workload](spark, args.seed, SIZES[args.sizes],
                                     work)
        tracer = Tracer(spark.sparkContext, patches()) if args.trace \
            else None
        if tracer:
            with tracer.installed():
                w.setup()
        else:
            w.setup()
        setup_s = time.perf_counter() - t0
        run = Run(w, tracer)
        run.loop(w.inputs(), args.seconds)
        if not run.lat or (tracer and not run.lat_traced):
            raise RuntimeError("no timed op succeeded")
        rss = peak_rss_mb(spark)
        stop_spark(spark)
        spark = None
        summary = {"workload": args.workload, "seed": args.seed,
                   "warmup_ops": w.warmup, "timed_ops": len(run.lat)
                   + len(run.lat_traced),
                   "error_rate": run.failed / run.attempted,
                   **wall_figures(run)}
        if hasattr(w, "digests"):
            summary["admitted_digests"] = w.digests()
        if tracer:
            rows = rollup(tracer.spans,
                          read_event_log(os.path.join(work, "events")))
            breakdown = op_breakdown(rows)
            for b in breakdown:
                total = sum(b["layers_self_s"].values()) + b["unattributed_s"]
                if abs(total - b["wall_s"]) > 1e-6:
                    run.failed += 1
                    print(f"op {b['op']}: layers sum to {total}, wall "
                          f"{b['wall_s']}", file=sys.stderr)
            metrics = per_layer(run, rows, breakdown, session_s)
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            with open(os.path.join(HERE, "out", f"trace-{args.workload}-"
                                   f"{args.seed}.json"), "w") as fh:
                json.dump({"summary": summary, "spans": rows,
                           "ops": breakdown}, fh)
        else:
            metrics = end_to_end(run, setup_s, rss)
        print(json.dumps(summary))
        print(json.dumps({
            "correct": run.failed == 0, "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}), flush=True)
        return 0 if run.failed == 0 else 1
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
