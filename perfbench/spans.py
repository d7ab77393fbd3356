"""Spans recorded from the benchmark's own files, and their Spark jobs.

A span is one call into a layer of the package: name, start, end, parent
and the op it belongs to.  While a span is open the benchmark sets the
Spark job group to the span's id, so every job the call submits carries
it in Spark's event log.  The log is read after the session stops: jobs
attach to spans, and each span gets its job count, the union of its job
intervals (in-job time), executor task time, shuffle and output bytes,
and rows read by its scans.  ``driver_gap`` is a span's wall time minus
the union of its job intervals: Python, py4j and planning outside any
job.

Nothing in the package is edited.  ``Tracer.installed`` swaps module
attributes for wrappers and counts py4j round trips by wrapping the py4j
connection's ``send_command``; outside it no wrapper runs.  Spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

_GROUP_PREFIX = "perfbench-span-"


class Tracer:
    """Span recorder for one SparkContext."""

    def __init__(self, sc, patches):
        """``patches`` lists ``(module, attribute, span name,
        materialize)``: while installed, ``module.attribute`` runs inside
        a span, and with ``materialize`` a DataFrame it returns is
        computed inside the span (``localCheckpoint``), so the layer's
        jobs land in its own span rather than its caller's."""
        self.sc = sc
        self.patches = patches
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._in_hook = False
        self._op = None

    @contextlib.contextmanager
    def op(self, op_id):
        """A span named ``op`` whose descendants belong to op ``op_id``."""
        prev, self._op = self._op, op_id
        try:
            with self.span("op") as rec:
                yield rec
        finally:
            self._op = prev

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "op": self._op, "start": time.time(), "end": None,
               "py4j_self": 0}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1]["id"] if self._stack else None)

    def _set_group(self, span_id):
        self._in_hook = True
        try:
            self.sc.setLocalProperty(
                "spark.jobGroup.id",
                None if span_id is None else f"{_GROUP_PREFIX}{span_id}")
        finally:
            self._in_hook = False

    def _wrap(self, name: str, fn, materialize: bool):
        from pyspark.sql import DataFrame

        def wrapped(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if materialize and isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
                return out
        wrapped.__wrapped__ = fn
        return wrapped

    @contextlib.contextmanager
    def installed(self):
        """Run the body with every patch and the py4j counter in place."""
        from py4j import clientserver, java_gateway

        saved = []
        for mod, attr, name, materialize in self.patches:
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(name, fn, materialize))
        for cls in (clientserver.ClientServerConnection,
                    java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **kw):
                if self._stack and not self._in_hook:
                    self._stack[-1]["py4j_self"] += 1
                return _orig(conn, command, *a, **kw)
            saved.append((cls, "send_command", orig))
            cls.send_command = send_command
        try:
            yield self
        finally:
            for obj, attr, value in reversed(saved):
                setattr(obj, attr, value)


# -- event log rollup ----------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs and their task totals from one plain-JSON Spark event log.

    Returns ``{job_id: {start, end, group, task_ms, shuffle_write,
    bytes_written, records_read}}`` with times in epoch seconds."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(files)}")
    jobs: dict[int, dict] = {}
    stage_jobs: dict[int, list[int]] = {}
    tasks = []
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000.0, "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "task_ms": 0, "shuffle_write": 0, "bytes_written": 0,
                    "records_read": 0}
                for sid in ev.get("Stage IDs", []):
                    stage_jobs.setdefault(sid, []).append(ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for job in jobs.values():
        if job["end"] is None:        # still open at shutdown
            job["end"] = job["start"]
    for ev in tasks:
        owners = stage_jobs.get(ev["Stage ID"], [])
        if not owners:
            continue
        fin = ev["Task Info"]["Finish Time"] / 1000.0
        jid = next((j for j in owners
                    if jobs[j]["start"] <= fin <= jobs[j]["end"]),
                   owners[0])
        m = ev.get("Task Metrics") or {}
        job = jobs[jid]
        job["task_ms"] += m.get("Executor Run Time", 0)
        job["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        job["bytes_written"] += (m.get("Output Metrics") or {}).get(
            "Bytes Written", 0)
        job["records_read"] += (m.get("Input Metrics") or {}).get(
            "Records Read", 0)
    return jobs


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def rollup(spans: list[dict], jobs: dict) -> list[dict]:
    """Per span, totals over its subtree: wall, jobs, in-job time (union
    of job intervals clipped to the span), driver gap, task time, bytes,
    rows read, py4j calls; and its self time (wall minus what its
    children cover).

    A job tagged with a span's group belongs to that span; an untagged
    job (submitted from a thread that does not carry the group) goes to
    the innermost span open at its submission."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    own_jobs: dict[int, list[dict]] = {}
    for job in jobs.values():
        g = job["group"] or ""
        if g.startswith(_GROUP_PREFIX):
            sid = int(g[len(_GROUP_PREFIX):])
        else:
            inside = [s for s in spans
                      if s["start"] <= job["start"] <= s["end"]]
            if not inside:
                continue
            sid = max(inside, key=lambda s: s["start"])["id"]
        own_jobs.setdefault(sid, []).append(job)

    out: dict[int, dict] = {}

    def visit(sid: int) -> list[dict]:
        s = by_id[sid]
        mine = list(own_jobs.get(sid, []))
        kids = children.get(sid, [])
        for k in kids:
            mine.extend(visit(k))
        wall = s["end"] - s["start"]
        in_job = union_length(
            (max(j["start"], s["start"]), min(j["end"], s["end"]))
            for j in mine if j["end"] > s["start"] and j["start"] < s["end"])
        out[sid] = {
            "id": sid, "name": s["name"], "op": s["op"],
            "parent": s["parent"], "wall_s": wall,
            "self_s": wall - union_length(
                (by_id[k]["start"], by_id[k]["end"]) for k in kids),
            "jobs": len(mine), "in_job_s": in_job,
            "driver_gap_s": wall - in_job,
            "task_s": sum(j["task_ms"] for j in mine) / 1000.0,
            "shuffle_bytes": sum(j["shuffle_write"] for j in mine),
            "bytes_written": sum(j["bytes_written"] for j in mine),
            "rows_read": sum(j["records_read"] for j in mine),
            "py4j_calls": s["py4j_self"] + sum(out[k]["py4j_calls"]
                                               for k in kids),
        }
        return mine

    for s in spans:
        if s["parent"] is None:
            visit(s["id"])
    return [out[s["id"]] for s in spans]


def op_breakdown(rows: list[dict]) -> list[dict]:
    """Per op: wall time, self time per layer name, and the unattributed
    remainder (the op span's own self time).  The self times of a span
    tree sum to its root's wall time, so ``sum(layers) + unattributed``
    equals ``wall_s`` up to float rounding."""
    out = []
    for root in (r for r in rows if r["name"] == "op"):
        layers: dict[str, float] = {}
        for r in rows:
            if r["op"] == root["op"] and r["id"] != root["id"]:
                layers[r["name"]] = layers.get(r["name"], 0.0) + r["self_s"]
        out.append({"op": root["op"], "wall_s": root["wall_s"],
                    "layers_self_s": layers,
                    "unattributed_s": root["self_s"]})
    return out
