"""Spans, Spark status-store counters, on-disk byte counts and peak RSS.

Spans are recorded by the benchmark around its calls into each layer —
never inside the program. They live in memory and are written once, at
the end of a traced run. With tracing off, `Tracer.span` is a no-op.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

LAYERS = (
    "parse",
    "transforms",
    "cc",
    "materialize",
    "shacl",
    "export",
    "checkpoint",
    "incremental",
)
GENERIC = (
    "wall_s",
    "task_s",
    "cpu_s",
    "busy_share",
    "jobs",
    "tasks",
    "failed_tasks",
    "shuffle_write_bytes",
    "spill_bytes",
)
COUNTER_FIELDS = (
    "task_s", "cpu_s", "jobs", "tasks", "failed_tasks", "shuffle_write_bytes", "spill_bytes",
)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []  # dicts: id, name, start, end, parent, run
        self._stack: list = []
        self.spark = None
        self.run_id = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run": self.run_id,
               "start_ms": time.time() * 1e3}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(f"pb-{sid}", name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["end_ms"] = time.time() * 1e3
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    sc.setJobGroup(f"pb-{parent['id']}", parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def force(self, *dfs):
        """Layer boundary: persist and count, so a layer's lazy work runs
        inside its own span. Traced runs only — the untraced run stays lazy."""
        out = tuple(d.persist() for d in dfs)
        for d in out:
            d.count()
        return out[0] if len(out) == 1 else out

    def collect_counters(self, since: int) -> None:
        """Attach status-store stage totals to spans[since:] (read once the
        listener bus has drained; called outside the timed region).

        A job belongs to the span whose job group it carries. A job that
        carries no span's group (one submitted from a thread that did not
        inherit the group) goes to the innermost span open at its
        submission time: the driver runs one thread of operations, so time
        identifies the layer. Each span records how many of its jobs were
        placed by time, and every job's (id, name, tasks)."""
        if not self.enabled or self.spark is None:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        spans = self.spans[since:]
        by_group = {f"pb-{s['id']}": s for s in spans}
        for s in spans:
            s["counters"] = dict.fromkeys(COUNTER_FIELDS, 0)
            s["jobs_by_time"] = 0
            s["job_list"] = []
        lo, hi = spans[0]["start_ms"], max(s["end_ms"] for s in spans)
        jobs = store.jobsList(None).iterator()
        while jobs.hasNext():
            job = jobs.next()
            group = job.jobGroup().get() if job.jobGroup().isDefined() else None
            rec = by_group.get(group)
            if rec is None:
                sub = job.submissionTime()
                t = sub.get().getTime() if sub.isDefined() else None
                if t is None or not lo <= t <= hi or (group or "").startswith("pb-"):
                    continue
                rec = max((s for s in spans if s["start_ms"] <= t <= s["end_ms"]),
                          key=lambda s: s["start_ms"])
                rec["jobs_by_time"] += 1
            c = rec["counters"]
            c["jobs"] += 1
            tasks = 0
            sids = job.stageIds().iterator()
            while sids.hasNext():
                try:
                    sd = store.lastStageAttempt(sids.next())
                except Exception:  # noqa: BLE001 — stage skipped, never recorded
                    continue
                c["task_s"] += sd.executorRunTime() / 1e3
                c["cpu_s"] += sd.executorCpuTime() / 1e9
                tasks += sd.numCompleteTasks() + sd.numFailedTasks()
                c["failed_tasks"] += sd.numFailedTasks()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.diskBytesSpilled()
            c["tasks"] += tasks
            rec["job_list"].append((job.jobId(), job.name(), tasks))

    @staticmethod
    def self_times(spans: list) -> dict:
        """span id -> duration minus the part its children cover."""
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child.setdefault(s["parent"], []).append(s)
        out = {}
        for s in spans:
            covered = _union_length([(c["start"], c["end"]) for c in child.get(s["id"], [])])
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out


def _union_length(intervals: list) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_totals(tracer: Tracer, op_span_id: int, cores: int) -> dict:
    """Per-layer totals for one operation: layer spans are the direct
    children of the operation span; their nested spans count toward them."""
    spans = [s for s in tracer.spans if s["id"] >= op_span_id]
    out = {layer: dict.fromkeys(GENERIC, 0.0) for layer in LAYERS}
    top = {s["id"]: s for s in spans}

    def layer_of(s):
        while s["parent"] is not None and s["parent"] != op_span_id:
            s = top[s["parent"]]
        return s["name"] if s["parent"] == op_span_id else None

    for s in spans:
        name = layer_of(s)
        if name not in out or "counters" not in s:
            continue
        if s["parent"] == op_span_id:
            out[name]["wall_s"] += s["end"] - s["start"]
        for k, v in s["counters"].items():
            out[name][k] += v
    for v in out.values():
        v["busy_share"] = v["task_s"] / (v["wall_s"] * cores) if v["wall_s"] > 0 else 0.0
    return out


# ---------------------------------------------------------------- disk
def tree_files(path: str) -> dict:
    """{file path: (inode, mtime_ns, size)} under `path`."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def bytes_written(before: dict, after: dict, prefix: str = "") -> int:
    """Bytes of files created or rewritten between two `tree_files` scans."""
    return sum(
        v[2] for p, v in after.items() if p.startswith(prefix) and before.get(p) != v
    )


def tree_bytes(path: str) -> int:
    return sum(v[2] for v in tree_files(path).values())


# ---------------------------------------------------------------- memory
def _children(pid: int) -> list:
    """Child processes of every thread of `pid` (the JVM forks the Python
    worker daemon from one of its worker threads)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Summed peak RSS of the driver JVM and every process below it (the
    Python worker daemon and its forked workers)."""
    total, todo = 0, [jvm_pid]
    while todo:
        pid = todo.pop()
        total += _hwm_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0
