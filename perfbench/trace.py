"""Spans, process-tree memory, and the Spark event-log roll-up.

Everything here observes the program from outside: spans wrap the
public calls the benchmark makes, memory is read from ``/proc``, and
engine counters come from Spark's own JSON event log.

Jobs are attributed to a span by submission time: a job belongs to the
span whose ``[start, end]`` holds its ``Submission Time``. With one
operation in flight, every job the span's call submits (from driver
threads too) lands inside that interval. Job groups and tags are not
used, because jobs launched from worker threads do not inherit them.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# -- spans --------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent. Disabled tracers only
    time nothing, so the untraced run pays no bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def descendants(self, span_id: int) -> list[dict]:
        out, todo = [], [span_id]
        while todo:
            parent = todo.pop()
            kids = [s for s in self.spans if s["parent"] == parent]
            out += kids
            todo += [k["id"] for k in kids]
        return out


# -- process-tree resident memory ----------------------------------------


def process_tree(root: int) -> dict[int, str]:
    """``{pid: command name}`` of ``root`` and all its descendants."""
    kids: dict[int, list[int]] = defaultdict(list)
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        kids[int(tail.split()[1])].append(int(entry))
        comm[int(entry)] = head.split("(", 1)[1]
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        tree[pid] = comm.get(pid, "")
        todo.extend(kids.get(pid, ()))
    return tree


def _tree_rss_bytes(root: int) -> tuple[int, int]:
    """Summed RSS of ``root`` and its descendants, split into the JVMs
    and everything else: ``(other_bytes, jvm_bytes)``."""
    page = os.sysconf("SC_PAGE_SIZE")
    other = jvm = 0
    for pid, name in process_tree(root).items():
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        if name == "java":
            jvm += rss
        else:
            other += rss
    return other, jvm


class RssSampler:
    """Samples the resident memory of this process and its descendants
    on a background thread. ``peak`` covers the Python driver and the
    Python workers; ``jvm_peak`` the JVM, whose resident heap follows
    the garbage collector's sizing policy rather than live data. Both
    are whole-run peaks. ``op_peak`` is the Python-side peak inside the
    ``timing()`` windows only, so it leaves out the benchmark's own
    input generation and checks."""

    def __init__(self, interval_s: float = 0.1):
        self.peak = self.jvm_peak = self.op_peak = 0
        self._interval = interval_s
        self._timing = False
        self._lock = threading.Lock()  # the sampler and timing() both sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        other, jvm = _tree_rss_bytes(os.getpid())
        with self._lock:
            self.peak = max(self.peak, other)
            self.jvm_peak = max(self.jvm_peak, jvm)
            if self._timing:
                self.op_peak = max(self.op_peak, other)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self._interval)

    @contextmanager
    def timing(self):
        """Count the samples taken inside this block in ``op_peak``."""
        self._timing = True
        try:
            yield
        finally:
            self._sample()  # an op shorter than the interval still counts
            self._timing = False

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- event-log roll-up --------------------------------------------------

# Python UDF operators carry these SQL metrics (names as Spark logs them)
_PY_METRICS = {
    "time to run Python workers": "udf_ms",
    "data sent to Python workers": "bytes_in",
    "data returned from Python workers": "bytes_out",
    "time to start Python workers": "init_ms",
    "time to initialize Python workers": "init_ms",
}
_UDF_NAME = re.compile(r"(<lambda>|[A-Za-z_]\w*)\(")


def classify_udf(node_name: str, simple_string: str) -> str | None:
    """Map a Python-UDF plan node to the program layer that owns it.

    ``fac`` (leaf factor/invert) and ``inv`` (leaf triangular inverse)
    are leaf kernels; the nameless gemm kernel is the ``<lambda>`` under
    a grouped or co-grouped pandas operator; ``to_pieces``/``write`` and
    the block ``assemble`` fed by ``row_in_block`` are reference-format
    I/O, while the ``assemble`` fed by ``bi_out``/``bj_out`` is the row
    (column) permutation. Returns ``None`` for non-Python nodes."""
    if not any(k in node_name for k in ("Pandas", "Python", "Arrow")):
        return None
    m = _UDF_NAME.search(simple_string[len(node_name):])
    fn = m.group(1) if m else ""
    if fn in ("fac", "inv"):
        return "leaf"
    if fn == "<lambda>" and "Groups" in node_name:
        return "gemm"
    if fn in ("to_pieces", "write"):
        return "io"
    if fn == "assemble":
        if "bi_out#" in simple_string or "bj_out#" in simple_string:
            return "permute"
        if "row_in_block#" in simple_string:
            return "io"
    return "other"


def _walk(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def _num(v) -> int:
    return int(float(v))


class _JobCounters:
    __slots__ = ("submit", "complete", "root_exec", "callsite", "tasks",
                 "retries", "run_ms", "cpu_ns", "gc_ms", "scan_bytes",
                 "sw_bytes", "sw_records", "sr_bytes", "fetch_ms",
                 "spill_bytes", "stages", "udf")

    def __init__(self, submit: int, root_exec, callsite: str):
        self.submit, self.complete = submit, submit
        self.root_exec, self.callsite = root_exec, callsite
        self.tasks = self.retries = self.run_ms = self.cpu_ns = 0
        self.gc_ms = self.scan_bytes = self.sw_bytes = self.sw_records = 0
        self.sr_bytes = self.fetch_ms = self.spill_bytes = 0
        self.stages: set[int] = set()
        # udf class -> {"udf_ms", "bytes_in", "bytes_out", "init_ms", "tasks"}
        self.udf: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))


def parse_event_log(path: str) -> dict[int, _JobCounters]:
    """Read one uncompressed JSON event log into per-job counters."""
    with open(path) as f:
        events = [json.loads(line) for line in f]
    # AQE replaces plans mid-query and the re-planned nodes get fresh
    # accumulator ids, which are often logged only after the tasks that
    # updated them ended; so every plan is indexed before any task
    acc_class: dict[int, tuple[str, str]] = {}
    for e in events:
        if e["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            for node in _walk(e["sparkPlanInfo"]):
                cls = classify_udf(node["nodeName"], node["simpleString"])
                if cls is None:
                    continue
                for m in node.get("metrics", ()):
                    key = _PY_METRICS.get(m["name"])
                    if key:
                        acc_class[m["accumulatorId"]] = (cls, key)
    jobs: dict[int, _JobCounters] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            root = props.get("spark.sql.execution.root.id",
                             props.get("spark.sql.execution.id"))
            jobs[jid] = _JobCounters(
                e["Submission Time"],
                root if root is not None else f"job{jid}",
                props.get("callSite.short") or "",
            )
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]].complete = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            _add_task(jobs[stage_job[e["Stage ID"]]], e, acc_class)
    return jobs


def _add_task(job: _JobCounters, e: dict, acc_class: dict) -> None:
    info = e["Task Info"]
    tm = e.get("Task Metrics") or {}
    job.tasks += 1
    job.stages.add(e["Stage ID"])
    if info.get("Attempt", 0) > 0 or info.get("Failed") or info.get("Killed"):
        job.retries += 1
    job.run_ms += tm.get("Executor Run Time", 0)
    job.cpu_ns += tm.get("Executor CPU Time", 0)
    job.gc_ms += tm.get("JVM GC Time", 0)
    job.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    job.scan_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    sw = tm.get("Shuffle Write Metrics") or {}
    job.sw_bytes += sw.get("Shuffle Bytes Written", 0)
    job.sw_records += sw.get("Shuffle Records Written", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    job.sr_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    job.fetch_ms += sr.get("Fetch Wait Time", 0)
    touched = set()
    for acc in info.get("Accumulables", ()):
        hit = acc_class.get(acc["ID"])
        if hit is None or "Update" not in acc:
            continue
        cls, key = hit
        job.udf[cls][key] += _num(acc["Update"])
        touched.add(cls)
    for cls in touched:
        job.udf[cls]["tasks"] += 1


UDF_CLASSES = ("leaf", "gemm", "io", "permute", "other")


def rollup(jobs: dict[int, _JobCounters], start: float, end: float) -> dict:
    """Sum the counters of every job submitted in ``[start, end]``
    (epoch seconds) and derive the driver-side timings for the window."""
    lo, hi = int(start * 1000), int(end * 1000) + 1
    sel = [j for j in jobs.values() if lo <= j.submit <= hi]
    out: dict = {
        "jobs": len(sel),
        "stages": len({s for j in sel for s in j.stages}),
        "tasks": sum(j.tasks for j in sel),
        "task_retries": sum(j.retries for j in sel),
        "executor_run_s": sum(j.run_ms for j in sel) / 1e3,
        "executor_cpu_s": sum(j.cpu_ns for j in sel) / 1e9,
        "gc_s": sum(j.gc_ms for j in sel) / 1e3,
        "scan_bytes": sum(j.scan_bytes for j in sel),
        "shuffle_write_bytes": sum(j.sw_bytes for j in sel),
        "shuffle_read_bytes": sum(j.sr_bytes for j in sel),
        "shuffle_records": sum(j.sw_records for j in sel),
        "fetch_wait_s": sum(j.fetch_ms for j in sel) / 1e3,
        "spill_bytes": sum(j.spill_bytes for j in sel),
        "collects": len({j.root_exec for j in sel}),
        # the leaf factorization hands its pivots back with collect()
        "pivot_collects": len({
            j.root_exec for j in sel
            if j.callsite.startswith("collect at")
            and "/matrix/lu.py:" in j.callsite
        }),
    }
    for cls in UDF_CLASSES:
        for key in ("udf_ms", "bytes_in", "bytes_out", "init_ms", "tasks"):
            out[f"udf.{cls}.{key}"] = sum(j.udf[cls][key] for j in sel if cls in j.udf)
    out["python_udf_s"] = sum(out[f"udf.{c}.udf_ms"] for c in UDF_CLASSES) / 1e3
    out["python_bytes_in"] = sum(out[f"udf.{c}.bytes_in"] for c in UDF_CLASSES)
    out["python_bytes_out"] = sum(out[f"udf.{c}.bytes_out"] for c in UDF_CLASSES)
    out["python_init_s"] = sum(out[f"udf.{c}.init_ms"] for c in UDF_CLASSES) / 1e3
    wall = max(end - start, 1e-9)
    if sel:
        out["plan_s"] = min(j.submit for j in sel) / 1e3 - start
        busy, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted((j.submit / 1e3, j.complete / 1e3) for j in sel):
            a, b = max(a, start), min(b, end)
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        busy += max(0.0, cur_hi - cur_lo)
        out["gap_s"] = max(0.0, wall - busy)
    else:
        out["plan_s"] = wall
        out["gap_s"] = wall
    return out
