"""Measurement from outside the program: spans around public calls, peak
resident memory of the Spark process tree, and layer attribution from the
Spark event log the benchmark's own session writes.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict

import numpy as np

# Python-worker accumulables of the Arrow UDF stage, as Spark names them;
# sizes in bytes, times in milliseconds (summed over tasks).
PY_SENT = "data sent to Python workers"
PY_TIMES = {
    "pipeline.py_start_s": "time to start Python workers",
    "pipeline.py_init_s": "time to initialize Python workers",
    "pipeline.py_run_s": "time to run Python workers",
}

# Layers that own wall time, in the order a millisecond is given to them
# when several are active at once: the driver-side extract_spans call
# first (its size probes run stages of their own), then the checkpoint
# commit window, then stages by role, and last the rest of the timed
# action calls (write, checkpoint job) while no stage runs: planning, AQE
# re-planning between query stages, job submission and output commit.
TIMELINE = ("driver", "ckpt_commit", "ocr", "sink", "scan", "regroup", "between")
TIMELINE_METRIC = {
    "driver": "pipeline.driver_s",
    "ckpt_commit": "ckpt.commit_s",
    "ocr": "pipeline.ocr_stage_s",
    "sink": "pipeline.sink_stage_s",
    "scan": "pipeline.scan_stage_s",
    "regroup": "pipeline.regroup_stage_s",
    "between": "pipeline.between_stages_s",
}

# A traced unit whose layers leave more than this share of its wall
# unexplained is flagged (the ROADMAP's layer-attribution tolerance).
ATTRIBUTION_TOLERANCE = 0.10

MB = 1 << 20


class Spans:
    """In-memory spans (name, start, end, parent, unit id), written out
    once the run ends. Times are epoch seconds so they line up with the
    event log's millisecond timestamps."""

    def __init__(self):
        self.rows = []
        self._stack = []
        self.unit = None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        row = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "unit": self.unit}
        self._stack.append(name)
        try:
            yield row
        finally:
            self._stack.pop()
            row["end"] = time.time()
            self.rows.append(row)

    def of_unit(self, unit, name=None):
        return [r for r in self.rows if r["unit"] == unit and (name is None or r["name"] == name)]

    def write(self, path: str):
        with open(path, "w") as f:
            for r in self.rows:
                f.write(json.dumps(r) + "\n")


@contextlib.contextmanager
def wrapped(module, attr: str, spans: Spans, name: str):
    """Record a span around every call of module.attr while active."""
    real = getattr(module, attr)

    def timed(*args, **kwargs):
        with spans.span(name):
            return real(*args, **kwargs)

    setattr(module, attr, timed)
    try:
        yield
    finally:
        setattr(module, attr, real)


def _children() -> dict:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(d))
    return children


def descendants(pid: int) -> list:
    """pid and every live process below it."""
    children, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids, timeout: float) -> None:
    deadline = time.time() + timeout
    while any(_alive(p) for p in pids):
        if time.time() > deadline:
            raise RuntimeError(f"processes still running: {[p for p in pids if _alive(p)]}")
        time.sleep(0.1)


class RssSampler:
    """Peak summed resident memory of a process and all its descendants
    (the driver JVM and the Python workers it forks), sampled from /proc
    while armed."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self.root = root_pid
        self.interval = interval
        self.peak_bytes = 0
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _tree_rss(self) -> int:
        total = 0
        for pid in descendants(self.root):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _loop(self):
        while not self._stop.is_set():
            if self._armed.wait(0.2):
                self.peak_bytes = max(self.peak_bytes, self._tree_rss())
                time.sleep(self.interval)

    @contextlib.contextmanager
    def armed(self):
        self._armed.set()
        try:
            yield
        finally:
            self._armed.clear()
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def close(self):
        self._stop.set()
        self._thread.join(timeout=5)


def event_log_confs(log_dir: str) -> dict:
    # Spark 4.1 defaults to zstd-compressed rolling logs; plain single-file
    # JSON lines are what this parser reads.
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_REPLAN = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
# the parquet scan's file bytes are a driver-side SQL metric; the tasks'
# "Bytes Read" input metric misses the vectorized reader's reads
SCAN_BYTES = "size of files read"


def _plan_metric_ids(plan: dict, name: str, out: set) -> None:
    out.update(m["accumulatorId"] for m in plan.get("metrics", ()) if m["name"] == name)
    for child in plan.get("children", ()):
        _plan_metric_ids(child, name, out)


def read_event_log(log_dir: str) -> dict:
    """Stages, with their task totals, and SQL executions, with their
    parquet scan bytes, from the one finished event log in log_dir. Times
    in epoch milliseconds."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    stages, tasks = {}, defaultdict(list)
    exec_start, scan_ids, accums = {}, set(), defaultdict(dict)
    with open(os.path.join(log_dir, names[0])) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerTaskEnd":
                tasks[e["Stage ID"]].append(e)
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                stages[si["Stage ID"]] = {
                    "id": si["Stage ID"],
                    "start": si.get("Submission Time"),
                    "end": si.get("Completion Time"),
                }
            elif kind in (SQL_START, SQL_REPLAN):
                if kind == SQL_START:
                    exec_start[e["executionId"]] = e["time"]
                _plan_metric_ids(e["sparkPlanInfo"], SCAN_BYTES, scan_ids)
            elif kind == SQL_DRIVER_ACCUMS:
                for acc_id, value in e["accumUpdates"]:
                    accums[e["executionId"]][acc_id] = value
    for sid, st in stages.items():
        st.update(_stage_totals(tasks.get(sid, [])))
    executions = [
        {"start": t, "scan_bytes": sum(v for a, v in accums[x].items() if a in scan_ids)}
        for x, t in exec_start.items()
    ]
    return {"stages": [s for s in stages.values() if s["start"] is not None],
            "executions": executions}


def _stage_totals(task_ends: list) -> dict:
    keys = ("input_rows", "output_bytes", "shuffle_read", "shuffle_write",
            "cpu_s", "gc_s", "py_sent", *PY_TIMES)
    t = dict.fromkeys(keys, 0.0)
    durations = []
    for e in task_ends:
        m = e.get("Task Metrics") or {}
        info = e["Task Info"]
        durations.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
        t["input_rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
        t["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics", {})
        t["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        t["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        for a in info.get("Accumulables", ()):
            if a.get("Name") == PY_SENT:
                t["py_sent"] += float(a.get("Update") or 0)
            for metric, acc in PY_TIMES.items():
                if a.get("Name") == acc:
                    t[metric] += float(a.get("Update") or 0) / 1000.0
    t["durations"] = durations
    t["role"] = (
        "ocr" if t["py_sent"] > 0
        else "sink" if t["output_bytes"] > 0
        else "scan" if t["input_rows"] > 0
        else "regroup"
    )
    return t


def attribute_unit(log: dict, start: float, end: float, windows: dict) -> dict:
    """Split one unit's wall [start, end] (epoch seconds) over TIMELINE
    layers at millisecond grain. windows: layer name -> list of (start,
    end) epoch-second intervals measured by the benchmark (driver calls,
    checkpoint commit windows). Stages are those submitted inside the
    unit. Returns per-layer seconds plus the unit's Spark totals."""
    t0, t1 = int(start * 1000), int(end * 1000)
    n = max(1, t1 - t0)
    owner = np.full(n, len(TIMELINE), dtype=np.int8)   # len(TIMELINE) = unattributed

    def claim(layer, a_ms, b_ms):
        a, b = max(0, int(a_ms) - t0), min(n, int(b_ms) - t0)
        if b > a:
            seg = owner[a:b]
            prio = TIMELINE.index(layer)
            seg[seg > prio] = prio

    stages = [s for s in log["stages"] if t0 <= s["start"] <= t1]
    for s in stages:
        claim(s["role"], s["start"], s["end"])
    for layer, spans in windows.items():
        for a, b in spans:
            claim(layer, a * 1000, b * 1000)

    counts = np.bincount(owner, minlength=len(TIMELINE) + 1)
    out = {TIMELINE_METRIC[layer]: counts[i] / 1000.0 for i, layer in enumerate(TIMELINE)}
    out["pipeline.unattributed_s"] = counts[-1] / 1000.0
    out["wall_s"] = n / 1000.0

    ocr = [s for s in stages if s["role"] == "ocr"]
    task_s = [d for s in ocr for d in s["durations"]]
    out.update({
        "pipeline.scan_mb": sum(x["scan_bytes"] for x in log["executions"]
                                if t0 <= x["start"] <= t1) / MB,
        "pipeline.py_sent_mb": sum(s["py_sent"] for s in ocr) / MB,
        "pipeline.ocr_tasks": float(len(task_s)),
        "pipeline.ocr_task_s.p50": statistics.median(task_s) if task_s else 0.0,
        "pipeline.ocr_task_s.max": max(task_s) if task_s else 0.0,
        "pipeline.payload_shuffle_mb": sum(s["shuffle_read"] for s in ocr) / MB,
        "pipeline.regroup_shuffle_mb": sum(
            s["shuffle_write"] for s in stages if s["role"] in ("ocr", "regroup")) / MB,
        "pipeline.sink_mb": sum(s["output_bytes"] for s in stages if s["role"] == "sink") / MB,
        "pipeline.exec_cpu_s": sum(s["cpu_s"] for s in stages),
        "pipeline.gc_s": sum(s["gc_s"] for s in stages),
    })
    for metric in PY_TIMES:
        out[metric] = sum(s[metric] for s in ocr)
    return out
