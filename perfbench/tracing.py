"""Measurement helpers shared by the workloads.

- :class:`Spans` — in-memory spans (name, start, end, parent, trace id)
  recorded by the benchmark around its calls into the engine.
- :class:`TreeRss` — samples the resident set of a process tree (the JVM,
  the driver Python and the Python workers under it).
- :func:`host_stamp` — what a reader needs to tell a contended run from a
  regression: commit, nproc, a calibration spin, loadavg, procs_running.
- :func:`fold_event_log` — folds Spark's own event log into per-unit
  (query or algorithm) layer metrics: jobs, stages, task metrics, shuffle,
  final AQE plans, Python-node SQL metrics and streaming progress.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import re
import signal
import subprocess
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    def __init__(self) -> None:
        self.items: list[dict] = []
        self._lock = threading.Lock()

    def start(self, name: str, trace: str, parent: int | None = None) -> int:
        with self._lock:
            sid = len(self.items)
            self.items.append({"id": sid, "name": name, "trace": trace,
                               "parent": parent, "start": time.time(), "end": None})
        return sid

    def finish(self, sid: int) -> float:
        """Closes the span; returns its duration in seconds."""
        s = self.items[sid]
        s["end"] = time.time()
        return s["end"] - s["start"]

    @contextmanager
    def span(self, name: str, trace: str, parent: int | None = None):
        sid = self.start(name, trace, parent)
        try:
            yield sid
        finally:
            self.finish(sid)

    def window(self, sid: int) -> tuple[float, float]:
        return self.items[sid]["start"], self.items[sid]["end"]

    def duration(self, sid: int) -> float:
        start, end = self.window(sid)
        return end - start


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Waits until none of ``pids`` is alive; kills what outlives ``timeout``."""
    deadline = time.time() + timeout
    while alive := [p for p in pids if _running(p)]:
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = math.inf
        time.sleep(0.05)


def _running(pid: int) -> bool:
    """True unless the process is gone or a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_rss_bytes(root: int) -> int:
    page, total = os.sysconf("SC_PAGE_SIZE"), 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class TreeRss:
    """Background sampler of the peak RSS of the tree rooted at ``root``."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        self.root, self.interval, self.peak = root, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "TreeRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def _calibration_spin(n: int = 5_000_000) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return time.perf_counter() - t0


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle iowait
    irq softirq steal ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _procs_running() -> int | None:
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("procs_running"):
                return int(line.split()[1])
    return None


def source_digest(root: str, package: str) -> str:
    """sha256 over the package's Python sources — identifies the code under
    test when the checkout carries no git metadata."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, package, "**", "*.py"),
                              recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def host_stamp(root: str, package: str, ticks_at_start: list[int]) -> dict:
    """``steal_share`` is the share of CPU time the hypervisor gave to other
    guests while the run lasted: the contention a neighbour load causes."""
    delta = [b - a for a, b in zip(ticks_at_start, cpu_ticks())]
    commit = None
    if os.path.exists(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "commit": commit,
        "source_digest": source_digest(root, package),
        "nproc": len(os.sched_getaffinity(0)),
        "calibration_spin_s": round(_calibration_spin(), 4),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "procs_running": _procs_running(),
        "steal_share": round(delta[7] / max(sum(delta), 1), 4),
    }


# -- event log ---------------------------------------------------------------

PYTHON_NODE = re.compile(r"Python|Pandas|MapInArrow")


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


class Windows:
    """Time windows (unit, start, end in epoch seconds) of the units to fold
    into, and the job groups that name a unit directly (by default the
    window units themselves)."""

    def __init__(self, spans: list[tuple[str, float, float]], groups=None) -> None:
        self.spans = sorted((s * 1000, e * 1000, u) for u, s, e in spans)
        self.groups = set(groups) if groups is not None else {u for u, _, _ in spans}

    def at(self, ms: float) -> str | None:
        for s, e, unit in self.spans:
            if s <= ms <= e:
                return unit
        return None


def _new_unit() -> dict:
    return defaultdict(float)


def fold_event_log(events: list[dict], windows: Windows) -> dict[str, dict]:
    """Per-unit totals of the layer counters.

    A job belongs to the unit named by its job group when that group is a
    known unit (the runner's per-query group, the service's algorithm id),
    otherwise to the unit whose span covers its submission time (streaming
    micro-batches run under their own run-id group). Stages and tasks follow
    their job, a SQL execution its first job (or its start time when it ran
    none), streaming progress its trigger time.
    """
    units: dict[str, dict] = defaultdict(_new_unit)
    stage_unit: dict[int, str] = {}
    python_row_ids: set[int] = set()
    exec_unit: dict[int, str] = {}
    exec_start: dict[int, float] = {}
    exec_plan: dict[int, dict] = {}
    exec_final: dict[int, bool] = {}

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            unit = group if group in windows.groups else windows.at(e["Submission Time"])
            if unit is None:
                continue
            u = units[unit]
            u["jobs"] += 1
            u["first_job_ms"] = min(u.get("first_job_ms", math.inf), e["Submission Time"])
            for sid in e["Stage IDs"]:
                stage_unit[sid] = unit
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_unit.setdefault(int(eid), unit)
        elif kind == "SparkListenerStageCompleted":
            unit = stage_unit.get(e["Stage Info"]["Stage ID"])
            if unit is not None:
                units[unit]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            unit = stage_unit.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if unit is None or not m:
                continue
            u = units[unit]
            u["tasks"] += 1
            u["run_s"] += m["Executor Run Time"] / 1e3
            u["cpu_s"] += m["Executor CPU Time"] / 1e9
            u["gc_s"] += m["JVM GC Time"] / 1e3
            u["scan_bytes"] += m["Input Metrics"]["Bytes Read"]
            u["scan_rows"] += m["Input Metrics"]["Records Read"]
            sr = m["Shuffle Read Metrics"]
            u["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            u["fetch_wait_s"] += sr["Fetch Wait Time"] / 1e3
            u["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            u["spill_bytes"] += m["Disk Bytes Spilled"]
            for acc in e["Task Info"].get("Accumulables", ()):
                try:  # SQL metric updates arrive as strings
                    upd = float(acc["Update"])
                except (KeyError, TypeError, ValueError):
                    continue
                name = acc.get("Name")
                if name == "data sent to Python workers":
                    u["python_bytes_sent"] += upd
                elif name == "data returned from Python workers":
                    u["python_bytes_received"] += upd
                elif acc["ID"] in python_row_ids:
                    u["python_rows_received"] += upd
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            eid = e["executionId"]
            exec_start[eid] = e["time"]
            exec_plan[eid] = e["sparkPlanInfo"]
            exec_final[eid] = "isFinalPlan=false" not in e["physicalPlanDescription"]
            _note_python_rows(e["sparkPlanInfo"], python_row_ids)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            eid = e["executionId"]
            _note_python_rows(e["sparkPlanInfo"], python_row_ids)
            if "isFinalPlan=true" in e["physicalPlanDescription"]:
                exec_plan[eid], exec_final[eid] = e["sparkPlanInfo"], True
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            p = e["progress"]
            unit = windows.at(_iso_ms(p["timestamp"]))
            if unit is None:
                continue
            u = units[unit]
            u["stream_batches"] += 1
            u["stream_trigger_s"] += p["durationMs"].get("triggerExecution", 0) / 1e3
            u["stream_input_rows"] += sum(
                src.get("numInputRows", 0) for src in p.get("sources", ()))
            u["stream_state_rows"] += sum(
                s["numRowsTotal"] for s in p.get("stateOperators", ()))

    for eid, plan in exec_plan.items():
        unit = exec_unit.get(eid) or windows.at(exec_start[eid])
        if unit is None:
            continue
        u = units[unit]
        u["executions"] += 1
        u["final_plans"] += exec_final[eid]
        for node in _plan_nodes(plan):
            name = node["nodeName"]
            if name in ("Exchange", "BroadcastExchange"):
                u["exchanges"] += 1
            elif name == "ReusedExchange":
                u["reused_exchanges"] += 1
            elif PYTHON_NODE.search(name):
                u["python_nodes"] += 1
    return units


def layer_metrics(units: dict[str, dict], scale: float) -> dict[str, float]:
    """The event-log layer metrics every workload reports: totals over
    ``units`` times ``scale`` (one over the number of passes they cover)."""

    def total(key: str) -> float:
        return sum(u[key] for u in units.values()) * scale

    run_s, cpu_s = total("run_s"), total("cpu_s")
    return {
        "operators.jobs": total("jobs"),
        "operators.stages": total("stages"),
        "operators.tasks": total("tasks"),
        "stages.run_s": run_s,
        "stages.cpu_s": cpu_s,
        "stages.gc_s": total("gc_s"),
        "stages.offcpu_s": run_s - cpu_s,
        "sources.scan_bytes": total("scan_bytes"),
        "sources.scan_rows": total("scan_rows"),
        "shuffle.write_bytes": total("shuffle_write_bytes"),
        "shuffle.read_bytes": total("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": total("fetch_wait_s"),
        "shuffle.spill_bytes": total("spill_bytes"),
        "plans.exchanges": total("exchanges"),
        "plans.reused_exchanges": total("reused_exchanges"),
        "plans.python_nodes": total("python_nodes"),
        "functions.python_bytes_sent": total("python_bytes_sent"),
        "functions.python_bytes_received": total("python_bytes_received"),
        "functions.python_rows_received": total("python_rows_received"),
        "streaming.batches": total("stream_batches"),
        "streaming.trigger_s": total("stream_trigger_s"),
        "streaming.input_rows": total("stream_input_rows"),
        "streaming.state_rows": total("stream_state_rows"),
    }


def final_captured(units: list[dict]) -> float:
    """Share of units that ran SQL and had every final plan captured."""
    ran = [u for u in units if u["executions"]]
    return sum(u["final_plans"] == u["executions"] for u in ran) / max(len(ran), 1)


def _note_python_rows(info: dict, ids: set[int]) -> None:
    for node in _plan_nodes(info):
        if PYTHON_NODE.search(node["nodeName"]):
            ids.update(m["accumulatorId"] for m in node.get("metrics", ())
                       if m["name"] == "number of output rows")


def _iso_ms(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000
