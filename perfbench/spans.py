"""Spans, Spark event-log counters, process-tree RSS and the host stamp.

Spans are recorded around the benchmark's own calls into each layer of
the program (name, start, end, parent, op id), kept in memory and folded
at the end of a traced run. Spark jobs are attributed to the innermost
span open at the job's submission time. Ops run one at a time from one
client, so this attribution is exact, and it also catches jobs that run
on a streaming query's own thread.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

#: Spark counters folded per layer, from SparkListener task and job events.
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "cpu_share",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_records",
    "input_records",
    "spill_bytes",
)


class Tracer:
    """In-memory span recorder; a no-op when ``enabled`` is false."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None

    @contextmanager
    def span(self, layer: str, call: str):
        """A span of ``layer``; a span of layer ``op`` starts a new op id
        that the spans inside it share."""
        if not self.enabled:
            yield
            return
        if layer == "op":
            self._op = len(self.spans)
        rec = {
            "layer": layer,
            "call": call,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    def call_seconds(self) -> dict[str, float]:
        """Median duration per ``<layer>.<call>``."""
        by: dict[str, list[float]] = {}
        for s in self.spans:
            by.setdefault(f"{s['layer']}.{s['call']}", []).append(s["end"] - s["start"])
        return {k: statistics.median(v) for k, v in by.items()}

    def self_seconds(self, layer: str) -> list[float]:
        """Per-span self time of ``layer``: its duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [
            s["end"] - s["start"] - child[i]
            for i, s in enumerate(self.spans)
            if s["layer"] == layer
        ]

    def innermost(self, t_ms: float) -> dict | None:
        """The innermost span open at epoch-millisecond ``t_ms``."""
        t = t_ms / 1000.0
        best = None
        for s in self.spans:
            if s["start"] <= t <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the single (uncompressed, non-rolling) log in ``log_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def fold_counters(events: list[dict], tracer: Tracer) -> dict[str, dict]:
    """Spark counters per layer (``layers``) and jobs per ``<layer>.<call>``
    (``calls``), each job attributed to a span by its submission time."""
    stage_job: dict[int, int] = {}
    job_layer: dict[int, str | None] = {}
    calls: dict[str, int] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            s = tracer.innermost(e["Submission Time"])
            job_layer[e["Job ID"]] = s["layer"] if s else None
            if s:
                key = f"{s['layer']}.{s['call']}"
                calls[key] = calls.get(key, 0) + 1
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, e["Job ID"])
    out: dict[str, dict[str, float]] = {}

    def acc(layer: str | None) -> dict[str, float] | None:
        if layer is None:
            return None
        return out.setdefault(layer, {c: 0.0 for c in COUNTERS})

    for jid, layer in job_layer.items():
        a = acc(layer)
        if a is not None:
            a["jobs"] += 1
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            a = acc(job_layer.get(stage_job.get(sid)))
            if a is not None:
                a["stages"] += 1
        elif ev == "SparkListenerTaskEnd":
            a = acc(job_layer.get(stage_job.get(e["Stage ID"])))
            if a is None:
                continue
            a["tasks"] += 1
            if e.get("Task Info", {}).get("Failed"):
                a["failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            a["shuffle_read_records"] += (m.get("Shuffle Read Metrics") or {}).get(
                "Total Records Read", 0
            )
            a["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    for a in out.values():
        a["cpu_share"] = a["executor_cpu_s"] / a["executor_run_s"] if a["executor_run_s"] else 0.0
    return {"layers": out, "calls": calls}


def planning_ms(df) -> float:
    """Analysis + optimization + planning of ``df``'s executed plan."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total += p.get().durationMs()
    return total


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


def descendants() -> list[int]:
    """Live descendant pids of this process."""
    return _tree_pids(os.getpid())[1:]


def alive(pids: list[int]) -> list[int]:
    """The pids that still run (a zombie has ended)."""
    out = []
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except (OSError, IndexError):
            continue
        if state != "Z":
            out.append(p)
    return out


class RssSampler:
    """Peak summed RSS of this process and its descendants (JVM, Python
    workers), sampled every ``period`` seconds on a background thread."""

    def __init__(self, period: float = 0.2):
        self.peak = 0
        self._period = period
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._period)

    def sample(self) -> None:
        total = sum(_rss_bytes(p) for p in _tree_pids(os.getpid()))
        self.peak = max(self.peak, total)

    def close(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def host_stamp() -> dict:
    la = os.getloadavg()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "load_1m": la[0],
        "load_15m": la[2],
        "steal_jiffies": steal_jiffies(),
    }
