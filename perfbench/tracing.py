"""Spans, Spark event-log counters, process-tree RSS and host context.

Spans are recorded by the benchmark around its calls into the engine's
public functions; nothing inside the engine is instrumented. Each span
tags the Spark jobs it triggers with ``setJobGroup(<layer>, <span>)``,
where the layer is the span name up to its first dot (the engine module:
``extract``, ``linking``, ``dedup`` ...), so the event log can be split
per layer after the run.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

BENCH_GROUP = "bench"
#: the span around one whole operation; its jobs (if any) are not a layer's
OP_SPAN = "op"


def layer_of(span_name: str) -> str:
    return span_name.split(".", 1)[0]


class Tracer:
    """In-memory span recorder: (id, name, parent, start, end) with times
    in seconds relative to the tracer's creation."""

    def __init__(self, sc=None) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = sc
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]]["name"]
                            if self._stack else None)

    def _set_group(self, name: str | None) -> None:
        if self._sc is None:
            return
        if name is None or name == OP_SPAN:
            self._sc.setJobGroup(BENCH_GROUP, OP_SPAN)
        else:
            self._sc.setJobGroup(layer_of(name), name)

    def seconds(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def children(self, parent_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == parent_id]

    def layer_seconds(self, parent_id: int) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.children(parent_id):
            lay = layer_of(s["name"])
            out[lay] = out.get(lay, 0.0) + s["end"] - s["start"]
        return out

    def uncovered_seconds(self, parent_id: int) -> float:
        """Wall time of span ``parent_id`` covered by none of its children
        (children are sequential, so their union is their sum)."""
        p = self.spans[parent_id]
        covered = sum(s["end"] - s["start"] for s in self.children(parent_id))
        return (p["end"] - p["start"]) - covered


# --- Spark event log --------------------------------------------------------

def event_log_file(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    return os.path.join(log_dir, files[0])


def layer_counters(path: str) -> dict[str, dict]:
    """Per job group: summed executor run ms, shuffle write bytes, disk
    spill bytes, and the per-stage task run times — from an uncompressed,
    non-rolling Spark event log."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = props.get("spark.jobGroup.id", BENCH_GROUP)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "shuffle_bytes": (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                })
    out: dict[str, dict] = {}
    for sid, ts in tasks.items():
        g = out.setdefault(stage_group.get(sid, BENCH_GROUP), {
            "run_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0, "tasks": 0,
            "stages": {}})
        g["run_ms"] += sum(t["run_ms"] for t in ts)
        g["shuffle_bytes"] += sum(t["shuffle_bytes"] for t in ts)
        g["spill_bytes"] += sum(t["spill_bytes"] for t in ts)
        g["tasks"] += len(ts)
        g["stages"][sid] = [t["run_ms"] for t in ts]
    return out


def task_skew(stages: dict[int, list[int]]) -> float:
    """max / median task run time of the layer's heaviest stage (by summed
    run time); 0 when the layer ran no task."""
    if not stages:
        return 0.0
    heaviest = max(stages.values(), key=sum)
    return max(heaviest) / max(statistics.median(heaviest), 1)


# --- process tree RSS -------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: RSS with each shared page split among the
    processes mapping it, so forked Python workers sharing the daemon's
    pages are not counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed PSS of every descendant of this process (the
    Spark JVM and its Python workers) until stopped; keeps the peak."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak_bytes = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(pss_bytes(p) for p in descendants(me))
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self._interval)


# --- host context -----------------------------------------------------------

def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU jiffies since boot, summed over CPUs: the share
    of time the hypervisor ran someone else while this VM wanted a CPU."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))
