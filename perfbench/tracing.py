"""Measurement helpers: layer spans, memory sampling, event-log counters, sizes.

Everything here observes the engine from outside: spans are recorded around
calls the benchmark makes into ``addressit_spark`` layers, memory is read
from ``/proc``, and engine counters come from the Spark event log that the
traced run enables.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional


class Tracer:
    """In-memory span recorder; spans are written out once, at the end.

    A span is (name, start, end, parent). A layer's self time is its
    duration minus the part of it covered by its child spans.
    """

    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.spans: List[Dict[str, object]] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Dict[str, object]]:
        rec: Dict[str, object] = {
            "trace": self.trace_id,
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])  # type: ignore[arg-type]
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def self_seconds(self, name: str) -> float:
        """Summed self time of every span with this name."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            dur = s["end"] - s["start"]  # type: ignore[operator]
            covered = sum(
                c["end"] - c["start"]  # type: ignore[operator]
                for c in self.spans
                if c["parent"] == s["id"] and c["end"] is not None
            )
            total += dur - covered
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % name) as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split among sharers.

    Python workers are forked from one daemon, so their plain RSS counts the
    same shared pages once per worker; PSS sums to the real footprint.
    """
    try:
        with open("/proc/%d/smaps_rollup" % pid) as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def process_tree(root_pid: int) -> List[int]:
    """A process and all of its descendants."""
    kids = _children_map()
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, []))
    return tree


def tree_pss_bytes(root_pid: int) -> int:
    """PSS of a process plus all of its descendants."""
    return sum(_pss_bytes(pid) for pid in process_tree(root_pid))


class MemSampler:
    """Samples the PSS of the JVM process tree (driver + Python workers)."""

    def __init__(self, root_pid: int, interval_s: float = 0.1) -> None:
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(self.root_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes(self.root_pid))


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


_COUNTED = ('{"Event":"SparkListenerTaskEnd"', '{"Event":"SparkListenerJobStart"')


def event_log_counters(
    log_dir: str, t0_ms: float, t1_ms: float
) -> Dict[str, float]:
    """Jobs, tasks, shuffle, spill, GC and failed tasks from the event log.

    Only jobs submitted and tasks launched inside ``[t0_ms, t1_ms]`` (epoch
    milliseconds) count, so set-up and warm-up work stays out.
    """
    c = {
        "session.jobs": 0,
        "session.tasks": 0,
        "session.shuffle_write_bytes": 0,
        "session.shuffle_read_bytes": 0,
        "session.spill_bytes": 0,
        "session.gc_s": 0.0,
        "session.failed_tasks": 0,
    }
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if not line.startswith(_COUNTED):
                    continue
                e = json.loads(line)
                if e["Event"] == "SparkListenerJobStart":
                    if t0_ms <= e["Submission Time"] <= t1_ms:
                        c["session.jobs"] += 1
                    continue
                info = e["Task Info"]
                if not t0_ms <= info["Launch Time"] <= t1_ms:
                    continue
                c["session.tasks"] += 1
                if info.get("Failed") or e["Task End Reason"]["Reason"] != "Success":
                    c["session.failed_tasks"] += 1
                m: Optional[dict] = e.get("Task Metrics")
                if not m:
                    continue
                c["session.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                c["session.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                sr = m.get("Shuffle Read Metrics", {})
                c["session.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics", {})
                c["session.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return c
