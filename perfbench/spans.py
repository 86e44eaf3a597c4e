"""Spans around the benchmark's calls into the program, plus an RSS sampler.

A span records name, start, end, parent and the run id shared by every
span of one benchmark run. Spans stay in memory and are written out once,
at the end of the run, together with each span's self time (its duration
minus the part covered by its child spans).
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children's intervals
        (children of one span never overlap: calls are sequential)."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {
            s["id"]: (s["end"] - s["start"]) - child[s["id"]]
            for s in self.spans if s["end"] is not None
        }

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs.get(s["id"])}) + "\n")


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` as its proportional share (PSS): a page
    shared by several processes (Python workers forked from one daemon, a
    JVM forking a helper) counts once across them, not once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed resident memory (PSS) of this process's descendants (the
    JVM and its Python workers), sampled every ``interval`` seconds;
    ``take_peak`` returns the peak since its previous call."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in _descendants(me))
            with self._lock:
                self._peak = max(self._peak, total)
            self._stop.wait(self.interval)

    def take_peak(self) -> int:
        """Peak since the previous call (or the start), then reset."""
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
