"""In-memory spans and counts, plus the host-side probes the benchmark
reads: process-tree PSS, a fixed NumPy control and the Spark event log.

A span is (name, start, end, parent). A layer's self time is its
duration minus the part of that interval its child spans cover.
Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from pathlib import Path


class _NoSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NO_SPAN = _NoSpan()


class _Span:
    def __init__(self, tracer: "Tracer", name: str):
        self._tracer = tracer
        self._name = name

    def __enter__(self):
        t = self._tracer
        parent = t._stack[-1] if t._stack else None
        self._idx = len(t.spans)
        t.spans.append([self._name, time.perf_counter(), None, parent])
        t._stack.append(self._idx)
        return self

    def __exit__(self, *exc):
        t = self._tracer
        t._stack.pop()
        t.spans[self._idx][2] = time.perf_counter()
        return False


class Tracer:
    """Records spans only when enabled; counts are always kept (the
    output checks read some of them)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name) if self.enabled else _NO_SPAN

    def count(self, name: str, value: float) -> None:
        self.counts[name] = value

    def self_times(self) -> list[tuple[str, float]]:
        """(name, self seconds), one per span, in span order."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for name, t0, t1, parent in self.spans:
            if parent is not None and t1 is not None:
                kids.setdefault(parent, []).append((t0, t1))
        out = []
        for i, (name, t0, t1, _) in enumerate(self.spans):
            if t1 is None:  # still open: no self time yet
                out.append((name, 0.0))
                continue
            covered, edge = 0.0, t0
            for c0, c1 in sorted(kids.get(i, [])):
                c0, c1 = max(c0, edge), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    edge = c1
            out.append((name, (t1 - t0) - covered))
        return out

    def per_pass(self, name: str) -> float:
        """Median over top-level spans (passes) that reach ``name`` of
        the self time ``name`` spends inside each; 0 when never seen."""
        root = []
        for _, _, _, parent in self.spans:
            root.append(len(root) if parent is None else root[parent])
        sums: dict[int, float] = {}
        for i, (n, s) in enumerate(self.self_times()):
            if n == name:
                sums[root[i]] = sums.get(root[i], 0.0) + s
        return statistics.median(sums.values()) if sums else 0.0

    def longest(self, name: str) -> float:
        return max((s for n, s in self.self_times() if n == name), default=0.0)

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        doc = dict(extra)
        doc["spans"] = [
            {"name": n, "start": t0, "end": t1, "parent": p}
            for n, t0, t1, p in self.spans
        ]
        doc["self_s"] = self.self_times()
        doc["counts"] = self.counts
        path.write_text(json.dumps(doc))


# --- process tree ----------------------------------------------------------

def descendants(root_pid: int) -> set[int]:
    """Every live process below ``root_pid`` (JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PssSampler:
    """Background thread: peak of the summed PSS of this process and all
    its descendants. PSS, not RSS, so pages shared by the Python workers
    (the mmap'd TIN pack) count once in total."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = pss_kb(me) + sum(pss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


# --- host control ------------------------------------------------------------

def control_work() -> float:
    """Fixed single-threaded NumPy work; its wall separates host speed
    waves from program changes. Returns seconds."""
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.normal(0, 1, (256, 256))
    t0 = time.perf_counter()
    acc = 0.0
    for _ in range(200):
        acc += float(np.abs(np.fft.rfft2(a)).sum())
        a = a * 0.999 + 0.001
    return time.perf_counter() - t0


# --- Spark event log ---------------------------------------------------------

def shuffle_bytes_by_group(log_dir: Path) -> dict[str, int]:
    """Shuffle bytes written per job group, summed over the task-end
    events of the (uncompressed) event log files under ``log_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, int] = {}
    for path in sorted(log_dir.rglob("events_*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = (ev.get("Task Metrics") or {}).get(
                        "Shuffle Write Metrics") or {}
                    g = stage_group.get(ev.get("Stage ID"), "")
                    out[g] = out.get(g, 0) + int(
                        m.get("Shuffle Bytes Written", 0))
    return out
