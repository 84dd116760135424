"""Measurement helpers: percentiles, spans, and a /proc process-tree
sampler (CPU seconds and resident memory of a whole process tree,
without psutil)."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_EVERY_S = 0.25  # peak RSS resolution; one /proc scan takes a few ms


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values) -> dict:
    """p50 / p90 / max of a sample, with the sample count `n`."""
    xs = list(values)
    if not xs:
        return {"n": 0}
    return {
        "n": len(xs),
        "p50": percentile(xs, 50),
        "p90": percentile(xs, 90),
        "max": max(xs),
    }


class Tracer:
    """Spans kept in memory and written out once, when the run ends.

    A span is (layer, id, start, seconds, attrs); spans of one query or
    one micro-batch share `id`. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextmanager
    def span(self, layer: str, ident, **attrs):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.record(layer, ident, t0, time.perf_counter() - t0, **attrs)

    def record(self, layer: str, ident, start: float, seconds: float, **attrs):
        if self.enabled:
            self.spans.append(
                {"layer": layer, "id": ident, "start": start, "s": seconds, **attrs}
            )

    def seconds(self, layer: str) -> dict:
        """Span seconds of one layer, keyed by span id."""
        return {s["id"]: s["s"] for s in self.spans if s["layer"] == layer}

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _stat(pid: int):
    """(ppid, cpu ticks incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
        with open(f"/proc/{pid}/statm", "rb") as fh:
            rss_pages = int(fh.read().split()[1])
    except (OSError, IndexError, ValueError):
        return None
    # Fields after the parenthesised command name; the name may hold spaces.
    f = raw[raw.rindex(")") + 2 :].split()
    ppid = int(f[1])
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ppid, ticks, rss_pages * PAGE


def scan() -> dict[int, tuple[int, int, int]]:
    """`_stat` of every process, keyed by pid."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    return stats


def tree(stats: dict, root: int, exclude: frozenset = frozenset()) -> set[int]:
    """`root` and its descendants in `stats`, without the subtrees rooted
    at `exclude`."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    pids = set()
    todo = [root] if root in stats else []
    while todo:
        pid = todo.pop()
        if pid not in exclude:
            pids.add(pid)
            todo.extend(children.get(pid, ()))
    return pids


def tree_usage(root: int, exclude: frozenset = frozenset()) -> tuple[float, int, set]:
    """(cpu seconds, rss bytes, pids) summed over `root` and its
    descendants, skipping the subtrees rooted at `exclude`."""
    stats = scan()
    pids = tree(stats, root, exclude)
    return (sum(stats[p][1] for p in pids) / CLK_TCK,
            sum(stats[p][2] for p in pids), pids)


class Window:
    """CPU ticks of a process tree between two samples.

    A process's ticks include the children it has reaped, so short-lived
    workers are not lost. Each process counts what it used since the
    window began (all of it if it started later), up to the last sample
    that saw it in the tree. A process that died after its parent in the
    tree last saw it alive was reaped by that parent, whose ticks now hold
    all of it, so only its ticks from before the window are taken back.
    A process that left the tree alive (orphaned when its parent was
    killed) keeps what it used while it was in the tree."""

    def __init__(self, stats: dict, pids: set):
        self.begin = {p: stats[p][1] for p in pids}
        self.last: dict[int, tuple[int, int]] = {}
        self.left: set[int] = set()
        self.peak = 0
        self.observe(stats, pids)

    def observe(self, stats: dict, pids: set) -> None:
        for p in pids:
            self.last[p] = stats[p][:2]
        self.left.update(p for p in self.last if p not in pids and p in stats)
        self.peak = max(self.peak, sum(stats[p][2] for p in pids))

    def ticks(self, stats: dict) -> int:
        total = 0
        for p, (ppid, t) in self.last.items():
            total += t - self.begin.get(p, 0)
            if p not in stats and p not in self.left and ppid in self.last:
                total -= t
        return total


class TreeSampler:
    """Samples a process tree in a background thread.

    `begin(section)` / `end(section)` delimit a window whose CPU seconds
    (`cpu[section]`) and peak RSS (`peak[section]`) are kept."""

    def __init__(self, root: int):
        self.root = root
        self.exclude: set[int] = set()
        self.open: dict[str, Window] = {}
        self.peak: dict[str, int] = {}
        self.cpu: dict[str, float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _scan(self) -> tuple[dict, set]:
        # A process that exits and is reaped while /proc is being read can
        # be missed by both itself and its parent's reaped-children time;
        # repeat until two scans in a row see the same processes.
        exclude = frozenset(self.exclude)
        stats = scan()
        pids = tree(stats, self.root, exclude)
        for _ in range(5):
            stats = scan()
            again = tree(stats, self.root, exclude)
            if again == pids:
                break
            pids = again
        return stats, pids

    def _sample(self) -> tuple[dict, set]:
        stats, pids = self._scan()
        with self._lock:
            for w in self.open.values():
                w.observe(stats, pids)
        return stats, pids

    def _loop(self):
        while not self._stop.wait(SAMPLE_EVERY_S):
            self._sample()

    def begin(self, section: str) -> None:
        stats, pids = self._scan()
        with self._lock:
            self.open[section] = Window(stats, pids)

    def end(self, section: str) -> None:
        stats, _ = self._sample()
        with self._lock:
            w = self.open.pop(section)
        self.cpu[section] = w.ticks(stats) / CLK_TCK
        self.peak[section] = w.peak

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
