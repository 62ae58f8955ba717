"""Spans around calls into the program's layers, and a resident-memory sampler.

Each span tags the Spark jobs started inside it with its own job group, so
the event log can attribute jobs, tasks, shuffle bytes and executor time to
it. Spans are kept in memory and turned into metrics when the run ends.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    sc: object  # SparkContext
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(name, f"{self.run_id}/{idx}/{name}", parent, self.run_id, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(sp.group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[parent].group if parent is not None else None)

    def descendants(self, idx: int) -> list[int]:
        out = [idx]
        for i, sp in enumerate(self.spans):
            if sp.parent in out:
                out.append(i)
        return out


def _parent_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces: ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Summed resident memory of every descendant of ``root`` (the driver
    JVM, its Python daemon and workers), excluding ``root`` itself."""
    kids = _parent_map()
    total, todo = 0, list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024


class RssSampler:
    """Peak of ``tree_rss_mb`` sampled every ``interval`` seconds while active."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
