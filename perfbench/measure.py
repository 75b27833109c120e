"""Pure helpers for the benchmark's statistics and spans (no Spark needed)."""

from __future__ import annotations

import math
import os
import statistics
import threading
from dataclasses import dataclass

# A tail percentile is reported only when at least this many samples lie
# beyond it; below that it is one or two samples, not a tail.
MIN_BEYOND_TAIL = 10


def tail(samples: list[float], q: float) -> float | None:
    """The ``q``-quantile (0 < q < 1) of ``samples``, or None when fewer
    than ``MIN_BEYOND_TAIL`` samples lie strictly beyond it."""
    if not samples:
        return None
    ordered = sorted(samples)
    # nearest-rank: the smallest value with at least q of the samples at or below it
    value = ordered[max(0, math.ceil(q * len(ordered)) - 1)]
    beyond = sum(1 for s in ordered if s > value)
    return value if beyond >= MIN_BEYOND_TAIL else None


def highest_tail(samples: list[float], qs=(0.99, 0.9, 0.75)) -> tuple[float, float] | None:
    """The highest of ``qs`` that ``tail`` reports, as (q, value)."""
    for q in qs:
        value = tail(samples, q)
        if value is not None:
            return q, value
    return None


@dataclass
class RowOutcome:
    """What happened to one workload row over a whole run.

    ``raised`` names the layer whose call raised (construct, execute,
    sink or oracle) or is None; ``mismatched`` is True when the row ran
    but its output differed from the oracle."""

    raised: str | None = None
    mismatched: bool = False

    @property
    def failed(self) -> bool:
        return self.raised is not None or self.mismatched


def failure_counts(outcomes: dict[str, RowOutcome]) -> dict:
    """Count failed rows against rows attempted. A row that raised and a
    row whose output mismatched its oracle both count once."""
    attempted = len(outcomes)
    raised = sum(1 for o in outcomes.values() if o.raised is not None)
    mismatched = sum(1 for o in outcomes.values() if o.raised is None and o.mismatched)
    failed = raised + mismatched
    return {
        "attempted": attempted,
        "failed": failed,
        "raised": raised,
        "mismatched": mismatched,
        "failed_frac": failed / attempted if attempted else 0.0,
    }


@dataclass
class Span:
    """One timed call at a layer boundary. Times are epoch seconds."""

    name: str
    start: float
    end: float
    parent: int | None = None  # index of the parent span in the trace
    query: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    return span.duration - covered([(c.start, c.end) for c in children], span.start, span.end)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process has ended
        pass
    return 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after it start at ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root_pid: int) -> list[int]:
    """Every live descendant of ``root_pid``."""
    kids = _children_map()
    found, todo = [], [root_pid]
    while todo:
        for child in kids.get(todo.pop(), ()):
            found.append(child)
            todo.append(child)
    return found


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants, in MB.

    Counted as PSS, so a page shared by forked Python workers and the
    daemon they were forked from counts once, not once per process."""
    return sum(_pss_kb(p) for p in (root_pid, *descendants(root_pid))) / 1024.0


class PeakRss:
    """Samples the resident memory of a process tree on a thread and keeps
    the peak. Use as a context manager; the thread stops on exit."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.root_pid: int | None = None
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        if self.root_pid is not None:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
