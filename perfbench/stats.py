"""Pure arithmetic of the benchmark: percentiles, failure accounting,
slot utilisation and the process-tree memory probe.  No Spark here, so
the tests exercise it without starting an engine."""

from __future__ import annotations

import math
import os
import threading

MIN_BEYOND = 10


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``q``-th percentile (``q`` in (0, 100))."""
    return n - math.ceil(q / 100.0 * n)


def min_samples_for(q: float, beyond: int = MIN_BEYOND) -> int:
    """Smallest sample count that leaves ``beyond`` samples above the
    nearest-rank ``q``-th percentile."""
    n = beyond
    while samples_beyond(n, q) < beyond:
        n += 1
    return n


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile: the smallest sample with at
    least ``q`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q / 100.0 * len(ordered)) - 1)]


def slot_util(task_busy_s: float, exec_s: float, slots: int) -> float:
    """Share of the executor slots kept busy while plans executed:
    summed task run time over (execution wall time x slots)."""
    if exec_s <= 0 or slots <= 0:
        return 0.0
    return task_busy_s / (exec_s * slots)


class Ledger:
    """Attempted/failed accounting over the timed operations.

    An operation counts as failed if it raised, ran past its timeout,
    or its output was later found wrong.  A wrong result is detected
    once per operation name (outputs are deterministic), so
    ``mark_wrong`` fails every attempt of that name that has not
    already failed for another reason."""

    def __init__(self) -> None:
        self.attempts: dict[str, int] = {}
        self.errors: dict[str, int] = {}
        self.wrong: set[str] = set()
        self.messages: list[str] = []

    def attempt(self, name: str) -> None:
        self.attempts[name] = self.attempts.get(name, 0) + 1

    def error(self, name: str, message: str) -> None:
        self.errors[name] = self.errors.get(name, 0) + 1
        self.messages.append(f"{name}: {message}")

    def mark_wrong(self, name: str, message: str) -> None:
        self.wrong.add(name)
        self.messages.append(f"{name}: wrong output: {message}")

    @property
    def attempted(self) -> int:
        return sum(self.attempts.values())

    @property
    def failed(self) -> int:
        return sum(
            self.attempts[n] if n in self.wrong else self.errors.get(n, 0) for n in self.attempts
        )

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from
    ``/proc/stat``: the time the hypervisor ran other guests on this
    machine's virtual CPUs, and all time."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all of its descendants:
    each page shared between processes (a forked Python worker and its
    daemon) is split among them, so the sum counts it once."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the memory of this process and its descendants in the
    background while the ``with`` block runs; ``peak`` is the largest
    sample.  Reading the JVM's ``smaps_rollup`` walks its whole address
    space (tens of milliseconds), so samples are taken only every
    ``interval_s`` to keep the probe off the measured cores."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    @property
    def peak(self) -> int:
        return max(self.samples, default=0)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self.interval_s):
            self.samples.append(tree_pss_bytes(root))

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
