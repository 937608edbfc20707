"""Pure helpers: percentiles, the closed-loop op tally, process memory,
CPU and steal read from ``/proc``, and the host-speed calibration. No
Spark import, so the unit tests run without a JVM."""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

# Host-speed calibration: a fixed pure-Python loop, timed in thread CPU
# seconds on every usable core in turn. CAL_REF_S is what one loop takes
# on a quiet core of the 4-vCPU VM the benchmark was built on.
CAL_LOOP = 100_000
CAL_ROUNDS = 25
CAL_REF_S = 0.006

TAIL_MIN_BEYOND = 10  # a percentile is reported only with >= 10 samples above it
TAIL_CANDIDATES = (50, 75, 90, 95, 99)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int, beyond: int = TAIL_MIN_BEYOND) -> int | None:
    """Highest percentile in ``TAIL_CANDIDATES`` whose nearest rank among
    ``n`` samples leaves at least ``beyond`` samples above it; ``None``
    when even the median does not."""
    best = None
    for q in TAIL_CANDIDATES:
        rank = max(1, math.ceil(q / 100.0 * n))
        if n - rank >= beyond:
            best = q
    return best


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    why: str = ""
    value: object = None  # the op's output until it is verified
    traced: bool = False


@dataclass
class Tally:
    """Closed-loop op outcomes. An op that raises, or whose result is
    found wrong afterwards, is failed; only ok ops give latency samples
    and count towards throughput."""

    ops: list[Op] = field(default_factory=list)
    window_s: float = 0.0
    window_start: float = 0.0  # epoch seconds, the clock Spark progress uses

    def record(self, name: str, seconds: float, ok: bool = True, why: str = "") -> int:
        self.ops.append(Op(name, seconds, ok, why[:300]))
        return len(self.ops) - 1

    def mark_wrong(self, index: int, why: str) -> None:
        op = self.ops[index]
        op.ok, op.why = False, f"wrong result: {why}"[:300]

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not op.ok for op in self.ops)

    def latencies(self) -> list[float]:
        return [op.seconds for op in self.ops if op.ok]

    def summary(self) -> dict:
        lat = self.latencies()
        ok = len(lat)
        out = {
            "attempted": self.attempted,
            "failed": self.failed,
            "samples": ok,
            "window_s": self.window_s,
            "ops_per_s": ok / self.window_s if self.window_s > 0 else 0.0,
            "latency_p50_s": statistics.median(lat) if lat else 0.0,
            "errors": [f"{op.name}: {op.why}" for op in self.ops if not op.ok][:10],
        }
        tail = tail_percentile(ok)
        if tail is not None and tail > 50:
            out[f"latency_p{tail}_s"] = percentile(lat, tail)
        return out


def trace_overhead(ops: list[Op]) -> float:
    """1 - traced ops/s over untraced ops/s, from the ok ops of one run
    that alternates traced and untraced ops."""
    on = [op.seconds for op in ops if op.ok and op.traced]
    off = [op.seconds for op in ops if op.ok and not op.traced]
    if not on or not off:
        return 0.0
    return 1.0 - (len(on) / sum(on)) / (len(off) / sum(off))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of a live process, in MiB; 0 when
    the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_times() -> list[int]:
    """Aggregate ``/proc/stat`` CPU counters (user .. steal), in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: a slow run with a high share was slowed by
    its neighbours, not by the program."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while we looked
            kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_seconds(pid: int) -> float:
    """User + system CPU seconds used so far by ``pid`` and its live
    descendants, including children they have reaped. Time the
    hypervisor steals from the guest is not in it."""
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def host_slowness(rounds: int = CAL_ROUNDS) -> float:
    """How slowly this host runs instructions right now: the mean thread
    CPU time of ``CAL_LOOP`` iterations of a Python loop, over ``rounds``
    passes across every usable core, divided by ``CAL_REF_S``.

    Thread CPU time leaves out stolen and waiting time, yet on a shared
    host the same work still costs more CPU seconds when other guests
    load the physical cores (shared execution units, lower clock). This
    reading measures that factor without the program's code; take it
    while the run's JVM is not running, so the run's own load does not
    enter it."""
    cpus = sorted(os.sched_getaffinity(0))
    samples = []
    try:
        for _ in range(rounds):
            for cpu in cpus:
                os.sched_setaffinity(0, {cpu})
                start = time.thread_time()
                x = 0
                for i in range(CAL_LOOP):
                    x += i * i
                samples.append(time.thread_time() - start)
    finally:
        os.sched_setaffinity(0, cpus)
    return statistics.fmean(samples) / CAL_REF_S
