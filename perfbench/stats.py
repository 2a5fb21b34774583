"""Small measurement helpers shared by the benchmark: percentiles with a
sample-count rule, failure accounting, span recording, process-tree CPU
time and resident memory from /proc. Standard library only."""

from __future__ import annotations

import math
import os
import re
import threading
import time

# a percentile is reported only when at least this many samples lie
# beyond it (p50 needs 20 samples, p90 needs 100)
MIN_TAIL = 10

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def min_samples(q: float) -> int:
    """Smallest sample count that leaves MIN_TAIL samples above the
    q-th percentile (0 < q < 100)."""
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    return math.ceil(MIN_TAIL * 100 / (100 - q) - 1e-9)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank q-th percentile. Raises when fewer than
    ``min_samples(q)`` values are given: a tail figure resting on fewer
    than MIN_TAIL samples beyond it is not reported."""
    need = min_samples(q)
    if len(values) < need:
        raise ValueError(
            f"p{q:g} needs at least {need} samples, got {len(values)}"
        )
    s = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(s)))
    return s[rank - 1]


def median(values: list[float]) -> float:
    """Plain median (mean of the middle pair for even counts)."""
    if not values:
        raise ValueError("median of no values")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ys over xs; 0 when xs has no spread."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


class Ledger:
    """Operations attempted and failed. An operation fails when it
    raises or when a later check on its output fails; it counts as
    failed at most once."""

    def __init__(self) -> None:
        self.ops: list[str] = []
        self.failures: dict[int, str] = {}

    def op(self, name: str) -> int:
        self.ops.append(name)
        return len(self.ops) - 1

    def fail(self, op_id: int, reason: str) -> None:
        self.failures.setdefault(op_id, f"{self.ops[op_id]}: {reason}")

    def check(self, op_id: int, ok: bool, reason: str) -> bool:
        if not ok:
            self.fail(op_id, reason)
        return ok

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return len(self.failures)


class Spans:
    """Spans around the calls into each layer, kept in memory and written
    out when the run ends: wall clock, and the CPU seconds the process
    tree spent (``cpu_clock``, returning (work, jit) seconds as
    ``tree_cpu`` does; default none). Spans never overlap: the
    benchmark drives one operation at a time, so a Spark job belongs to
    the span whose interval holds its submission time."""

    def __init__(self, cpu_clock=None) -> None:
        self.items: list[dict] = []
        self.cpu_clock = cpu_clock or (lambda: (0.0, 0.0))
        # called before each span starts, outside it (a JVM garbage
        # collection, so a span pays for the garbage it makes itself)
        self.settle = lambda: None

    def run(self, name: str, fn, ledger: Ledger | None = None):
        """Time ``fn()`` as span ``name``; returns (result, wall_s, op_id).
        With a ledger the call is an operation: an exception marks it
        failed and the result is None."""
        op_id = ledger.op(name) if ledger is not None else None
        self.settle()
        c0, t0 = self.cpu_clock(), time.time()
        try:
            result = fn()
        except Exception as e:  # one failed operation must not end the run
            if ledger is None:
                raise
            ledger.fail(op_id, f"{type(e).__name__}: {e}")
            result = None
        t1, c1 = time.time(), self.cpu_clock()
        self.items.append({
            "name": name, "start": t0, "end": t1,
            "cpu_s": c1[0] - c0[0], "jit_s": c1[1] - c0[1],
        })
        return result, t1 - t0, op_id

    def cpu(self, names: tuple[str, ...]) -> float:
        return sum(s["cpu_s"] for s in self.items if s["name"] in names)


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
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(root: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


# JVM just-in-time compiler threads (comm is cut to 15 characters). Their
# CPU is the JVM warming up, not the engine's work, and the largest and
# least repeatable share of a short run's CPU; the launch keeps them alive
# for the JVM's lifetime (-XX:-UseDynamicNumberOfCompilerThreads), so
# their time can be taken out of the process's exactly.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_ticks(path: str) -> tuple[str, list[int]]:
    with open(path) as f:
        stat = f.read()
    # the command name may hold spaces: fields resume after the last ')'
    fields = stat[stat.rindex(")") + 2 :].split()
    return stat[stat.index("(") + 1 : stat.rindex(")")], [int(x) for x in fields[11:15]]


def tree_cpu(root: int) -> tuple[float, float]:
    """(work, jit): user + system CPU seconds of ``root`` and its live
    descendants, including the children each of them has reaped, less
    the JVM's JIT compiler threads; and those threads' own seconds. Time
    the hypervisor steals from this guest is in neither."""
    ticks = jit = 0
    for pid in _descendants(root):
        try:
            comm, t = _stat_ticks(f"/proc/{pid}/stat")
            ticks += sum(t)  # utime stime cutime cstime
            if comm != "java":
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                name, tt = _stat_ticks(f"/proc/{pid}/task/{tid}/stat")
                if name.startswith(JIT_THREADS):
                    jit += tt[0] + tt[1]
        except OSError:
            continue
    hz = os.sysconf("SC_CLK_TCK")
    return (ticks - jit) / hz, jit / hz


class SpeedProbe:
    """Background thread that times a fixed pure-Python loop by its own
    thread CPU time every ``interval`` seconds: how many CPU seconds a
    fixed piece of work costs on this machine right now. On a shared
    host that cost moves with the neighbours' load, and the CPU seconds
    of every span move with it; use as a context manager so the thread
    is always joined."""

    LOOP = 20_000  # iterations per sample, about a millisecond
    REF_COST_S = 1e-3  # the cost a sample is scaled to (see speed_scale)

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            c0 = time.thread_time()
            x = 0
            for i in range(self.LOOP):
                x += i
            self.samples.append((time.time(), time.thread_time() - c0))

    def cost(self, t0: float, t1: float) -> float:
        """Median CPU seconds of one sample taken within [t0, t1], or of
        the samples nearest to it when none was."""
        inside = [c for t, c in self.samples if t0 <= t <= t1]
        if not inside:
            inside = [c for _, c in sorted(self.samples, key=lambda s: abs(s[0] - t1))[:3]]
        return median(inside) if inside else 0.0

    def speed_scale(self, t0: float, t1: float) -> float:
        """Factor that turns CPU seconds spent within [t0, t1] into CPU
        seconds on a machine where a sample costs REF_COST_S; 1 with no
        samples. Taken over the whole interval rather than per span:
        during a busy span the benchmark's own threads slow the probe."""
        cost = self.cost(t0, t1)
        return self.REF_COST_S / cost if cost else 1.0

    def __enter__(self) -> "SpeedProbe":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def steal_seconds() -> float:
    """Time the hypervisor has stolen from this machine's CPUs, summed."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tree_rss_bytes(root: int) -> int:
    """Summed resident memory of ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the process tree's summed RSS; use as a
    context manager so the thread is always joined."""

    def __init__(self, interval: float = 0.25, enabled: bool = True) -> None:
        self.interval = interval
        self.enabled = enabled
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self.enabled:
            self._thread.join(timeout=10)


def validate_metrics(metrics: dict, spec_metrics: list[dict]) -> list[str]:
    """Problems with a result's metrics against the spec's metric list:
    missing or extra names, unit mismatches, malformed names or units,
    non-numeric values."""
    problems = []
    want = {m["name"]: m["unit"] for m in spec_metrics}
    for name in sorted(set(want) - set(metrics)):
        problems.append(f"missing metric {name}")
    for name, m in metrics.items():
        if name not in want:
            problems.append(f"metric {name} not in BENCHMARK.json")
            continue
        if not NAME_RE.match(name):
            problems.append(f"bad metric name {name}")
        if m.get("unit") != want[name] or not UNIT_RE.match(str(m.get("unit"))):
            problems.append(f"unit of {name} is {m.get('unit')}, want {want[name]}")
        v = m.get("value")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            problems.append(f"value of {name} is not a finite number: {v!r}")
    return problems
