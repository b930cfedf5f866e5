"""Shared pieces of the workloads: the run context, timed operations,
percentiles, disk accounting, and the host and JVM readings every run
reports (CPU of the process tree, host steal, JIT and GC time)."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Ctx:
    """What a workload gets from the runner."""

    spark: object
    seed: int
    tracer: object
    work_dir: str

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)


@dataclass
class Outcome:
    """Counts and per-operation timings of one run."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    # (class, ms) of every timed operation, in order
    timed: list[tuple[str, float]] = field(default_factory=list)
    timing: bool = False

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)


@dataclass
class Op:
    """One operation of a block: ``call`` runs it through the public API
    and ``check`` says whether its result is right."""

    cls: str
    call: object
    check: object = None


def run_op(ctx: Ctx, out: Outcome, op: Op):
    """Run one operation: counted as attempted, timed, traced as an
    ``op:<class>`` span. A raise or a failed check counts as a failed
    operation; the check is not timed. Returns the result (None if the
    call raised)."""
    tr = ctx.tracer
    out.attempted += 1
    with tr.op(op.cls):
        t0 = time.perf_counter()
        try:
            res, err = op.call(), None
        except Exception as e:  # any raise is a failed operation
            res, err = None, f"{e!r:.300}"
        ms = (time.perf_counter() - t0) * 1e3
    ok = err is None and (op.check is None or op.check(res))
    if not ok:
        out.fail(f"{op.cls}: {err or 'wrong result'}")
    if out.timing:
        out.timed.append((op.cls, ms))
    return res


def run_blocks(ctx: Ctx, st: dict, out: Outcome, block, n: int) -> None:
    """Run ``n`` whole blocks of operations."""
    for _ in range(n):
        for op in block(ctx, st):
            run_op(ctx, out, op)


def pct(xs: list[float], p: int) -> float:
    """The p-th percentile (inclusive method, linear interpolation)."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def disk_usage(path: str) -> tuple[int, int]:
    """(parquet files, bytes of every regular file) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(root, name))
            files += name.endswith(".parquet")
    return files, size


# -- host and process readings -------------------------------------------------

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended
        return None
    # the command name is in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_s(root: int | None = None) -> float:
    """User+sys CPU seconds of process ``root`` (default: this one) and
    every live descendant, plus what they reaped from children that
    ended."""
    root = os.getpid() if root is None else root
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1]), []).append(int(name))
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        # fields after the name: utime=11, stime=12, cutime=13, cstime=14
        total += sum(int(x) for x in st[11:15]) * _TICK_S
        todo.extend(children.get(pid, ()))
    return total


def host_cpu() -> tuple[int, int, int]:
    """(steal, busy, all) ticks of the host's CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user
    busy = vals[0] + vals[1] + vals[2] + vals[5] + vals[6]
    return vals[7], busy, sum(vals[:8])


def steal_share(a: tuple, b: tuple) -> float:
    """Share of host CPU time stolen between two ``host_cpu`` readings."""
    return (b[0] - a[0]) / max(b[2] - a[2], 1)


def other_busy_share(a: tuple, b: tuple, own_cpu_s: float) -> float:
    """Share of host CPU time busy between two ``host_cpu`` readings
    outside the ``own_cpu_s`` seconds this run's processes used."""
    return ((b[1] - a[1]) - own_cpu_s / _TICK_S) / max(b[2] - a[2], 1)


def jvm_times_ms(spark) -> dict[str, float]:
    """Driver-JVM JIT compile ms and GC ms so far, from its management
    beans (a handful of py4j calls)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gcs = mf.getGarbageCollectorMXBeans()
    return {
        "jit_ms": float(mf.getCompilationMXBean().getTotalCompilationTime()),
        "gc_ms": float(sum(gcs.get(i).getCollectionTime() for i in range(gcs.size()))),
    }


def jvm_flags(spark) -> list[str]:
    """The driver JVM's command-line flags, as it reports them."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [str(x) for x in mf.getRuntimeMXBean().getInputArguments()]
