"""Shared run context and helpers for the workloads."""

from __future__ import annotations

import contextlib
import datetime
import os
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench.spans import Tracer


@dataclass
class Ctx:
    """What a workload gets from the command line and the harness."""

    seed: int
    seconds: float
    trace: bool
    work: str  # scratch directory inside the checkout, removed after the run
    t_process: float  # epoch seconds when the process started
    tracer: Tracer
    meter: CpuMeter
    setup_cpu: float = 0.0  # CPU seconds from process start until the engine is ready
    gen_s: float = 0.0  # input generation time, excluded from the set-up time
    gen_cpu: float = 0.0  # CPU seconds of input generation, excluded likewise


@dataclass
class Result:
    """A workload's outcome. ``e2e`` and ``layers`` map metric names to
    values; ``report`` holds the workload's own named figures, which are
    printed for people next to the generic metrics they feed."""

    failures: dict[str, int] = field(default_factory=dict)
    attempted: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    report: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str, n: int = 1) -> None:
        if n:
            self.failures[what] = self.failures.get(what, 0) + n

    @property
    def failed(self) -> int:
        return sum(self.failures.values())


@contextlib.contextmanager
def generating(ctx: Ctx):
    """Book the time and CPU of the body as input generation."""
    t, cpu = time.perf_counter(), cpu_seconds()
    yield
    ctx.gen_s += time.perf_counter() - t
    ctx.gen_cpu += cpu_seconds() - cpu


def set_up(ctx: Ctx, res: Result) -> None:
    """Note the CPU seconds and wall time from process start until now,
    input generation excluded: the engine is ready."""
    ctx.setup_cpu = cpu_seconds() - ctx.gen_cpu
    res.report["setup_wall_s"] = time.time() - ctx.t_process - ctx.gen_s


def quantiles(samples, qs=(50, 99)) -> list[float]:
    a = np.asarray(samples, dtype=float)
    return [float(np.percentile(a, q)) for q in qs]


def start_spark(app: str):
    """The engine's session factory, timed for ``session.get_spark_s``."""
    from dcafs_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM this process started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a stuck JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def progress_end(p: dict) -> float:
    """Epoch seconds at which a streaming progress report's trigger ended."""
    start = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000.0


def batches_after(query, t0: float) -> list[dict]:
    """Progress reports of non-empty batches whose trigger ended after t0."""
    return [p for p in query.recentProgress if p["numInputRows"] > 0 and progress_end(p) > t0]


def phase_sums(progress: list[dict]) -> dict[str, float]:
    """Summed ``durationMs`` phases, in seconds."""
    out: dict[str, float] = {}
    for p in progress:
        for k, v in p["durationMs"].items():
            out[k] = out.get(k, 0.0) + v / 1000.0
    return out


# ------------------------------------------------------------- CPU cost
#
# Wall time on a shared host swings up to 2x from run to run with what the
# neighbours do (measured on a 4-vCPU Xeon VM: the same analytics pass took
# 1.3 s to 3.9 s in consecutive runs, with 3-30 % of the CPU stolen). CPU seconds leave out
# stolen time and waiting; scaling them by the time of a fixed control
# loop, sampled through the run, cancels most of the rest, the slow-down
# of a core whose sibling or cache is busy. The result, CPU seconds on a
# core where the control takes CONTROL_REF_S, is what the gated metrics
# report. Inside measured spans the JIT compiler threads are left out: a
# few warm-up passes cannot finish compilation, and what is left comes
# and goes with when the compiler gets to it (a quarter of a drain's CPU
# in some drains, a tenth in others).

CONTROL_LOOPS = 200_000
CONTROL_REF_S = 0.010  # about the control's mean time on the Xeon VM above
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _tree_pids(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _stat_ticks(path: str, children: bool) -> tuple[str, int]:
    """(command name, CPU ticks) from a /proc stat file."""
    with open(path) as fh:
        raw = fh.read()
    f = raw.rsplit(")", 1)[1].split()
    return raw[raw.index("(") + 1 : raw.rindex(")")], sum(int(x) for x in f[11 : 15 if children else 13])


def cpu_seconds(jit_ticks: dict | None = None) -> float:
    """CPU seconds (user + system) used so far by this process and every
    live process under it (the JVM, Spark's Python workers), including
    their children that have ended. With ``jit_ticks`` the JVM's compiler
    threads are left out: the dict keeps each one's last count, so one
    that has ended stays left out."""
    total = 0
    for p in _tree_pids(os.getpid()):
        try:
            comm, ticks = _stat_ticks(f"/proc/{p}/stat", children=True)
        except OSError:  # ended since it was listed
            continue
        total += ticks
        if jit_ticks is not None and comm == "java":
            for t in os.listdir(f"/proc/{p}/task"):
                try:
                    name, t_ticks = _stat_ticks(f"/proc/{p}/task/{t}/stat", children=False)
                except OSError:  # a thread that has ended keeps its last count
                    continue
                if name.startswith(JIT_THREADS):
                    jit_ticks[(p, t)] = t_ticks
    total -= sum(jit_ticks.values()) if jit_ticks is not None else 0
    return total / os.sysconf("SC_CLK_TCK")


def _control_loop() -> float:
    t = time.perf_counter()
    s = 0
    for i in range(CONTROL_LOOPS):
        s += i
    return time.perf_counter() - t


def control_s() -> float:
    """Seconds the control loop takes now, averaged over the processors
    this process may use: the loop runs pinned to each in turn (best of
    two, so that a preemption does not count). A virtual processor runs
    about 40 % slower while its core's other hyperthread is busy, and
    which ones are changes from second to second; the work measured runs
    on all of them."""
    cpus = sorted(os.sched_getaffinity(0))
    times = []
    try:
        for c in cpus:
            os.sched_setaffinity(0, {c})  # this thread only
            times.append(min(_control_loop(), _control_loop()))
    finally:
        os.sched_setaffinity(0, cpus)
    return sum(times) / len(times)


class CpuMeter:
    """CPU seconds of the process tree with the JIT compiler threads left
    out, and control samples taken through the run; ``ref`` turns CPU
    seconds into reference-core seconds with the mean sample."""

    def __init__(self):
        self.controls = [control_s()]
        self.jit_ticks: dict = {}

    def control(self) -> None:
        self.controls.append(control_s())

    def cpu(self) -> float:
        return cpu_seconds(self.jit_ticks)

    @property
    def ref(self) -> float:
        return CONTROL_REF_S / float(np.mean(self.controls))
