"""Process counters and the per-layer tracer.

`Counters` reads what the kernel already keeps: driver and JVM CPU time
(utime+stime), the JVM's JIT compiler threads' share of it, and host steal
from `/proc/stat`. It costs no py4j traffic, so the timed run uses it
alone.

`Tracer` is for the traced run. It wraps each layer's public entry point
in a span that records wall time, CPU, py4j commands and the Spark job
group, keeps the spans in memory, and joins them at the end with the
Spark event log to attribute jobs, tasks, shuffle and spill to layers.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_DETACH = "m\nd\n"  # py4j MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
GROUP_PREFIX = "pb:"
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _proc_cpu_s(pid: int | str) -> float:
    fields = open(f"/proc/{pid}/stat").read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def _jit_cpu_s(pid: int) -> float:
    """CPU time of the JVM's C1/C2 compiler threads (comm is cut to 15
    characters: "C2 CompilerThre"). The JVM must keep them alive
    (-XX:-UseDynamicNumberOfCompilerThreads), or an exited thread's time
    would move from this figure into the process total."""
    total = 0.0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(JIT_THREADS):
                    continue
            total += _proc_cpu_s(f"{pid}/task/{tid}")
        except OSError:  # the thread ended between listdir and open
            continue
    return total


def host_ticks() -> tuple[int, int]:
    """(steal ticks, all ticks) summed over every CPU of the host."""
    vals = [int(v) for v in open("/proc/stat").readline().split()[1:]]
    return vals[7], sum(vals[:8])


@dataclass
class Counters:
    jvm_pid: int

    def cpu(self) -> tuple[float, float, float]:
        """(driver CPU, JVM CPU without JIT compiling, JIT compiling)."""
        t = os.times()
        jit = _jit_cpu_s(self.jvm_pid)
        return t.user + t.system, _proc_cpu_s(self.jvm_pid) - jit, jit

    def steal_s(self) -> float:
        return host_ticks()[0] / _TICK


@dataclass
class Span:
    sid: int
    layer: str
    op: int
    parent: int | None
    tag: str | None = None
    wall: float = 0.0
    child_wall: float = 0.0
    py4j: int = 0
    detach: int = 0
    driver_cpu: float = 0.0
    jvm_cpu: float = 0.0
    steal: float = 0.0
    jobs: list = field(default_factory=list)


class Tracer:
    """Spans around layer entry points, with py4j and job-group tagging."""

    def __init__(self, spark, counters: Counters):
        self.sc = spark.sparkContext
        self.counters = counters
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op = -1  # -1: outside any op (set-up)
        self.op_windows: dict[int, tuple[float, float]] = {}
        self.calls = 0
        self.detach = 0
        self._quiet = 0
        self._patches: list[tuple[object, str, object]] = []
        self._count_py4j()

    # -- py4j command counting --------------------------------------------
    def _count_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        tracer = self

        @functools.wraps(orig)
        def send_command(client, command, *a, **k):
            if not tracer._quiet:
                if command.startswith(_DETACH):
                    tracer.detach += 1
                else:
                    tracer.calls += 1
            return orig(client, command, *a, **k)

        self._patch(GatewayClient, "send_command", send_command)

    def _patch(self, owner: object, attr: str, new: object) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def restore(self) -> None:
        for owner, attr, old in reversed(self._patches):
            setattr(owner, attr, old)
        self._patches.clear()

    @contextmanager
    def quiet(self):
        """Tracer bookkeeping: its own py4j calls are not the program's."""
        self._quiet += 1
        try:
            yield
        finally:
            self._quiet -= 1

    # -- spans ------------------------------------------------------------
    def wrap(self, owner: object, attr: str, layer: str) -> None:
        """Replace `owner.attr` with a version that runs inside a span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **k):
            with tracer.span(layer):
                return fn(*a, **k)

        self._patch(owner, attr, traced)

    @contextmanager
    def span(self, layer: str, tag: str | None = None):
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), layer, self.op, parent.sid if parent else None, tag)
        self.spans.append(s)
        with self.quiet():
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{s.sid}")
            d0, j0, _ = self.counters.cpu()
            st0 = self.counters.steal_s()
        c0, x0 = self.calls, self.detach
        self.stack.append(s)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall = time.perf_counter() - t0
            self.stack.pop()
            s.py4j, s.detach = self.calls - c0, self.detach - x0
            with self.quiet():
                d1, j1, _ = self.counters.cpu()
                s.steal = self.counters.steal_s() - st0
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            s.driver_cpu, s.jvm_cpu = d1 - d0, j1 - j0
            if parent is not None:
                parent.child_wall += s.wall

    @contextmanager
    def traced_op(self, index: int):
        self.op = index
        t0 = time.time()
        try:
            with self.span("op"):
                yield
        finally:
            self.op_windows[index] = (t0, time.time())
            self.op = -1

    # -- event log --------------------------------------------------------
    def attach_event_log(self, log_dir: str) -> None:
        """Attach each job in the Spark event log, with its tasks' counts,
        shuffle and spill, to the span whose job group submitted it."""
        files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
        if not files:
            raise RuntimeError(f"no Spark event log in {log_dir}")
        by_sid = {s.sid: s for s in self.spans}
        seal_of_op = {s.op: s for s in self.spans if s.layer == "seal"}
        stage_job: dict[int, dict] = {}
        with open(files[-1]) as fh:
            for line in fh:
                if '"Event":"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    span = None
                    if group.startswith(GROUP_PREFIX):
                        span = by_sid.get(int(group[len(GROUP_PREFIX):]))
                    elif group.startswith("edge:"):
                        # api.calculate tags its own seal writes "edge:<name>"
                        span = seal_of_op.get(self._op_at(ev["Submission Time"] / 1e3))
                    job = {"tasks": 0, "failed": 0, "shuffle": 0, "spill": 0}
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = job
                    if span is not None:
                        span.jobs.append(job)
                elif '"Event":"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    job = stage_job.get(ev["Stage ID"])
                    if job is None:
                        continue
                    job["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        job["failed"] += 1
                    m = ev.get("Task Metrics") or {}
                    job["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job["spill"] += m.get("Disk Bytes Spilled", 0)

    def _op_at(self, t: float) -> int:
        for i, (a, b) in self.op_windows.items():
            if a <= t <= b:
                return i
        return -1

    # -- aggregation ------------------------------------------------------
    def layer_totals(self, op: int) -> dict[str, dict[str, float]]:
        """Figures per layer for one traced op. Every figure is inclusive
        of nested spans except `self_s`; `seal` leaves out the nested
        pipeline (api.calculate minus run_pipeline)."""
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)

        def figures(s: Span) -> dict[str, float]:
            jobs, todo = [], [s]
            while todo:
                x = todo.pop()
                jobs += x.jobs
                todo += kids[x.sid]
            return {
                "wall_s": s.wall,
                "self_s": s.wall - s.child_wall,
                "py4j_calls": s.py4j,
                "detach_calls": s.detach,
                "driver_cpu_s": s.driver_cpu,
                "jvm_cpu_s": s.jvm_cpu,
                "steal_s": s.steal,
                "jobs": len(jobs),
                "tasks": sum(j["tasks"] for j in jobs),
                "tasks_failed": sum(j["failed"] for j in jobs),
                "shuffle_bytes": sum(j["shuffle"] for j in jobs),
                "spill_bytes": sum(j["spill"] for j in jobs),
            }

        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s.op != op:
                continue
            f = figures(s)
            if s.layer == "seal":
                for k in kids[s.sid]:
                    if k.layer == "pipeline":
                        for name, v in figures(k).items():
                            f[name] -= v
            key = f"{s.layer}.{s.tag}" if s.tag else s.layer
            for name, v in f.items():
                out[key][name] += v
        return out
