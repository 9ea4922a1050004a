#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the RWA engine and query suite.

    python3 perfbench/run.py --workload sealed_run --seed 1 --seconds 2 --trace 0

Run from the repository root. Workloads are in `workloads.py`. One
process, one closed-loop client:

1. generate the star-schema inputs for `--seed` under `perfbench/.work`;
2. start the session with `session.build_session` on a fixed
   `SPARK_GRAFT_CPUS` and run one warm-up op of the workload -- the CPU
   this step costs is `setup_s`;
3. time ops back to back for `--seconds` (and at least MIN_TIMED ops);
4. check the last op's outputs against the DuckDB oracles.

`--trace 0` reports CPU per op and CPU of set-up with nothing wrapped;
wall times are printed beside them: on a host whose CPU steal swings
between 0 and 20%, wall time follows the host more than the program.
`--trace 1` wraps each layer's entry point (see `workloads.py`), enables
the Spark event log, and reports per-layer spans and counts instead. Host
steal from /proc/stat is recorded beside every op in both modes. The last
line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "2g"
SCALE = 0.004  # 600 customers, 6,000 orders, ~24,000 lines: ~10,600 exposures
# JVM CPU per op falls for 5-10 ops, steeply after the cold first op, which
# costs 2-3x a later one. Most of that drift is the C1/C2 JIT compiler
# threads: in a sealed op at this scale they burn 46 s of CPU in the cold op,
# 20 s in the next and 8 s once warm, against 13-15 s for everything else.
# A run has to stay near a minute on a 4-vCPU host, so set-up warms on the
# cold op only, and cpu_s leaves the compiler threads out.
# Timed ops run back to back until --seconds have passed and at least
# MIN_TIMED ops are done. With --seconds shorter than one op, every run
# times exactly MIN_TIMED ops, the same op indices in quiet and busy hosts.
# Two ops, not one: a single op's CPU varies by up to 15% with how far JIT
# compiling has got, and a third op does not fit the run budget.
MIN_TIMED = 2

ENGINE_LAYERS = (
    "sources", "validate", "hierarchy", "classify", "crm", "re_split",
    "barrier", "calculators", "aggregate",
)
STAGE_FIGURES = ("wall_s", "self_s", "py4j_calls", "jobs", "driver_cpu_s", "jvm_cpu_s")
EXEC_FIGURES = (
    "wall_s", "jobs", "tasks", "tasks_failed", "jvm_cpu_s", "shuffle_bytes", "spill_bytes",
)


def unit(figure: str) -> str:
    if figure.endswith("_s"):
        return "s"
    if figure.endswith("_bytes") or figure == "bytes_written":
        return "bytes"
    return "count"


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    from rwa_calculator_spark.plans import load_all
    from workloads import suite_queries

    names = [(f"{l}.{f}", unit(f)) for l in ENGINE_LAYERS for f in STAGE_FIGURES]
    names += [(f"exec.{f}", unit(f)) for f in EXEC_FIGURES]
    names += [(f"seal.{f}", unit(f)) for f in EXEC_FIGURES + ("bytes_written",)]
    names += [(f"plans.{q}.exec_s", "s") for q in suite_queries(load_all())]
    names += [("plans.build_s", "s"), ("session.wall_s", "s")]
    names += [("py4j.calls", "count"), ("py4j.detach_calls", "count"), ("host.steal_s", "s")]
    names += [("jit.cpu_s", "s")]
    return names


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def launch_env(work: str, trace: bool) -> None:
    """Session settings that must exist before the JVM starts: a fixed core
    count and heap, scratch space inside the work directory, and for the
    traced run the Spark event log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -Xms = -Xmx: GC work does not depend on when G1 grows the heap.
    # Compiler threads stay alive, so their CPU can be told apart (probe.py).
    java = (
        f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads"
    )
    args = [f"--driver-java-options '{java}'"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.rolling.enabled=false",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def summarise(values: list[float]) -> str:
    """Median plus the highest percentile with at least ten samples beyond
    it (none above the median below 20 samples), with the sample count."""
    n = len(values)
    text = f"p50={statistics.median(values):.4f}"
    if n >= 20:
        pct = int(100 * (1 - 10 / n))
        text += f" p{pct}={statistics.quantiles(values, n=100)[pct - 1]:.4f}"
    return f"{text} max={max(values):.4f} n={n}"


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, "rwa_calculator_spark")):
        print(f"rwa_calculator_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    launch_env(work, trace)
    try:
        return run(args, work, trace, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, trace: bool, workload_cls) -> int:
    import duckdb

    from datagen import generate
    from probe import Counters, Tracer, host_ticks
    from rwa_calculator_spark.plans import load_all
    from rwa_calculator_spark.session import build_session

    registry = load_all()
    data_dir = os.path.join(work, "data")
    rows = generate(data_dir, args.seed, SCALE)
    duck = duckdb.connect()
    for name in os.listdir(data_dir):
        table = name.removesuffix(".parquet")
        duck.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{os.path.join(data_dir, name)}')"
        )

    t_setup = time.perf_counter()
    d_setup = sum(os.times()[:2])
    spark = build_session(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t_setup
    tracer = None
    try:
        counters = Counters(spark.sparkContext._jvm.ProcessHandle.current().pid())
        wl = workload_cls(spark, registry, data_dir, work, duck)
        if trace:
            tracer = Tracer(spark, counters)
            for owner, attr, layer in wl.entry_points():
                tracer.wrap(owner, attr, layer)

        def one_op(index: int) -> dict:
            wl.prepare()
            st0 = host_ticks()
            d0, j0, c0 = counters.cpu()
            t = time.perf_counter()
            if tracer is None:
                wl.op()
            else:
                with tracer.traced_op(index):
                    wl.op(tracer)
            wall = time.perf_counter() - t
            d1, j1, c1 = counters.cpu()
            st1 = host_ticks()
            return {
                "op_s": wall,
                "cpu_s": (d1 - d0) + (j1 - j0),
                "jit_s": c1 - c0,
                "steal_ticks": st1[0] - st0[0],
                "all_ticks": st1[1] - st0[1],
            }

        warm = one_op(0)
        setup_wall = time.perf_counter() - t_setup
        # set-up CPU: the driver's since session start plus all the JVM's,
        # JIT compiling included, since compiling is what warm-up is for
        d, j, c = counters.cpu()
        setup_s = (d - d_setup) + j + c

        timed, timed_ids, failed = [], [], 0
        t_measure = time.perf_counter()
        while len(timed) + failed < MIN_TIMED or time.perf_counter() - t_measure < args.seconds:
            index = 1 + len(timed) + failed
            try:
                timed.append(one_op(index))
                timed_ids.append(index)
            except Exception:  # a failing op is counted, and the run goes on
                traceback.print_exc()
                failed += 1
                if failed > 3:
                    break
        if not timed:
            raise RuntimeError("every timed op failed")
        attempted = len(timed) + failed
        seal_bytes = wl.bytes_written() if hasattr(wl, "bytes_written") else 0

        problems = wl.check()
        for p in problems:
            print(f"MISMATCH {p}", file=sys.stderr)
        if problems:
            failed += 1  # a mismatch counts as one failed op
    finally:
        stop_spark(spark)
        if tracer is not None:
            tracer.restore()

    steal_s = [o["steal_ticks"] / os.sysconf("SC_CLK_TCK") for o in timed]
    share = sum(o["steal_ticks"] for o in timed) / max(1, sum(o["all_ticks"] for o in timed))
    print(
        f"# {args.workload} seed={args.seed} trace={args.trace} cpus={CPUS} rows={rows}\n"
        f"#   warm-up op: cpu_s {warm['cpu_s']:.2f}, jit_s {warm['jit_s']:.2f}; "
        f"setup_s={setup_s:.2f} (wall {setup_wall:.3f}, session wall {session_s:.3f})\n"
        f"#   op_s {summarise([o['op_s'] for o in timed])}\n"
        f"#   cpu_s {summarise([o['cpu_s'] for o in timed])}\n"
        f"#   jit_s {summarise([o['jit_s'] for o in timed])} (left out of cpu_s)\n"
        f"#   host steal {share:.1%} of CPU time, {statistics.median(steal_s):.3f} s per op"
    )

    if trace:
        tracer.attach_event_log(os.path.join(work, "eventlog"))
        metrics = layer_metrics(tracer, timed_ids, timed, session_s, seal_bytes)
    else:
        # op_s is printed above, not reported: under 0-20% host steal its
        # run-to-run IQR/median reaches 0.3, above any usable bound, where
        # cpu_s, which leaves steal out, stays near 0.1. Peak RSS is not reported either: at this scale the
        # JVM's sits at its fixed heap plus JVM overhead, not at what the
        # program holds.
        metrics = {
            "cpu_s": (statistics.median(o["cpu_s"] for o in timed), "s"),
            "setup_s": (setup_s, "s"),
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def layer_metrics(tracer, ops, timed, session_s: float, seal_bytes: int) -> dict:
    """Per-layer figures of the timed ops: the median over ops (the lower
    median for counts, so a count that repeats is reported exactly).
    `jit.cpu_s` is the JIT compiler threads' CPU per op, which every
    `jvm_cpu_s` and the timed run's `cpu_s` leave out."""
    per_op = [tracer.layer_totals(i) for i in ops]

    def med(layer: str, figure: str) -> float:
        vals = [op.get(layer, {}).get(figure, 0) for op in per_op]
        if unit(figure) == "s":
            return statistics.median(vals)
        return int(statistics.median_low(vals))

    out = {}
    for name, u in per_layer_names():
        layer, figure = name.rsplit(".", 1)
        if layer == "seal" and figure == "bytes_written":
            out[name] = (seal_bytes, u)
        elif layer == "plans" and figure == "build_s":
            out[name] = (med("plans.build", "wall_s"), u)
        elif layer.startswith("plans."):
            out[name] = (med(layer, "wall_s"), u)
        elif layer == "session":
            out[name] = (session_s, u)
        elif layer == "py4j":
            out[name] = (med("op", "py4j_calls" if figure == "calls" else figure), u)
        elif layer == "host":
            out[name] = (med("op", "steal_s"), u)
        elif layer == "jit":
            out[name] = (statistics.median(o["jit_s"] for o in timed), u)
        else:
            out[name] = (med(layer, figure), u)
    return out


if __name__ == "__main__":
    sys.exit(main())
