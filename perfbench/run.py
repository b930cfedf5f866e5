"""esdb_spark benchmark: one workload per process.

    python3 perfbench/run.py --workload archive_lookup --seed 1 --seconds 15 --trace 0

Run from the root of a checkout (the directory that holds
``esdb_spark/``). The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
they are its per-layer metrics, and the span dump and the tracing
overhead go to ``perfbench/out/``. The line before it is a report: the
sample counts, the steadiness diagnostics (host steal share, JIT and GC
time, first-to-last-quarter drift) and the environment record. The exit
code is non-zero if any output check failed.

Every file the run writes stays inside the checkout: inputs, archives,
streams, stores and Spark's scratch space live under ``perfbench/work/``
and are deleted at the end; results and span dumps go to
``perfbench/out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

HOST_AT_START = common.host_cpu()

# The driver heap starts at its full size, and the JIT stops at C1 and
# compiles a method after a tenth of the default invocations. With the
# default tiered C2 compilation the driver's time per lookup kept falling
# through the whole run, so a timed phase measured how fast the host let
# the JVM compile; at the default C1 thresholds every query's generated
# code took two more serves to settle. C1 alone gets a 48 MB code cache,
# which the lower thresholds fill; it gets the tiered default's size.
# See README.md for the measurements.
DRIVER_MEMORY = "2g"
JVM_FLAGS = (
    "-XX:TieredStopAtLevel=1",
    "-XX:CompileThresholdScaling=0.1",
    "-XX:ReservedCodeCacheSize=240m",
    f"-Xms{DRIVER_MEMORY}",
)
# The workload's own set-up (inputs, archive or stores) runs this many
# times, each into a directory of its own, and counts once in setup_s, at
# its median; the last one serves the timed phase.
SETUP_REPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def metric_catalog(root: str, traced: bool) -> list[tuple[str, str]]:
    """(name, unit) of the metrics a run prints, from BENCHMARK.json:
    the per-layer ones when traced, else the end-to-end ones."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if traced else "end_to_end"]]


def start_session(work: str, cores: int, traced: bool):
    """A Spark session whose scratch files stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # inherited by Spark's Python workers
    tempfile.tempdir = tmp  # this process, even if tempfile already ran
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    from esdb_spark.session import get_spark
    from spans import SESSION_CONF

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": " ".join((f"-Djava.io.tmpdir={tmp}", *JVM_FLAGS)),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "hadoop"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update(SESSION_CONF)
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def drift(ms: list[float]) -> float:
    """Median op time of the first quarter of the timed operations over
    that of the last quarter: above 1 while the run was still warming up."""
    q = max(len(ms) // 4, 1)
    return common.median(ms[:q]) / common.median(ms[-q:])


def tracing_overhead(workload: str, seed: int, e2e: dict, out_dir: str) -> dict:
    """Traced minus untraced, per end-to-end metric, against the untraced
    result of the same workload and seed (or the latest untraced result
    of the workload, if this seed was not run untraced)."""
    same = os.path.join(out_dir, f"{workload}-seed{seed}-trace0.json")
    cands = [same] if os.path.exists(same) else sorted(
        (
            os.path.join(out_dir, n)
            for n in os.listdir(out_dir)
            if n.startswith(f"{workload}-seed") and n.endswith("-trace0.json")
        ),
        key=os.path.getmtime,
    )
    if not cands:
        return {}
    with open(cands[-1]) as f:
        base = json.load(f)
    return {
        "untraced_result": os.path.basename(cands[-1]),
        "delta": {k: e2e[k] - base["e2e"][k] for k in e2e if k in base["e2e"]},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "esdb_spark")):
        print(f"perfbench: no esdb_spark/ under {root}; run from the repo root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import archive_lookup
    import search_serve
    from common import Ctx, Outcome, run_blocks
    from spans import Tracer, counter

    workloads = {
        "archive_lookup": archive_lookup,
        "search_serve": search_serve,
    }
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads)}", file=sys.stderr)
        return 2
    wl = workloads[args.workload]
    traced = bool(args.trace)
    catalog = metric_catalog(root, traced)

    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work, exist_ok=True)

    spark = None
    try:
        spark = start_session(work, cores, traced)
        spark.range(1).collect()
        session_s = time.perf_counter() - T_PROCESS
        tracer = Tracer(spark, enabled=traced)
        out = Outcome()

        reps = []
        for r in range(SETUP_REPS):
            ctx = Ctx(spark, args.seed, tracer, os.path.join(work, f"rep{r}"))
            t = time.perf_counter()
            with tracer.span("setup"):
                st = wl.setup(ctx)
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tracer.span("prepare"):
            wl.prepare(ctx, st)
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("warmup"):
            wl.warmup(ctx, st, out)
        warmup_s = time.perf_counter() - t

        # -- timed phase
        jvm_pid = spark.sparkContext._gateway.proc.pid
        host_a, cpu_a, py_a = common.host_cpu(), common.tree_cpu_s(), time.process_time()
        jvm_cpu_a = common.tree_cpu_s(jvm_pid)
        jvm_a = common.jvm_times_ms(spark)
        out.timing = True
        t0 = time.perf_counter()
        deadline = t0 + args.seconds
        while time.perf_counter() < deadline:
            run_blocks(ctx, st, out, wl.block, 1)
        wall = time.perf_counter() - t0
        out.timing = False
        host_b, cpu_b, py_b = common.host_cpu(), common.tree_cpu_s(), time.process_time()
        jvm_cpu_b = common.tree_cpu_s(jvm_pid)
        jvm_b = common.jvm_times_ms(spark)

        tracer.read_counters()
        res = wl.finish(ctx, st, t0)
        env = {
            "nproc": cores,
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "driver_memory": DRIVER_MEMORY,
            "jvm_flags_set": list(JVM_FLAGS),
            "jvm_flags": common.jvm_flags(spark),
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    ms = [m for _, m in out.timed]
    n = len(ms)
    setup_rep_s = common.median(reps)
    e2e = {
        # process start to the first timed op, the repeated set-up
        # counted once at its median
        "setup_s": t0 - T_PROCESS - sum(reps) + setup_rep_s,
        "op_p50_ms": common.median(ms),
        "op_p90_ms": common.pct(ms, 90),
        "work_per_s": n / wall,
        "cpu_ms_per_op": (cpu_b - cpu_a) * 1e3 / n,
        "bytes_per_user_byte": res["disk_bytes"] / res["user_bytes"],
    }
    steadiness = {
        "steal_share_setup": common.steal_share(HOST_AT_START, host_a),
        "steal_share_timed": common.steal_share(host_a, host_b),
        "other_busy_share_timed": common.other_busy_share(host_a, host_b, cpu_b - cpu_a),
        "jit_ms_timed": jvm_b["jit_ms"] - jvm_a["jit_ms"],
        "gc_ms_timed": jvm_b["gc_ms"] - jvm_a["gc_ms"],
        "drift_first_over_last_quarter": drift(ms),
    }
    samples = {
        "ops": n,
        "p90_samples_beyond": sum(m > e2e["op_p90_ms"] for m in ms),
        "per_class": dict(Counter(c for c, _ in out.timed)),
    }
    phases = {"session_s": session_s, "setup_reps_s": reps, "prepare_s": prepare_s,
              "warmup_s": warmup_s, "timed_s": wall}

    layers = {}
    if traced:
        timed_ops = [r for r in tracer.ops if r["start"] >= t0 and r["start"] < t0 + wall]
        busy_ms = sum(counter(timed_ops, "executor_ms"))
        layers = {
            "session.start_s": session_s,
            "spark.jobs_per_op": sum(counter(timed_ops, "jobs")) / n,
            "spark.tasks_per_op": sum(counter(timed_ops, "tasks")) / n,
            "spark.executor_busy_frac": busy_ms / 1e3 / (wall * cores),
            "jvm.jit_ms_per_op": steadiness["jit_ms_timed"] / n,
            "jvm.gc_ms_per_op": steadiness["gc_ms_timed"] / n,
            "jvm.cpu_ms_per_op": (jvm_cpu_b - jvm_cpu_a) * 1e3 / n,
            "py.cpu_ms_per_op": (py_b - py_a) * 1e3 / n,
            "py4j.trips_per_op": sum(r["trips"] for r in timed_ops) / n,
            **res.get("layers", {}),
        }

    result = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "e2e": e2e,
        "steadiness": steadiness,
        "samples": samples,
        "phases": phases,
        "env": env,
        "attempted": out.attempted,
        "failed": out.failed,
        "failures": out.failures,
        "calls_ms": out.timed,
    }
    if traced:
        result["layers"] = layers
        result["self_times"] = tracer.self_times()
        result["tracing_overhead"] = tracing_overhead(args.workload, args.seed, e2e, out_dir)
        tracer.dump(os.path.join(out_dir, f"{tag}-spans.jsonl"))
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(result, f, indent=1)

    metrics = {
        # a layer the workload does not run reports 0
        name: {"value": float(layers.get(name, 0.0) if traced else e2e[name]), "unit": unit}
        for name, unit in catalog
    }
    report = {k: result[k] for k in ("e2e", "steadiness", "samples", "phases", "env", "failures")}
    if traced:
        report["tracing_overhead"] = result["tracing_overhead"]
    print(json.dumps(report))
    ok = out.failed == 0
    print(json.dumps({
        "correct": ok,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
