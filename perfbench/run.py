"""Seeded benchmark of the darkbo_spark engine.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 24 --trace 0

Run from the root of a checkout. One process, one Spark session on
local[nproc/2]. Set-up generates every input from the seed, builds any
prebuilt state and runs one untimed warm iteration; then a single client
issues operations back to back (closed loop) for --seconds, and at least
MIN_OPS of them, checking each operation's outputs. Workload figures are
printed one per line by name and unit; the last stdout line is one JSON
object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics. --trace 1 wraps the engine's
layer functions with spans, turns Spark's event log on from outside the
program and reports the per-layer metrics instead; the spans with their
event-log columns go to .perfbench_work/traces/. Every run appends a
record (load, nproc, master, seed, figures) to .perfbench_work/records.jsonl.
Exit status is 0 only if every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback

import procmem
from stats import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
GEN_REPEATS = 3
# the engine's JVM is still compiling its hot paths over the first
# operations (each reads a few percent faster than the one before), so
# the median must come from the same operations on every run
MIN_OPS = 3
DRIVER_MEM = "2g"
EVENTLOG_EXCLUDED = ("SparkListenerSQLAdaptiveExecutionUpdate", "SparkListenerSQLExecutionStart",
                     "SparkListenerDriverAccumUpdates", "SparkListenerSQLAdaptiveSQLMetricUpdates",
                     "SparkListenerTaskStart")

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "work_per_s": "1/s"}


def task_slots() -> int:
    """local[nproc/2]: every Arrow-UDF task holds a JVM task thread and a
    Python worker, so the engine's own bench sizes the master at half the
    CPUs."""
    return max(2, len(os.sched_getaffinity(0)) // 2)


def configure_env(run_dir: str, trace: bool) -> str | None:
    """Point every scratch location of Spark and its workers into the run
    directory; for a traced run, enable the event log from outside the
    program. Returns the event-log directory (or None)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # a bounded driver heap keeps the resident set (a reported metric) from
    # tracking whatever the default 8g heap lazily grows to
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    args = ["--conf", "spark.ui.showConsoleProgress=false",
            # no hsperfdata files in /tmp
            "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    eventlog_dir = None
    if trace:
        eventlog_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(eventlog_dir)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 # the fold reads job, stage and task-end events only; the
                 # plan-carrying SQL events and the per-task copies of task
                 # metrics as accumulables are most of the log's volume
                 "--conf", "spark.eventLog.includeTaskMetricsAccumulators=false",
                 "--conf", f"spark.eventLog.excludedPatterns={','.join(EVENTLOG_EXCLUDED)}",
                 "--conf", f"spark.eventLog.dir=file://{eventlog_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return eventlog_dir


def start_spark(run_dir: str, threads: int):
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from darkbo_spark.session import get_spark

    spark = get_spark("darkbo-perfbench", master=f"local[{threads}]",
                      shuffle_partitions=2 * threads)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(run_dir, "checkpoints"))
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and every process under
    this one, waiting for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        if jvm.stdin:
            jvm.stdin.close()  # the gateway server exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to stop is handled by kill
            jvm.kill()
            jvm.wait()
    deadline = time.time() + 30
    while True:
        left = procmem.descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def setup(wl, ctx) -> float:
    """Inputs (generated GEN_REPEATS times, median kept), prebuilt state and
    the warm iteration. Returns seconds, session start excluded."""
    gens = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        with ctx.span("setup.generate"):
            wl.generate(ctx)
        gens.append(time.perf_counter() - t0)
    wl.setup_parts["generate_s"] = median(gens)
    with ctx.span("setup.prepare"):
        wl.prepare(ctx)
    return sum(wl.setup_parts.values())


def measure(wl, ctx, seconds: float) -> dict:
    """The closed loop. Returns per-op walls, counts and failures.

    An operation is never cut short, so the loop starts another one only
    while the median operation (with its check) still fits in the
    remaining time, rather than running one operation past --seconds.
    It runs at least MIN_OPS operations, even past --seconds, so that a
    slow host does not also move the median to a colder, earlier
    operation."""
    wl.samples.clear()  # set-up checks may have recorded samples
    walls, iters, failures, attempted = [], [], [], 0
    t0 = time.perf_counter()
    deadline = t0 + seconds
    while True:
        attempted += 1
        start = time.perf_counter()
        try:
            s, cpu = time.perf_counter(), procmem.tree_cpu_s(os.getpid())
            with ctx.span(f"op:{wl.name}"):
                result = wl.op(ctx, attempted - 1)
            walls.append(time.perf_counter() - s)
            wl.record("op_cpu_s", procmem.tree_cpu_s(os.getpid()) - cpu)
            with ctx.span("check"):
                bad = wl.verify(ctx, result)
        except Exception:  # noqa: BLE001 - an engine failure is a counted, reported failure
            bad = [traceback.format_exc()]
        if bad:
            failures.append(bad)
            print(f"check failed in op {attempted - 1}: {bad}", file=sys.stderr)
        iters.append(time.perf_counter() - start)
        if bad and not walls:
            break
        if len(iters) >= MIN_OPS and time.perf_counter() + median(iters) > deadline:
            break
    return {"walls": walls, "attempted": attempted, "failures": failures,
            "loop_s": time.perf_counter() - t0}


PRIMARY = {"kg_build": "build_s", "kg_refresh": "cycle_s"}


def end_to_end(wl, setup_s: float, loop: dict) -> dict:
    """The END_TO_END metrics; the operation figures read 0 when no
    operation completed (the run then reports itself incorrect)."""
    primary = wl.samples.get(PRIMARY[wl.name])
    if not primary:
        return {"setup_s": setup_s, "op_p50_ms": 0.0, "work_per_s": 0.0}
    # throughput of the median operation: like op_p50_ms, one slow
    # operation does not move it
    return {
        "setup_s": setup_s,
        "op_p50_ms": median(primary) * 1e3,
        "work_per_s": wl.units / len(primary) / median(primary),
    }


def untraced_p50(workload: str, config: str, seconds: float) -> list[float]:
    """op_p50_ms of the recorded untraced runs of the same workload
    configuration, for the traced ÷ untraced overhead ratio."""
    try:
        with open(os.path.join(WORK_ROOT, "records.jsonl")) as f:
            recs = [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        return []
    return [r["metrics"]["op_p50_ms"] for r in recs
            if r["workload"] == workload and r.get("config") == config
            and r["seconds"] == seconds and not r["trace"] and r["correct"]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "darkbo_spark")):
        print(f"perfbench: no darkbo_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    threads = task_slots()
    run_dir = os.path.join(WORK_ROOT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    eventlog_dir = configure_env(run_dir, bool(args.trace))
    load_before = load1()
    spark = None
    try:
        with procmem.PeakSampler() as sampler:
            spark = start_spark(run_dir, threads)
            session_s = time.perf_counter() - t_start
            tracer = patches = None
            if args.trace:
                import spans

                tracer = spans.Tracer(spark.sparkContext)
                patches = spans.install(tracer)
            wl = workloads.WORKLOADS[args.workload]()
            ctx = workloads.Ctx(spark, run_dir, args.seed, threads, tracer)
            setup_s = session_s + setup(wl, ctx)
            loop = measure(wl, ctx, args.seconds)
            if patches:
                patches.remove()
        stop_spark(spark)
        spark = None

        failed = len(loop["failures"])
        correct = failed == 0
        report = {"error_rate": (failed / loop["attempted"], "ratio")}
        report.update({k: (v, "s") for k, v in wl.setup_parts.items()})
        report["session_s"] = (session_s, "s")
        # printed and recorded, not gated: which Python workers are alive
        # at the peak depends on task scheduling, so it spread 0.21
        # (quartile distance ÷ median) over ten runs of kg_build
        report["peak_rss_mb"] = (sampler.peak / 2**20, "MB")
        # CPU seconds of the whole process tree per operation: tells a run
        # that did more work from one that got less of a shared host
        report["op_cpu_s"] = (median(wl.samples["op_cpu_s"]) if wl.samples.get("op_cpu_s")
                              else 0.0, "s")
        report.update(wl.report())
        if args.trace:
            import layers

            rows = layers.fold_by_span(eventlog_dir)
            metrics = layers.per_layer(wl, tracer, rows, loop)
            tracer.dump(os.path.join(WORK_ROOT, "traces",
                                     f"{args.workload}-seed{args.seed}-{os.getpid()}.json"), rows)
            base = untraced_p50(args.workload, wl.config(), args.seconds)
            if base and wl.samples.get(PRIMARY[wl.name]):
                ratio = median(wl.samples[PRIMARY[wl.name]]) * 1e3 / median(base)
                report["trace_overhead"] = (ratio, f"x (vs {len(base)} untraced runs)")
            units = {m: layers.UNITS[m] for m in metrics}
        else:
            metrics = end_to_end(wl, setup_s, loop)
            units = END_TO_END
        load_after = load1()

        for name, (value, unit) in report.items():
            print(f"{args.workload} {name} = {value:.6g} {unit}")
        for name, value in metrics.items():
            print(f"{args.workload} {name} = {value:.6g} {units[name]}")
        record = {
            "workload": args.workload, "config": wl.config(), "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
            "master": f"local[{threads}]", "load1_before": load_before,
            "load1_after": load_after, "correct": correct, "attempted": loop["attempted"],
            "failed": failed, "metrics": metrics,
            "report": {k: v for k, (v, _u) in report.items()},
            "samples": wl.samples,
            "failures": [str(f)[:2000] for f in loop["failures"]],
        }
        os.makedirs(WORK_ROOT, exist_ok=True)
        with open(os.path.join(WORK_ROOT, "records.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
        print(f"{args.workload} load1 before {load_before} after {load_after}, "
              f"nproc {record['nproc']}, master {record['master']}, seed {args.seed}")
        print(json.dumps({
            "correct": correct, "attempted": loop["attempted"], "failed": failed,
            "metrics": {m: {"value": v, "unit": units[m]} for m, v in metrics.items()},
        }))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
