#!/usr/bin/env python3
"""Benchmark of the ex9 Spark engine: one closed-loop client per run.

    python3 perfbench/run.py --workload hotels_pipeline --seed 1 --seconds 8 --trace 0

Run from the repository root.  ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` runs the same workload with the layer collectors
on and reports the per-layer metrics.  The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--smoke`` shrinks the inputs (2k-row CSV, sf0.001) for a quick end to
end check; ``--corrupt-expected`` makes every expected result wrong,
which the self-test uses to show that a wrong result counts as a failed
op.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

from harness import JobGroups, Tracer, process_age_s  # noqa: E402

#: perf_counter() reading at process start.
T_START = time.perf_counter() - process_age_s()

END_TO_END = {  # name -> unit; op_p90_s is meaningful on interactive_queries only
    "setup_s": "s",
    "warmup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "1/s",
    "failed_ops_ratio": "ratio",
    "peak_rss_mb": "MB",
}

#: Printed, not in the result line: op_p90_s has too few samples beyond
#: it except on interactive_queries; failed_ops_ratio is the line's own
#: failed / attempted; peak_rss_mb varied by 18-25% between runs of the
#: same code (the JVM heap grows by its own GC timing), more than any
#: bound could separate from a real change.
NOT_IN_RESULT_LINE = ("op_p90_s", "failed_ops_ratio", "peak_rss_mb")

ALL = "all workloads"
QW = "interactive_queries and heavy_operators"
HP = "hotels_pipeline"
#: Per-layer metrics: name -> (unit, workloads that exercise the layer,
#: the end-to-end metric it should move and where).  Per-op values are
#: medians over the traced ops; gc and set-up values are per run.
LAYERS = {
    "session.get_spark_s": ("s", ALL, "setup_s, all workloads"),
    "catalog.cache_tables_s": ("s", QW, "setup_s on interactive_queries and heavy_operators"),
    "catalog.cache_mb": ("MB", ALL, "peak_rss_mb on interactive_queries and heavy_operators"),
    "catalog.query_caches_released": ("count", ALL, "op_p50_s on heavy_operators"),
    "plans.construct_s": ("s", ALL, "op_p50_s on interactive_queries; on heavy_operators via incremental_cc_maintenance"),
    "plans.construct_jobs": ("count", ALL, "op_p50_s on interactive_queries; on heavy_operators via incremental_cc_maintenance"),
    "exec.catalyst_ms": ("ms", QW, "op_p50_s on interactive_queries"),
    "exec.jobs": ("count", ALL, "op_p50_s on interactive_queries"),
    "exec.stages": ("count", ALL, "op_p50_s on interactive_queries"),
    "exec.tasks": ("count", ALL, "op_p50_s on interactive_queries"),
    "exec.action_s": ("s", QW, "op_p50_s on interactive_queries and heavy_operators"),
    "exec.to_pandas_s": ("s", QW, "op_p50_s on interactive_queries and heavy_operators"),
    "exec.shuffle_mb": ("MB", ALL, "op_p50_s on heavy_operators"),
    "exec.spill_mb": ("MB", ALL, "op_p50_s on heavy_operators"),
    "exec.task_run_s": ("s", ALL, "op_p50_s on heavy_operators"),
    "exec.result_rows": ("count", ALL, "op_p50_s on its workload (result transfer)"),
    "jvm.gc_s": ("s", ALL, "op_p90_s and peak_rss_mb"),
    "sources.read_hotels_csv_s": ("s", HP, "op_p50_s on hotels_pipeline"),
    "sources.rows_kept_ratio": ("ratio", HP, "failed_ops_ratio on hotels_pipeline (rows parsed / generated)"),
    "pipeline.materialize_s": ("s", HP, "op_p50_s on hotels_pipeline"),
    "pipeline.rows_written": ("count", HP, "op_p50_s on hotels_pipeline"),
    "pipeline.jobs": ("count", HP, "op_p50_s on hotels_pipeline"),
    "pipeline.export_sqlite_s": ("s", HP, "op_p50_s on hotels_pipeline"),
    "pipeline.sqlite_kb": ("KB", HP, "op_p50_s on hotels_pipeline"),
    "pipeline.generate_documentation_s": ("s", HP, "op_p50_s on hotels_pipeline"),
    "viz.charts_s": ("s", HP, "op_p50_s on hotels_pipeline"),
    "app.render_static_s": ("s", HP, "op_p50_s on hotels_pipeline"),
    "trace.overhead_s": ("s", ALL, "none: traced minus untraced op_p50_s within the traced run"),
}


class Context:
    """What a workload needs from the run: the session, the collectors
    and where to write."""

    def __init__(self, spark, work: Path, seed: int, corrupt_expected: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.corrupt_expected = corrupt_expected
        self.tracer = Tracer(False)
        self.groups = JobGroups(spark, False)
        self.run_layers: dict[str, float] = {}

    def set_traced(self, on: bool) -> None:
        self.tracer.enabled = on
        self.groups.enabled = on


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--corrupt-expected", action="store_true")
    return p.parse_args(argv)


def prepare_environment(work: Path) -> None:
    """Everything the engine writes stays under the run's work
    directory (without -XX:-UsePerfData the JVM writes its perf-data file
    to the system temp directory); the session gets one core per CPU this
    process may use."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"


def main(argv=None) -> int:
    args = parse_args(argv)
    out_dir = Path.cwd() / ".perfbench"
    work = out_dir / f"work-{os.getpid()}"
    prepare_environment(work)
    try:
        env, report, ctx = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return emit(args, env, report, ctx, out_dir)


def measure(args, work: Path) -> tuple[dict, dict, Context]:
    """One run: session, set-up, checks prepared, warm-up, steady loop."""
    import pyspark

    from ex9_big_data_gal_drimer_spark.session import get_spark
    import harness
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {workloads.WORKLOADS}")

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    ctx = Context(spark, work, args.seed, args.corrupt_expected)
    ctx.run_layers["session.get_spark_s"] = time.perf_counter() - t
    try:
        wl = workloads.make(ctx, args.workload, args.smoke)
        ctx.set_traced(bool(args.trace))  # set-up spans are cheap: keep them in traced runs
        wl.setup()
        setup_s = time.perf_counter() - T_START
        ctx.set_traced(False)
        wl.prepare_checks()
        report = run_loop(ctx, wl, args)
        report["setup_s"] = setup_s
        report["peak_rss_mb"] = harness.vmhwm_mb(os.getpid()) + harness.vmhwm_mb(harness.jvm_pid(spark))
        ctx.run_layers["jvm.gc_s"] = harness.gc_seconds(spark)
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "smoke": args.smoke,
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "pyspark": pyspark.__version__,
            "driver_memory": spark.conf.get("spark.driver.memory", None),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
            **wl.inputs(),
        }
    finally:
        spark.stop()
        stop_jvm(gateway)
    return env, report, ctx


def stop_jvm(gateway) -> None:
    """Close the gateway and wait for the JVM child to exit."""
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_loop(ctx: Context, wl, args) -> dict:
    """Warm-up pass over each distinct op, then whole seeded cycles
    until the steady clock reaches ``--seconds``, and at least two: the
    first steady cycle still runs slower while the JIT settles, so a
    run that stopped after it would read slower than one that did not.
    The clock stops while results are checked and trace collectors read
    engine state.  A traced run mixes untraced and traced cycles, at
    least five, so the tracing overhead is measured in the same
    process."""
    rng = random.Random(args.seed)
    names = list(wl.names)
    attempted = failed = 0
    failures: list[dict] = []
    records: list[dict] = []  # traced op layer records
    lat = {"warmup": [], "settle": [], "untraced": [], "traced": []}
    per_query: dict[str, list[float]] = {}
    timeline: list[tuple[str, str, float]] = []

    def one(name: str, phase: str, cycle: int) -> bool:
        nonlocal attempted, failed
        attempted += 1
        ctx.tracer.op_id = f"{phase}{cycle}:{name}"
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("op"):
                result, rec = wl.run_op(name)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            failed += 1
            failures.append({"op": ctx.tracer.op_id, "error": traceback.format_exc(limit=3)})
            print(f"op {ctx.tracer.op_id} raised:\n{failures[-1]['error']}", file=sys.stderr)
            return False
        latency = time.perf_counter() - t0
        lat[phase].append(latency)
        timeline.append((phase, name, latency))
        if "_groups" in rec:
            wl.collect(rec)
        why = wl.check(name, result)
        if why:
            failed += 1
            failures.append({"op": ctx.tracer.op_id, "error": why})
            print(f"op {ctx.tracer.op_id} wrong result: {why}", file=sys.stderr)
        if phase == "traced":
            rec["op_s"] = latency
            records.append(rec)
            per_query.setdefault(name, []).append(latency)
        return True

    # Warm-up in a fixed order: which op runs first pays most of the
    # process-wide JIT warm-up, and warmup_s should not depend on the seed.
    for name in names:
        one(name, "warmup", 0)
    warmup_s = sum(lat["warmup"])

    steady = paused = 0.0
    cycle = 0
    completed = 0
    start = time.perf_counter()
    while steady < args.seconds or cycle < (5 if args.trace else 2):
        # A traced run first runs one untraced cycle that absorbs the JIT
        # settling, then traced, untraced, untraced, traced, ...: that
        # order cancels a steady drift out of the tracing overhead.
        if not args.trace:
            phase = "untraced"
        elif cycle == 0:
            phase = "settle"
        else:
            phase = "traced" if (cycle - 1) % 4 in (0, 3) else "untraced"
        traced = phase == "traced"
        order = names[:]
        rng.shuffle(order)
        for name in order:
            ctx.set_traced(traced)
            before = time.perf_counter()
            n_before = len(lat[phase])
            ok = one(name, phase, cycle)
            completed += ok
            # everything after the op's own latency is checking/collecting
            if ok:
                paused += (time.perf_counter() - before) - lat[phase][n_before]
        ctx.set_traced(False)
        cycle += 1
        steady = time.perf_counter() - start - paused

    untraced = lat["untraced"]
    p90 = statistics.quantiles(untraced, n=10, method="inclusive")[-1] if len(untraced) > 1 else untraced[0]
    report = {
        "warmup_s": warmup_s,
        "op_p50_s": statistics.median(untraced),
        "op_p90_s": p90,
        "ops_per_s": completed / steady,
        "failed_ops_ratio": failed / attempted,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "cycles": cycle,
        "latencies": lat,
        "timeline": timeline,
        "records": records,
        "per_query": per_query,
    }
    return report


def layer_values(ctx: Context, report: dict, workload: str) -> dict[str, dict]:
    """Every per-layer metric, or why this workload has none."""
    out: dict[str, dict] = {}
    records = report["records"]
    for name, (unit, where, moves) in LAYERS.items():
        entry = {"unit": unit, "moves": moves}
        if name in ctx.run_layers:
            entry["value"] = ctx.run_layers[name]
        elif name == "trace.overhead_s":
            entry["value"] = statistics.median(report["latencies"]["traced"]) - report["op_p50_s"]
        else:
            vals = [r[name] for r in records if name in r]
            if vals:
                entry["value"] = statistics.median(vals)
            else:
                entry["why_unavailable"] = f"{workload} makes no call into this layer (exercised on {where})"
        out[name] = entry
    for q, vals in sorted(report["per_query"].items()):
        if q != "pass":
            out[f"query.{q}.op_s"] = {
                "unit": "s",
                "value": statistics.median(vals),
                "moves": f"op_p50_s and ops_per_s on {workload}",
            }
    return out


def emit(args, env: dict, report: dict, ctx: Context, out_dir: Path) -> int:
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    print("env " + json.dumps(env, sort_keys=True))
    record = {"env": env, **report}
    if args.trace:
        layers = layer_values(ctx, report, args.workload)
        record["layers"] = layers
        record["self_times"] = ctx.tracer.self_times()
        record["spans"] = ctx.tracer.spans
        for name, e in layers.items():
            shown = f"{e['value']:.6g}" if "value" in e else "n/a"
            print(f"{name:40s} {shown:>12s} {e['unit']:6s} moves {e['moves']}")
        wanted = [n for n, (_, where, _) in LAYERS.items() if where == ALL]
        metrics = {n: {"value": layers[n]["value"], "unit": layers[n]["unit"]} for n in wanted}
    else:
        for name, unit in END_TO_END.items():
            if name == "op_p90_s" and args.workload != "interactive_queries":
                continue
            print(f"{name:20s} {report[name]:.6g} {unit}")
        wanted = [n for n in END_TO_END if n not in NOT_IN_RESULT_LINE]
        metrics = {n: {"value": report[n], "unit": END_TO_END[n]} for n in wanted}
    out_dir.mkdir(exist_ok=True)
    path = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    path.write_text(json.dumps(record, indent=1, default=str))
    print(f"record -> {path}")
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
