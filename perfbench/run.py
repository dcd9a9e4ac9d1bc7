"""Benchmark of the welearn-spark product.

Run from the root of a checkout:

    python3 perfbench/run.py --workload {enrich,queries} \\
        --seed N --seconds S --trace {0,1}

Builds the workload's inputs from ``--seed``, starts the session
(``local[nproc]``, one client, closed loop), warms up once, then runs
one pass of the workload's fixed work, and checks every output after
the timed window. The pass is the same work whatever ``--seconds``
says; it is sized to outlast the benchmark's ``run_seconds``, and the
run says so on standard error when it does not. The last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, with the Spark UI off.
``--trace 1`` first runs the same command untraced in a child process,
then runs traced (spans around every call into the program, Spark's
status REST API on) and reports the per-layer metrics, each layer's
self time, and the tracing overhead. Spans are written to
``.perfbench/results/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # the checkout

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
}
SELF_TIME_LAYERS = ("bench", "pipeline", "plans", "spark.sql", "spark.job", "spark.stage")


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    from workloads import ENRICH_OUTPUTS, QUERIES

    names = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "session.peak_rss_mb": "MB",
        "sources.scan_ms": "ms",
        "sources.files_read": "count",
        "udfs.python_nodes": "count",
        "udfs.python_rows": "count",
        "udfs.python_rows_floor": "count",
        "udfs.python_s": "s",
    }
    names.update({f"pipeline.enrich.{d}_s": "s" for d in ENRICH_OUTPUTS})
    names["pipeline.enrich.jobs"] = "count"
    names.update({
        "plans.build_s": "s",
        "plans.sink_s": "s",
        "plans.eager_jobs": "count",
    })
    for k, unit in (("build_s", "s"), ("sink_s", "s"), ("eager_jobs", "count")):
        names.update({f"plans.{k}.{q}": unit for q in QUERIES})
    names.update({
        "exchange.shuffle_read_mb": "MB",
        "exchange.shuffle_write_mb": "MB",
        "trace.wall_s": "s",
        "trace.untraced_wall_s": "s",
        "trace.overhead_s": "s",
    })
    names.update({f"trace.self_s.{layer}": "s" for layer in SELF_TIME_LAYERS})
    return names


def _configure_environment(work: str, traced: bool) -> None:
    """Keep every file the run writes inside ``work`` and pin the
    session settings the program reads from the environment."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM, spark-submit's launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_UI"] = "true" if traced else "false"
    os.environ["SPARK_GRAFT_CONSOLE_PROGRESS"] = "false"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    for knob in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_DF_DEBUG"):
        os.environ.pop(knob, None)


def _stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process this run
    started."""
    from pyspark import SparkContext

    from measure import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while (left := process_tree(os.getpid())[1:]) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _untraced_wall(args) -> float:
    """wall_s of the same run without tracing, from a child process."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    sys.stderr.write(done.stdout)
    return json.loads(done.stdout.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]


def run(args) -> dict:
    from measure import Outcomes, peak_rss_kb, process_age_s, process_tree
    from spans import StatusApi, Tracer, attach, layer_self_times
    import inputs
    import workloads

    traced = bool(args.trace)
    untraced_wall = _untraced_wall(args) if traced else None

    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=traced)
    wl = workloads.WORKLOADS[args.workload]()
    outcomes = Outcomes()
    spark = None
    try:
        _configure_environment(work, traced)
        # import the program first, so that a checkout without it fails fast
        from welearn_datastack_spark.session import get_spark

        ctx = workloads.Context(work, args.seed, tracer, inputs.load_generator(ROOT))
        with tracer.span("run", "bench") as run_span:
            with tracer.span("setup.inputs", "bench"):
                wl.prepare(ctx)
            with tracer.span("session.start", "session") as start:
                spark = ctx.spark = get_spark(f"perfbench-{args.workload}")
            with tracer.span("session.warmup", "session") as warm:
                wl.warmup(ctx)
            setup_s = process_age_s()
            the_pass = wl.run_pass(ctx, outcomes)
            if the_pass.span.seconds < args.seconds:
                print(f"note: the pass took {the_pass.span.seconds:.1f} s, "
                      f"less than --seconds {args.seconds:g}", file=sys.stderr)
            with tracer.span("checks", "bench"):
                details = wl.check(ctx, the_pass, outcomes)
            rss = peak_rss_kb(process_tree(os.getpid()))
        rss_mb = sum(kb for _, kb in rss.values()) / 1024.0
        e2e = wl.end_to_end(the_pass)
        e2e["setup_s"] = setup_s
        if traced:
            api = StatusApi(spark)
            api.settled()
            snap = api.snapshot()
            attach(tracer, snap)
            sql = {e["id"]: e for e in snap["sql"]}
            metrics = dict.fromkeys(per_layer_names(), 0.0)
            metrics.update(wl.layer_metrics(the_pass, sql, tracer.spans))
            metrics["session.start_s"] = start.seconds
            metrics["session.warmup_s"] = warm.seconds
            metrics["session.peak_rss_mb"] = rss_mb
            metrics["trace.wall_s"] = e2e["wall_s"]
            metrics["trace.untraced_wall_s"] = untraced_wall
            metrics["trace.overhead_s"] = e2e["wall_s"] - untraced_wall
            self_s = layer_self_times(tracer.spans, the_pass.span.id)
            for layer in SELF_TIME_LAYERS:
                metrics[f"trace.self_s.{layer}"] = self_s.get(layer, 0.0)
            tracer.write(os.path.join(results, f"trace-{run_id}.json"))
            units = per_layer_names()
        else:
            metrics, units = e2e, END_TO_END
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    report = {
        "correct": outcomes.failed == 0,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    t = workloads.pass_tail(the_pass)
    print(f"{args.workload}: {outcomes.attempted} ops, "
          f"error_rate {outcomes.error_rate:.4f}, op_tail_s = p{t.percentile:.1f} of "
          f"{t.samples} samples ({t.beyond} beyond), run {run_span.seconds:.1f} s")
    for reason in outcomes.reasons:
        print(f"FAILED {reason}")
    with open(os.path.join(results, f"result-{run_id}-trace{args.trace}.json"), "w") as f:
        json.dump({**report, "error_rate": outcomes.error_rate, "failures": outcomes.reasons,
                   "op_tail": t.__dict__, **details,
                   "ops": {op.id: op.span.seconds for op in the_pass.ops},
                   "peak_rss_mb": rss_mb,
                   "peak_rss_kb": {f"{name}-{pid}": kb for pid, (name, kb) in rss.items()}},
                  f, indent=1)
    return report


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("enrich", "queries"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    report = run(args)
    print(json.dumps(report), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
