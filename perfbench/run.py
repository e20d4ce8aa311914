#!/usr/bin/env python3
"""Layered benchmark for the chess lakehouse engine.

Run from the repository root:

    python3 perfbench/run.py --workload pgn_lake --seed 1 --seconds 12 --trace 0

One client process drives one ``local[nproc]`` Spark session in a closed
loop: the next operation starts only when the previous one returns. The
workload is built from ``--seed`` (see ``gen.py``); the engine sees only
the generated files. Set-up is repeated three times and its median is
reported. A run makes a fixed number of passes, ``--seconds`` divided by
the workload's nominal pass length; the count does not depend on the speed
of the code under test. Outputs are checked outside the timed region; an
operation that raises or fails a check counts as failed.

With ``--trace 0`` the last line of standard output is a JSON object with
every end-to-end metric; with ``--trace 1`` the Spark event log, job-group
tags and layer spans are on and it carries the per-layer metrics instead.
Every file the run writes lives under ``.perfbench/<workload>/`` in the
current directory, which is emptied at the start of each run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
#: JVM heap for the driver; the inputs are small, and a bounded heap keeps
#: the JVM's resident size comparable between runs.
DRIVER_MEMORY = "2g"


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal (clock ticks)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found for the JVM")


def _start_session(work: str, n: int, trace: bool):
    from chess_lakehouse_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    os.makedirs(tmp)
    os.makedirs(events)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    conf = {
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": "file://" + events,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData -Xms2g -Xmn512m",
    }
    return get_spark(app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not (
        os.path.isdir(os.path.join(root, "chess_lakehouse_spark"))
        and os.path.isfile(os.path.join(root, "scripts", "pipeline_cli.py"))
    ):
        print("perfbench: run from the repository root (chess_lakehouse_spark/ or scripts/ missing)", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    import metrics
    import workloads
    from spans import Tracer, read_event_log, spark_metrics

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    n = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench", args.workload)
    workloads.clean_dir(work)
    env = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "nproc": n, "loadavg_start": _loadavg()}
    ticks0 = _cpu_ticks()

    t_origin = time.time() - time.perf_counter()
    t0 = time.perf_counter()
    spark = _start_session(work, n, bool(args.trace))
    try:
        start_s = time.perf_counter() - t0
        env["spark_version"] = spark.version
        tracer = Tracer(spark.sparkContext, bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](spark, root, work, args.seed, tracer)

        # Warm-up first, so that every set-up rep sees the same warm engine
        # and their median is not the cold first one.
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        setup_times = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup(rep)
            setup_times.append(time.perf_counter() - t)
        if args.trace:
            wl.wrap_layers()

        passes, failures = [], []
        for i in range(max(1, round(args.seconds / wl.pass_s))):
            ps = time.perf_counter()
            with tracer.span("pass") as pass_span:
                ops = wl.run_pass(i)
            pe = time.perf_counter()
            passes.append({"start": ps, "end": pe, "ops": ops, "span": pass_span, **wl.pass_metrics()})
            failures += [f"{o.name}: {o.error}" for o in ops if o.error]
            failures += wl.check()
        tracer.unwrap_all()

        layer_values = wl.layer_metrics() if args.trace else {}
        rss_mb = _jvm_peak_rss_mb(spark)
    finally:
        _stop_session(spark)
    env["loadavg_end"] = _loadavg()
    # CPU time the hypervisor gave to other guests, as a share of the run's
    # CPU time: a high value marks a run on a contended host.
    delta = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    env["steal_pct"] = round(100 * delta[7] / max(1, sum(delta)), 2)

    n_ops = sum(len(p["ops"]) for p in passes)
    e2e = metrics.end_to_end(wl, passes, start_s, warmup_s, setup_times, rss_mb)
    layers = {}
    if args.trace:
        jobs, stages = read_event_log(os.path.join(work, "events"))
        traced_ops = [o for pz in passes for o in pz["ops"]] + getattr(wl, "probe_ops", [])
        per_op = spark_metrics(jobs, stages, {o.op_id: (o.start, o.end) for o in traced_ops}, t_origin)
        layer_values.update(metrics.traced_layers(wl, passes, tracer))
        layer_values.update(metrics.spark_per_pass(per_op, passes))
        layer_values.update(metrics.cli_qc_jobs(jobs, tracer, passes))
        if hasattr(wl, "probe_ops"):
            layer_values["sources.pgn.splits"] = sum(per_op[o.op_id]["last_stage_tasks"] for o in wl.probe_ops)
        layer_values["session.start_s"] = start_s
        layer_values["session.warmup_s"] = warmup_s
        layers = metrics.with_units(layer_values)
        tracer.dump(os.path.join(work, "spans.json"))
        report = metrics.trace_report(tracer, passes, per_op)
        with open(os.path.join(work, "trace_report.json"), "w") as fh:
            json.dump({"env": env, "layers": layer_values, **report}, fh, indent=1, default=str)
        metrics.print_trace_report(report)

    for f in failures:
        print(f"FAILED {f}")
    print("env " + json.dumps(env))
    shown = layers if args.trace else e2e
    for name, (value, unit) in shown.items():
        print(f"{name} = {value} {unit}")
    for line in metrics.info_lines(passes, len(failures)):
        print(line)
    print(
        json.dumps(
            {
                "correct": not failures and n_ops > 0,
                "attempted": max(1, n_ops),
                "failed": len(failures) if n_ops else 1,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
