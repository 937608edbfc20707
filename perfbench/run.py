#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload channel_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout: the ``ytspark`` package next to
``perfbench/`` is the program measured. Everything the run writes goes
under ``.perfbench_work/`` in that root and is removed at exit.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is a JSON detail record (environment stamp, sample counts, errors).
A traced run traces every other op, so the traced and untraced ops of
one run give the tracing overhead.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "cpu_s_per_op": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "sources.land_s": "s",
    "stream.latestOffset_ms": "ms", "stream.getBatch_ms": "ms",
    "stream.queryPlanning_ms": "ms", "stream.addBatch_ms": "ms",
    "stream.walCommit_ms": "ms", "stream.commitOffsets_ms": "ms",
    "stream.triggerExecution_ms": "ms", "stream.land_to_commit_s": "s",
    "storage.bronze_files": "count", "storage.bronze_mb": "MB",
    "facts.mart_s": "s", "facts.mart_jobs": "count",
    "analytics.report_s": "s", "analytics.jobs": "count", "checks.run_s": "s",
    "queries.call_s": "s", "queries.force_s": "s", "queries.jobs_per_op": "count",
    "queries.jobs_in_call": "count", "queries.stages_per_op": "count",
    "queries.tasks_per_op": "count",
    "operators.call_s": "s", "operators.force_s": "s", "operators.jobs_per_op": "count",
    "operators.jobs_in_call": "count", "operators.stages_per_op": "count",
    "operators.tasks_per_op": "count",
    "streamq.batches_per_op": "count", "streamq.addBatch_ms": "ms", "streamq.commit_ms": "ms",
    "spark.task_s": "s", "spark.driver_gap_s": "s", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.gc_s": "s",
    "trace.overhead_frac": "ratio",
}


class Context:
    def __init__(self, args, work: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.work = work
        self.spark = None
        self.tracer = None


def pin_environment(work: str, trace: bool) -> None:
    """Pin task threads to the usable cores and keep every file the run
    writes (scratch, shuffle, JVM temp, warehouse) inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = tmp
    conf = [
        f"spark.local.dir={os.path.join(work, 'local')}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # no hsperfdata file in /tmp: the run writes only inside ``work``
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        from tracing import event_log_conf

        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.append(event_log_conf(events))
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)


def stop_spark(spark) -> float:
    """Stop the session, then wait for the JVM and the Python workers it
    forked to exit; returns the peak RSS (MiB) of this process plus the
    JVM, read just before."""
    from stats import descendants, vm_hwm_mb

    proc = spark.sparkContext._gateway.proc
    rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(proc.pid)
    workers = descendants(proc.pid)
    try:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
    finally:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.time() + 20
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, 9)
    return rss


def run(args, work: str) -> tuple[dict, dict]:
    sys.path.insert(0, HERE)
    from stats import Tally, cpu_times, host_slowness, steal_share, trace_overhead, tree_cpu_seconds

    # host speed before the JVM starts; its CPU is not part of set-up
    cal_cpu = time.process_time()
    slowness = [host_slowness()]
    cal_cpu = time.process_time() - cal_cpu

    pin_environment(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    import datagen
    import tracing
    import workloads

    import ytspark
    if os.path.dirname(os.path.dirname(os.path.abspath(ytspark.__file__))) != ROOT:
        raise SystemExit(f"ytspark imported from {ytspark.__file__}, not from {ROOT}")

    ctx = Context(args, work)
    env = {
        "affinity": sorted(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_1m_start": os.getloadavg()[0],
        "python": sys.version.split()[0],
    }
    t = time.perf_counter()
    spark = ctx.spark = ytspark.get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t
    tally = Tally()
    progress: list[dict] = []
    try:
        env["spark"] = spark.version
        env["driver_mem"] = spark.sparkContext.getConf().get("spark.driver.memory")
        env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        ctx.tracer = tracing.Tracer(enabled=bool(args.trace))
        listener = None
        if args.trace:
            listener = tracing.StreamProgress()
            spark.streams.addListener(listener)

        wl = workloads.WORKLOADS[args.workload](ctx)
        if wl.data_tables:
            datagen.write_tables(os.path.join(work, "data"), args.seed, names=wl.data_tables)
        wl.setup()
        setup_wall_s = time.perf_counter() - T_PROCESS

        # CPU seconds of the whole set-up: this process since it started,
        # the JVM, and the JVM's Python workers
        host_before, cpu_before = cpu_times(), tree_cpu_seconds(os.getpid())
        workloads.closed_loop(tally, args.seconds, wl.passes(), wl.op, ctx.tracer,
                              traced=wl.traced if args.trace else None)
        window_cpu_s = tree_cpu_seconds(os.getpid()) - cpu_before
        env["window_steal_share"] = steal_share(host_before, cpu_times())
        wl.finish(tally)
        if listener:
            progress = list(listener.progress)
    finally:
        rss = stop_spark(spark)
    env["loadavg_1m_end"] = os.getloadavg()[0]
    slowness.append(host_slowness())  # and again once the JVM has exited
    env["host_slowness"] = slowness
    scale = statistics.fmean(slowness)

    summary = tally.summary()
    ok_ops = summary["samples"]
    summary["raw_cpu_s_per_op"] = window_cpu_s / ok_ops if ok_ops else 0.0
    warm = wl.warm
    detail = {"workload": args.workload, "seed": args.seed, "env": env, **summary,
              "ops": [[op.name, round(op.seconds, 4)] for op in tally.ops],
              "warmup_failed": warm.failed,
              "warmup_ops": [[op.name, round(op.seconds, 4)] for op in warm.ops],
              "warmup_errors": [f"{op.name}: {op.why}" for op in warm.ops if not op.ok][:10]}
    detail["peak_rss_mb"] = rss
    detail["setup_wall_s"] = setup_wall_s
    detail["setup_cpu_s"] = cpu_before - cal_cpu
    if not args.trace:
        values = {"setup_s": detail["setup_cpu_s"] / scale,
                  "cpu_s_per_op": summary["raw_cpu_s_per_op"] / scale}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        jobs, stages = tracing.job_census(tracing.read_event_log(os.path.join(work, "events")))
        rows = tracing.attribute(ctx.tracer.spans, jobs, stages)
        n_traced = sum(op.traced for op in tally.ops)
        values = dict.fromkeys(PER_LAYER, 0.0)
        values["session.start_s"] = session_s
        values.update(wl.per_layer(rows, progress, tally))
        for key in ("task_s", "driver_gap_s", "shuffle_read_mb", "shuffle_write_mb", "gc_s"):
            values[f"spark.{key}"] = tracing.per_op_mean(rows, "op", key, n_traced)
        values["trace.overhead_frac"] = trace_overhead(tally.ops)
        detail["traced_ops"] = n_traced
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    result = {
        "correct": tally.failed == 0 and warm.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }
    return detail, result


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True,
                    choices=("channel_pipeline", "registry_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "ytspark", "__init__.py")):
        print(f"perfbench: no ytspark package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
