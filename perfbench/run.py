"""Benchmark of the OPC UA ingestion engine: one workload per run.

    python3 perfbench/run.py --workload ingest_opcua_durable --seed 1 \\
        --seconds 8 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into ``.bench_work/`` (deleted at exit); the engine sees only those
files. The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or
with ``--trace 1`` the per-layer ones). See README.md in this
directory for the workloads, the metrics and the reference figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "batch_latency_s_p50": "s",
    "read_s_p50": "s",
    "records_per_s": "records/s",
}

PER_LAYER = {
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.trigger_ms_p50": "ms",
    "streaming.input_rows_per_batch": "rows",
    "opcua_source.read_s_p50": "s",
    "opcua_source.partitions_per_batch": "count",
    "replay.process_batch_s_p50": "s",
    "ingest.plan_s_p50": "s",
    "ingest.jobs_per_batch": "count",
    "tablefmt.commit_merge_s_p50": "s",
    "tablefmt.read_version_s_p50": "s",
    "tablefmt.jobs_per_commit": "count",
    "tablefmt.bytes_per_commit": "bytes",
    "tablefmt.files_per_commit": "count",
    "tablefmt.cas_retries": "count",
    "dedup.candidate_pairs": "count",
    "dedup.verified_per_candidate": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.busy_s": "s",
    "spark.outside_jobs_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    # the end-to-end figures measured under tracing: minus the untraced
    # medians they give the tracing overhead
    "trace.setup_s": "s",
    "trace.batch_latency_s_p50": "s",
    "trace.read_s_p50": "s",
    "trace.records_per_s": "records/s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full",
                    help="input size; 'toy' is for the self-test")
    ap.add_argument("--cores", type=int, default=None,
                    help="local[k] threads (default: min(2, nproc))")
    ap.add_argument("--corrupt-read", type=int, default=None, metavar="N",
                    help="self-test: alter the rows of the N-th timed read")
    return ap.parse_args(argv)


def spark_env(work: str, cores: int, trace: bool) -> None:
    """Session settings, all from outside the engine: core count and
    driver memory through the engine's own variables, scratch space
    inside the checkout, and for a traced run Spark's event log."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no hsperfdata file under the system's /tmp
    submit = ["--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if trace:
        from tracing import event_log_conf

        os.makedirs(os.path.join(work, "eventlog"))
        submit += event_log_conf(os.path.join(work, "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail_note(name: str, xs: list[float]) -> str:
    """The median, and the highest percentile with at least ten samples
    beyond it when there are enough samples for one."""
    import statistics

    n = len(xs)
    line = f"{name}: n={n} p50={statistics.median(xs):.4f}"
    if n >= 40:
        p = int(100 * (n - 10) / n)
        q = statistics.quantiles(xs, n=100)[p - 1]
        line += f" p{p}={q:.4f} ({n - int(n * p / 100)} samples beyond)"
    else:
        line += " (fewer than 40 samples: no tail percentile)"
    return line


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # fails here, before any output, where the engine is not present
    import opcua_ingestion_engine_spark  # noqa: F401

    import tracing
    import workloads as W
    from clock import StealMeter

    if args.workload not in W.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")
    cores = args.cores or min(2, os.cpu_count() or 1)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        scale = W.SCALES[args.scale]
        workload = W.WORKLOADS[args.workload](args.seed, scale, work)
        spark_env(work, cores, bool(args.trace))
        tracer = tracing.Tracer() if args.trace else None

        from opcua_ingestion_engine_spark.session import get_spark

        with StealMeter() as clock:
            t_session = time.time()
            spark = get_spark(f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
            try:
                out = workload.run(spark, args.seconds, tracer, t_session)
            finally:
                if tracer is not None:
                    tracer.unwrap()
                stop_spark(spark)
        timed = out.timed
        if args.corrupt_read is not None:
            reads = [x for r in timed for x in r.reads]
            x = reads[args.corrupt_read % len(reads)]
            x.rows = x.rows + x.rows[:1]  # a repeated row: wrong on every workload
        attempted, failed, correct = workload.check(out)
        e2e = W.end_to_end(out, clock)
        for name, xs in (
            ("batch_latency_s", [r.commit - r.trigger for r in timed]),
            ("read_s", [x.end - x.start for r in timed for x in r.reads]),
        ):
            print(tail_note(name, xs))
        if args.trace:
            layers = dict.fromkeys(PER_LAYER, 0.0)
            layers.update(workload.layers(tracer, out, tracing.EventLog(os.path.join(work, "eventlog"))))
            layers.update({f"trace.{k}": v for k, v in e2e.items()})
            metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        print(f"{args.workload} seed={args.seed} cores={cores} rounds={len(timed)} "
              f"attempted={attempted} failed={failed} correct={correct} "
              f"steal={clock.share(out.t_session, timed[-1].end):.3f}")
        print("wall time: " + " ".join(f"{k}={v:.4f}" for k, v in W.wall(out).items()))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
