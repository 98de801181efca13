#!/usr/bin/env python3
"""The repo benchmark: one seeded workload per run, every output checked.

    python3 perfbench/run.py --workload pos_analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine package is imported from the
directory above this one; every file the run writes (inputs, warehouse,
Spark scratch) lives under ``.perfbench_work/`` there and is removed at the
end. ``--out DIR`` additionally keeps the full result (and, with
``--trace 1``, the spans) as JSON files in ``DIR``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See README.md for what each metric means on each workload.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "simple_pos_kafka_pyspark_airflow_spark"

WORKLOADS = {
    "pos_analytics": "wl_analytics",
    "pos_cdc": "wl_cdc",
    "corpus_ingest": "wl_corpus",
}

END_TO_END = {
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "throughput_per_s": "1/s",
    "setup_s": "s",
}

STREAMING_TIERS = ("url", "digest", "minhash", "span", "line", "substring")

#: every per-layer metric, with its unit; a layer a workload leaves idle
#: reports 0
PER_LAYER = {
    "process.peak_rss_mb": "MiB",
    "session.start_s": "s",
    "plans.build_p50_s": "s",
    "plans.build_sum_s": "s",
    "sources.input_bytes": "bytes",
    "sources.input_records": "count",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.tasks": "count",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_fetch_wait_s": "s",
    "operators.spill_bytes": "bytes",
    "streaming.ingest.latest_offset_s": "s",
    "streaming.pipeline.commit_s": "s",
    "streaming.pipeline.batch_s": "s",
    "streaming.pipeline.batches": "count",
    "streaming.pipeline.backlog_files_max": "count",
    "streaming.pipeline.generator_late_max_s": "s",
    "streaming.cdc.sink_s": "s",
    "streaming.cdc.bytes_written_per_event": "bytes",
    "streaming.cdc.snapshot_bytes": "bytes",
    **{f"streaming.corpus.{t}_s": "s" for t in STREAMING_TIERS},
    **{f"streaming.corpus.{t}_index_bytes": "bytes" for t in STREAMING_TIERS},
    **{f"streaming.corpus.{t}_keep_ratio": "ratio" for t in STREAMING_TIERS},
    "streaming.ann.dedup_s": "s",
    "streaming.ann.index_bytes": "bytes",
    "streaming.ann.keep_ratio": "ratio",
    "llm.gate_keep_ratio": "ratio",
}


def process_start_epoch() -> float:
    """Wall-clock time this process started, from ``/proc`` (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


class Context:
    """What a workload gets: the arguments, its scratch directory, the
    tracer and (after start-up) the Spark session."""

    def __init__(self, args: argparse.Namespace, work: str, tracer) -> None:
        self.seed: int = args.seed
        self.seconds: float = float(args.seconds)
        self.trace: bool = bool(args.trace)
        self.work = work
        self.tracer = tracer
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="directory to keep the full result and spans in")
    return ap.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(60)


def main(argv: list[str] | None = None) -> int:
    t_start = process_start_epoch()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found next to perfbench/",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # everything Spark, the JVM and Python's tempfile write stays in the checkout
    os.environ.update({
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_GRAFT_UI": "true" if args.trace else "false",
    })
    sys.path.insert(0, ROOT)
    from tracing import Tracer, operator_metrics, rest_jobs_and_stages, vm_hwm_mb

    tracer = Tracer(bool(args.trace))
    ctx = Context(args, work, tracer)
    wl = importlib.import_module(WORKLOADS[args.workload])
    spark = None
    try:
        from simple_pos_kafka_pyspark_airflow_spark.session import get_session

        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_session(
                f"perfbench-{args.workload}",
                cpus=ctx.cpus,
                extra_conf={
                    # -XX:-UsePerfData: no hsperfdata file under /tmp
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                    "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        session_s = time.perf_counter() - t0
        ctx.spark = spark
        state = wl.setup(ctx)
        setup_s = time.time() - t_start

        measured_from = time.time()
        outcome = wl.measure(ctx, state)
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers["session.start_s"] = session_s
        if ctx.trace:
            jobs, stages = rest_jobs_and_stages(spark, measured_from)
            layers.update(operator_metrics(jobs, stages))
            tracer.add_spark_jobs(jobs, {
                s["op"]: s["id"] for s in tracer.spans if s["parent"] is None and s["op"]
            })
        t_check = time.perf_counter()
        outcome.check(ctx)
        outcome.notes["check_s"] = time.perf_counter() - t_check
        layers.update(outcome.layers(ctx))
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        layers["process.peak_rss_mb"] = vm_hwm_mb([os.getpid(), jvm_pid])
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass

    e2e = {
        "latency_p50_s": outcome.latency_p50(),
        "latency_p90_s": outcome.latency_p90(),
        "throughput_per_s": outcome.throughput(),
        "setup_s": setup_s,
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": ctx.cpus, "samples": outcome.samples(),
        "latencies_s": outcome.latencies,
        "end_to_end": e2e, "per_layer": layers, "notes": outcome.notes,
        "problems": outcome.problems[:20],
    }
    print(f"# {args.workload} seed={args.seed} trace={args.trace} samples={outcome.samples()} "
          f"attempted={outcome.attempted} failed={outcome.failed} "
          + " ".join(f"{k}={v:.4g}" for k, v in e2e.items())
          + f" peak_rss_mb={layers['process.peak_rss_mb']:.0f}", file=sys.stderr)
    for p in outcome.problems[:20]:
        print(f"# problem: {p}", file=sys.stderr)
    if args.out:
        os.makedirs(args.out, exist_ok=True)
        stem = os.path.join(args.out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        with open(stem + ".json", "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
        if args.trace:
            tracer.dump(stem + ".spans.json")

    units = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else e2e
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
