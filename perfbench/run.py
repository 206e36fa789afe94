"""Benchmark of the log ETL engine: the paper's nightly job, ad-hoc
analytics and streaming ingest, measured end to end and per module.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see ``workloads.py``):

  nightly_etl    one night = land the seeded ``YYYY-MM-DD.log``, then
                 ``pipeline.ingest`` (+ the CLI's corrupt count),
                 ``pipeline.daily_analytics`` and the two Derby JDBC
                 writes; nights repeat on a growing staging table.
  adhoc_queries  a closed loop over a fixed mix of registered queries on
                 seeded fixture tables, each materialized to ``noop``;
                 every query is checked against its DuckDB oracle first.
  stream_ingest  rounds of hourly files replayed ``availableNow``, one
                 file per trigger, by three concurrent queries: the
                 staging file sink, the exactly-once Derby upsert and the
                 SLO state maintainer.

``--seconds`` sets how many operations a run measures: OPS_PER_SECOND
times as many, so that ``op_tail_s`` has at least 22 operations to lie
above the median on a 12 s run. That is about ``--seconds`` of queries
or micro-batches on a 4-core machine, and twice that of nights, which
take about a second each. A fixed count, not a deadline, so that every
run measures the same work: the JIT keeps speeding operations up through
a run, and with a deadline a run that fits one more pass of the ad-hoc
mix reports about 13% more throughput.

Every operation is checked against truth the benchmark generates itself.
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics:

  setup_s      time of ``get_spark`` plus a first job at the cold start
               of the JVM, as a scheduled nightly CLI pays it
  ops_per_s    operations per measured second
  op_p50_s     median operation latency
  op_tail_s    latency at the highest percentile with at least ten
               samples beyond it, never below the median; the
               percentile and the sample count go to stdout
  lines_per_s  input lines per measured second: log lines for the log
               workloads (on stream_ingest counted once, from the staging
               sink's batches, though all three sinks read them),
               input-table rows read for adhoc_queries
  retained_mb  memory the driver holds once the measured loop is over:
               this process's resident set plus the JVM's heap after a
               full collection and its non-heap pools. The peak resident
               set is not steady enough to gate on: G1 sizes the 8g
               driver heap adaptively, and the JVM's peak moved between
               1.7 and 2.9 GB over identical stream_ingest runs. It is
               reported by ``--trace 1`` as ``driver.peak_rss_mb``.

``--trace 1`` runs the same operations three times in one JVM, each pass
half the run length: untraced, with every layer call tagged
(``spark.addTag``) and an uncompressed event log, and untraced again. It
reports per-layer means per operation of the traced pass (``layers.py``)
and the tracing overhead: the traced median operation latency minus that
of the two untraced passes. The full per-operation records go to
``.perfbench_out/layers-<workload>-seed<seed>.json``.

Scratch data lives in ``.perfbench_tmp`` in the checkout, wiped before
and after each run.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(ROOT, ".perfbench_tmp")
OUT = os.path.join(ROOT, ".perfbench_out")
PACKAGE = "tdk_apache_log_etl_spark"

#: operations measured per second of ``--seconds``
OPS_PER_SECOND = 2

END_TO_END_UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s",
    "lines_per_s": "1/s", "retained_mb": "MB",
}


def pin_environment(tmp: str) -> None:
    """Everything the Spark JVM and the Python workers need, set before
    pyspark starts: a run never depends on the caller's shell."""
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    java_opts = (f"-Dderby.stream.error.file={tmp}/derby.log "
                 f"-Djava.io.tmpdir={tmp}/tmp")
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(tmp, "tmp"),
        # the UDF workers import the package from the checkout
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_SUBMIT_ARGS": "--conf " + shlex.quote(
            f"spark.driver.extraJavaOptions={java_opts}") + " pyspark-shell",
        # every JVM, the launcher's too: no hsperfdata files outside tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def warm_up(spark) -> None:
    """Timed in setup_s with get_spark: the first job pays class loading."""
    spark.range(1000).selectExpr("sum(id)").collect()


def warm_operation(spark, workload: str, tmp: str) -> None:
    """Untimed operations before the measured loop, so that it does not
    open with Derby's boot and the first compilation of the hot paths:
    one night, or one stream round of a single file. The ad-hoc workload
    needs none: its oracle checks run every query first."""
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Context

    if workload == "adhoc_queries":
        return
    ctx = Context(spark=spark, tmp=tmp, seed=-1, ops=1,
                  tracer=Tracer(spark, tagged=False), warm_up=True)
    WORKLOADS[workload](ctx)
    if not all(op["ok"] for op in ctx.tracer.ops):
        raise RuntimeError(f"{workload} warm-up produced a wrong result")


def start_spark(workload: str):
    """Returns (spark, get_spark seconds, setup seconds)."""
    from tdk_apache_log_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark)
    return spark, t1 - t0, time.perf_counter() - t0


def _measured_pids(spark) -> list[int]:
    return [os.getpid(), spark.sparkContext._gateway.proc.pid]


def reset_peak_rss(spark) -> None:
    """Restart the peak-memory count at the measured loop, so the oracle
    checks and input generation before it do not count."""
    for pid in _measured_pids(spark):
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def _status_mb(pid: int, key: str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024
    raise KeyError(key)


def peak_rss_mb(spark) -> float:
    return sum(_status_mb(pid, "VmHWM") for pid in _measured_pids(spark))


def retained_mb(spark) -> float:
    jvm = spark.sparkContext._jvm
    # drop the Python side's references into the JVM first, and collect
    # twice so that what Spark's cleaner frees after the first counts too
    gc.collect()
    jvm.java.lang.System.gc()
    time.sleep(1)
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = (mx.getHeapMemoryUsage().getUsed()
            + mx.getNonHeapMemoryUsage().getUsed())
    return used / 2**20 + _status_mb(os.getpid(), "VmRSS")


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile with
    at least ten samples beyond it, but never below the median (fewer
    than 22 operations leave no such percentile above the median)."""
    xs = sorted(values)
    n = len(xs)
    k = max(n - 11, n // 2)
    return xs[k], 100.0 * (k + 1) / n, n - 1 - k


def planned_ops(workload: str, seconds: float) -> int:
    """Operations a run of ``seconds`` measures: whole passes over the
    ad-hoc mix, so every run weighs each query alike."""
    from perfbench.workloads import ADHOC_MIX

    n = max(1, round(seconds * OPS_PER_SECOND))
    if workload == "adhoc_queries":
        n = -(-n // len(ADHOC_MIX)) * len(ADHOC_MIX)
    return n


def run_phase(spark, workload, seed, ops, tmp, tagged, plant=False):
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Context

    ctx = Context(spark=spark, tmp=tmp, seed=seed, ops=ops,
                  tracer=Tracer(spark, tagged=tagged), plant_wrong_truth=plant,
                  loop_started=lambda: reset_peak_rss(spark))
    WORKLOADS[workload](ctx)
    return ctx


def end_to_end(ctx, setup_s, retained) -> dict:
    from perfbench.workloads import op_cost_s

    ops = ctx.tracer.ops
    walls = [op["wall_s"] for op in ops]
    measured = sum(op_cost_s(op) for op in ops)
    tail_v, tail_p, beyond = tail(walls)
    print(f"op_tail_s is p{tail_p:.1f} of {len(walls)} operations "
          f"({beyond} beyond it)")
    values = {
        "setup_s": setup_s,
        "ops_per_s": len(ops) / measured,
        "op_p50_s": statistics.median(walls),
        "op_tail_s": tail_v,
        "lines_per_s": sum(op.get("lines", 0) for op in ops) / measured,
        "retained_mb": retained,
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]}
            for k, v in values.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("nightly_etl", "adhoc_queries", "stream_ingest"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for the benchmark's own test: a planted wrong truth
    p.add_argument("--plant-wrong-truth", action="store_true",
                   help=argparse.SUPPRESS)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2

    shutil.rmtree(TMP, ignore_errors=True)
    pin_environment(TMP)
    os.chdir(TMP)  # stray engine files (warehouse, metastore) stay here
    try:
        return _run(args)
    finally:
        stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(TMP, ignore_errors=True)


def stop_jvm() -> None:
    """The gateway JVM, and the Python workers under it, exit when its
    stdin closes; wait for that, so a run leaves no process behind."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        proc = SparkContext._gateway.proc
        proc.stdin.close()
        proc.wait(timeout=60)


def restart(spark, workload: str, event_log: bool, tmp: str):
    """Stop the context and start a new one in the same JVM, with Spark's
    event log on or off (it is read from JVM system properties)."""
    from pyspark import SparkContext

    from perfbench.tracing import event_log_confs
    from tdk_apache_log_etl_spark.operators.registry import release_scoped_caches

    release_scoped_caches()  # cached frames belong to the old context
    spark.stop()
    system = SparkContext._jvm.java.lang.System
    for key, value in event_log_confs(os.path.join(TMP, "eventlog")).items():
        if event_log:
            system.setProperty(key, value)
        else:
            system.clearProperty(key)
    spark, _, _ = start_spark(workload)
    warm_operation(spark, workload, tmp)
    return spark


def traced_replay(spark, args, untraced):
    """Replay the untraced phase's operations twice more: first with every
    layer call tagged and the event log on, then untraced again, so the
    tracing overhead is not confounded with the session warming up."""
    n = len(untraced.tracer.ops)
    spark = restart(spark, args.workload, True, os.path.join(TMP, "warm-1"))
    traced = run_phase(spark, args.workload, args.seed, n,
                       os.path.join(TMP, "traced"), True,
                       plant=args.plant_wrong_truth)
    import bench  # the frozen machine-day probe, context only

    calib = bench._calibration(spark)
    spark = restart(spark, args.workload, False, os.path.join(TMP, "warm-2"))
    again = run_phase(spark, args.workload, args.seed, n,
                      os.path.join(TMP, "untraced-2"), False,
                      plant=args.plant_wrong_truth)
    return spark, traced, again, calib


def _run(args) -> int:
    from perfbench import layers

    spark, get_spark_s, setup_s = start_spark(args.workload)
    # a traced run measures three passes of half the run length each
    ops = planned_ops(args.workload,
                      args.seconds / 2 if args.trace else args.seconds)
    try:
        warm_operation(spark, args.workload, os.path.join(TMP, "warm"))
        ctx = run_phase(spark, args.workload, args.seed, ops,
                        os.path.join(TMP, "untraced"), False,
                        plant=args.plant_wrong_truth)
        rss = peak_rss_mb(spark)
        ops = list(ctx.tracer.ops)
        if args.trace:
            spark, traced, again, calib = traced_replay(spark, args, ctx)
            ops += traced.tracer.ops + again.tracer.ops
            metrics, record = layers.per_layer(
                ctx.tracer.ops + again.tracer.ops, traced,
                os.path.join(TMP, "eventlog"), get_spark_s, calib, rss)
            os.makedirs(OUT, exist_ok=True)
            out = os.path.join(
                OUT, f"layers-{args.workload}-seed{args.seed}.json")
            with open(out, "w") as fh:
                json.dump(record, fh, indent=1, default=str)
            print(f"per-operation layer records: {out}")
        else:
            metrics = end_to_end(ctx, setup_s, retained_mb(spark))
    finally:
        spark.stop()

    off = sum(ctx.probes.get("cli_corrupt_count_off", []))
    if off:
        print(f"note: on {off} nights the frame pipeline.ingest returned "
              "also held earlier nights' quarantined lines")
    failed = sum(1 for op in ops if not op.get("ok"))
    print(f"failed_share: {failed / len(ops):.4f} ({failed} of {len(ops)})")
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
