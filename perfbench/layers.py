"""Per-layer metrics of a traced run: means per operation of the spans the
workloads record around each module's public functions, of the facts
they probe outside the timed spans, and of the Spark work the event log
attributes to each operation. Means, not medians, so that a layer most
operations skip (a UDF stage in one query of the mix) still shows, and
layer times add up to operation times."""

from __future__ import annotations

import collections
import statistics

from perfbench.tracing import reduce_ops

#: metric -> the span it averages, over the operations that have it
SPAN_METRICS = {
    "pipeline.ingest.wall_s": "pipeline.ingest",
    "pipeline.daily_analytics.build_s": "pipeline.daily_analytics",
    "sinks.jdbc.write_s": "sinks.jdbc.write_jdbc",
    "operators.build_s": "operators.build",
    "operators.exec_s": "operators.exec",
    "sources.tables.load_table_s": "sources.tables.load_table",
    "streaming.trigger_s": "streaming.trigger",
    "streaming.wal_commit_s": "streaming.wal_commit",
    "streaming.add_batch_s": "streaming.add_batch",
    "streaming.jdbc.upsert_s": "streaming.jdbc.upsert",
    "streaming.slo.apply_s": "streaming.slo.apply",
}
PROBE_METRICS = {
    "sources.apache_log.parse_s": "s",
    "sinks.staging.files_written": "count",
    "sinks.staging.bytes_written": "bytes",
    "sinks.jdbc.rows_written": "count",
}
SPARK_METRICS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_s": "s", "executor_deserialize_s": "s",
    "shuffle_bytes": "bytes", "spill_bytes": "bytes",
    "outside_jobs_s": "s", "python_udf_stage_s": "s",
}


def mean_or_zero(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def per_layer(untraced_ops: list[dict], traced, log_dir: str,
              get_spark_s: float, calib_s: float,
              peak_rss_mb: float) -> tuple[dict, dict]:
    """Returns (metrics for the result line, full record for the file)."""
    records = reduce_ops(traced.tracer.ops, log_dir)
    values: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (get_spark_s, "s"),
        "driver.peak_rss_mb": (peak_rss_mb, "MB"),
        "calib_s": (calib_s, "s"),
    }
    for name, span in SPAN_METRICS.items():
        values[name] = (mean_or_zero(
            r["spans"][span] for r in records if span in r["spans"]), "s")
    for name, unit in PROBE_METRICS.items():
        values[name] = (mean_or_zero(traced.probes.get(name, [])), unit)
    values["pipeline.ingest.log_scans"] = (mean_or_zero(
        r["by_layer"].get("pipeline.ingest", {}).get("log_scan_jobs", 0)
        for r in records if r["kind"] == "night"), "count")
    for key, unit in SPARK_METRICS.items():
        values[f"spark.{key}"] = (
            mean_or_zero(r["spark"][key] for r in records), unit)

    base = statistics.median(op["wall_s"] for op in untraced_ops)
    overhead = statistics.median(r["wall_s"] for r in records) - base
    values["trace.overhead_s"] = (overhead, "s")
    values["trace.overhead_share"] = (overhead / base, "ratio")

    by_module = collections.defaultdict(lambda: collections.defaultdict(list))
    for r in records:
        if "module" in r:
            for span in ("operators.build", "operators.exec"):
                by_module[r["module"]][span].append(r["spans"].get(span, 0.0))
    record = {
        "metrics": {k: v for k, (v, _) in values.items()},
        "operators_by_module": {
            m: {k: statistics.median(v) for k, v in spans.items()}
            for m, spans in by_module.items()},
        "untraced_walls_s": [op["wall_s"] for op in untraced_ops],
        "probes": traced.probes,
        "operations": records,
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    return metrics, record
