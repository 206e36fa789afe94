"""End-to-end pipeline entry points mirroring the reference's two jobs.

A user of the reference runs two scheduled scripts; these are their
drop-in equivalents, Spark-native:

  * ``ingest``  ≙ the Lambda (sree-etl-tdk-lambda.py:145-218): discover
    ``*.log`` files → parse CLF → write date-partitioned Snappy-Parquet
    staging (K1/K2 collapsed into ONE write) → archive processed files.
  * ``daily_analytics`` ≙ the Glue job (sree-etl-tdk-glue-job.py:13-100):
    partition-pruned read of one day → the three metrics in one scan →
    per-user counts + a one-row summary, handed to any sink (JDBC via
    sinks.jdbc, or parquet for offline use).

Differences from the reference, all deliberate (SURVEY.md §7):
  * one distributed parse instead of single-process pandas;
  * malformed lines quarantined in ``_corrupt``, not file-fatal;
  * one staging write, not two;
  * three metrics share one scan instead of three;
  * ``run_date`` is a parameter, not wall-clock ``datetime.now()``;
  * NULL user_id (the CLF ``-`` placeholder) is excluded from BOTH
    outputs: ``requests_per_user`` filters the NULL group the reference's
    ``groupBy('user_id')`` would emit, and ``user_count`` uses
    ``countDistinct`` (NULL-excluding) where the reference's
    ``.distinct().count()`` counts NULL as one extra "user". Anonymous
    traffic is not a user; the un-dropped totals remain available via
    ``total_requests`` in the staging queries.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .sinks.staging import (
    archive_processed,
    read_staging,
    write_quarantine,
    write_staging,
)
from .sources.apache_log import read_apache_log


def ingest(
    spark: SparkSession,
    log_dir: str,
    staging_path: str,
    archive_dir: str | None = None,
    run_date: str | None = None,
) -> DataFrame:
    """Batch ingest: ``*.log`` under ``log_dir`` → partitioned staging.

    ``DataFrame.observe`` counts rows, unparsed lines, NULL user and size
    fields and corrupt lines on the staging write itself, and the counts
    are logged — no validation pass (the reference's ``print(df.count())``
    pays one, sree-etl-tdk-lambda.py:191). A clean day is one scan of the
    logs; only a day with corrupt lines scans again to quarantine them,
    stamped with ``run_date`` (``"unknown"`` when not given).

    Returns this run's corrupt lines (empty on a clean day), read back
    from the quarantine parquet pruned to the run's stamp — it stays
    valid after the source files are archived away (a frame lazily bound
    to the moved files would fail on first use). Archiving is
    ``archive_processed`` (K5).
    """
    parsed = read_apache_log(spark, log_dir, run_date=run_date)
    obs = Observation("ingest")
    observed = parsed.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("request_method").isNull(), 1)).alias(
            "n_unparsed"
        ),
        F.count(F.when(F.col("user_id").isNull(), 1)).alias("n_null_user"),
        F.count(F.when(F.col("size").isNull(), 1)).alias("n_null_size"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1)).alias("n_corrupt"),
    )
    # The observe node sits below the drop, so the _corrupt tally still
    # rides the staging write's scan while the written columns honor
    # STAGING_SCHEMA.
    write_staging(observed.drop("_corrupt"), staging_path)
    metrics = obs.get
    stamp = run_date if run_date is not None else "unknown"
    logging.getLogger(__name__).info("ingest %s: %s", stamp, metrics)
    quarantine = write_quarantine(
        parsed, staging_path, stamp, metrics["n_corrupt"]
    )
    if archive_dir is not None:
        archive_processed(log_dir, archive_dir)
    # Declared schema: a corruption-free history leaves an empty
    # directory, which a schema-inferring read would fail on.
    return (
        spark.read.schema("_corrupt STRING, date STRING")
        .parquet(quarantine)
        .where(F.col("date") == stamp)
    )


def daily_analytics(
    spark: SparkSession, staging_path: str, run_date: str
) -> tuple[DataFrame, DataFrame]:
    """The Glue job's analytical output for one day.

    Returns ``(requests_per_user, daily_summary)``:
      * requests_per_user: (user_id, requests_count) — K3's payload;
      * daily_summary: one row (current_date, user_count,
        total_successful_requests) — K4's payload, with the reference's
        schema-literal bug fixed (proper typed columns).
    ONE partition-pruned scan feeds both (the reference scans three times).
    """
    day = read_staging(spark, staging_path, date=run_date)
    per_user = (
        day.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("requests_count"))
    )
    summary = day.agg(
        F.lit(run_date).alias("current_date"),
        F.countDistinct("user_id").cast("int").alias("user_count"),
        F.count(F.when(F.col("status_code") == 200, 1))
        .cast("int")
        .alias("total_successful_requests"),
    )
    return per_user, summary
