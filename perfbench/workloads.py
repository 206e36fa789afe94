"""The three workloads. Each takes a :class:`Context` and records the
operations it runs in ``ctx.tracer``: every one timed from outside the
package by spans around the public functions it calls, and marked ``ok``
only if its output matches truth that does not come from the program.

An operation is a night (``nightly_etl``), a query execution
(``adhoc_queries``) or a micro-batch (``stream_ingest``).
"""

from __future__ import annotations

import collections
import contextlib
import dataclasses
import datetime as dt
import os
import random
import sys
import time
from collections.abc import Callable

from perfbench import corpus
from perfbench.tracing import Tracer

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
JDBC_PROPS = {"driver": DERBY_DRIVER}
FIRST_NIGHT = dt.datetime(2026, 8, 1)

# nightly_etl: users seen night after night; every fourth night carries
# a small share of malformed lines, the others are clean.
NIGHT_USERS = 3000
NIGHT_LINES = 5_000
MALFORMED_SHARE = 0.02

# stream_ingest: each round replays a backlog of hourly files.
STREAM_USERS = 2000
STREAM_FILES = 4
STREAM_FILE_LINES = 3000
STAGING_SINK = "streaming.log_stream"

# adhoc_queries: one query per operator family the workload must load
# (CLF summary, relational, temporal, text, similarity, statistics, graph,
# multimodal UDF), kept in bench.HEADLINE order so cache-sharing queries
# stay adjacent.
ADHOC_MIX = (
    "clf_daily_summary",
    "tpch_q1_pricing_summary",
    "asof_join_last_order",
    "token_stats_by_lang",
    "cosine_topk_bruteforce",
    "mannwhitney_value_by_cohort",
    "triangle_count_part_graph",
    "bmp_feature_extract",
)
ADHOC_SF = 0.01


@dataclasses.dataclass
class Context:
    """One pass of a workload: its session, scratch directory and inputs'
    seed, how many operations it runs, and the tracer they go to."""

    spark: object
    tmp: str
    seed: int
    #: operations to run; a stream round adds all its micro-batches
    ops: int
    tracer: Tracer
    #: corrupt one truth value on purpose (the benchmark's own test)
    plant_wrong_truth: bool = False
    #: the untimed warm operation: a stream round has a single file
    warm_up: bool = False
    #: per-operation facts gathered outside the timed spans
    probes: dict = dataclasses.field(default_factory=dict)
    #: called once, right before the first timed operation
    loop_started: Callable[[], None] = lambda: None

    def more(self) -> bool:
        return len(self.tracer.ops) < self.ops

    def probe(self, key: str, value) -> None:
        self.probes.setdefault(key, []).append(value)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.tmp, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p


def op_cost_s(op: dict) -> float:
    """An operation's share of the measured time: its own wall, or for a
    micro-batch its share of the wall of the round it ran in."""
    return op.get("cost_s", op["wall_s"])


@contextlib.contextmanager
def timed_calls(modules, name: str, sink: list):
    """Replace ``name`` in each module with a wrapper that appends the
    call's wall time to ``sink``; restore on exit."""
    originals = {}
    for mod in modules:
        fn = getattr(mod, name)
        originals[mod] = fn

        def wrapper(*a, _fn=fn, **kw):
            t0 = time.perf_counter()
            try:
                return _fn(*a, **kw)
            finally:
                sink.append((time.perf_counter() - t0, a, kw))

        setattr(mod, name, wrapper)
    try:
        yield
    finally:
        for mod, fn in originals.items():
            setattr(mod, name, fn)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _read_jdbc(spark, url: str, table: str):
    return (spark.read.format("jdbc").option("url", url)
            .option("dbtable", table).option("driver", DERBY_DRIVER)
            .load().collect())


def _staging_files(staging: str, date: str) -> tuple[int, int]:
    part = os.path.join(staging, f"date={date}")
    files = [f for f in os.listdir(part) if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(os.path.join(part, f)) for f in files)


# ---------------------------------------------------------------------------
# nightly_etl
# ---------------------------------------------------------------------------


def nightly_etl(ctx: Context) -> None:
    from tdk_apache_log_etl_spark.pipeline import daily_analytics, ingest
    from tdk_apache_log_etl_spark.sinks.jdbc import write_jdbc
    from tdk_apache_log_etl_spark.sources.apache_log import read_apache_log

    spark, tr = ctx.spark, ctx.tracer
    users = corpus.UserPopulation(random.Random(f"users:{ctx.seed}"), NIGHT_USERS)
    landing = ctx.path("landing", "")
    archive = ctx.path("archive", "")
    staging = ctx.path("staging", "")
    url = f"jdbc:derby:{ctx.path('derby', 'nightly')};create=true"
    nights = []
    night = 0
    ctx.loop_started()
    while ctx.more():
        day = FIRST_NIGHT + dt.timedelta(days=night)
        run_date = day.strftime("%Y-%m-%d")
        rng = random.Random(f"night:{ctx.seed}:{night}")
        share = MALFORMED_SHARE if night % 4 == 3 else 0.0
        lines, truth = corpus.generate_lines(
            rng, users, day, 86_400, NIGHT_LINES, share)
        corpus.write_log(os.path.join(landing, f"{run_date}.log"), lines)
        if ctx.plant_wrong_truth and night == 0:
            truth.status_200 += 1
        if tr.tagged:
            t0 = time.perf_counter()
            _noop(read_apache_log(spark, landing, run_date=run_date))
            ctx.probe("sources.apache_log.parse_s", time.perf_counter() - t0)

        with tr.op("night", lines=NIGHT_LINES, date=run_date) as op:
            with tr.span("pipeline.ingest"):
                corrupt = ingest(spark, landing, staging, archive, run_date)
                n_corrupt = corrupt.count()
            with tr.span("pipeline.daily_analytics"):
                per_user, summary = daily_analytics(spark, staging, run_date)
            with tr.span("sinks.jdbc.write_jdbc"):
                write_jdbc(per_user, url, "tdk_user_requests_table",
                           mode="overwrite", properties=JDBC_PROPS)
                write_jdbc(summary, url, "tdk_total_requests_table",
                           mode="append", properties=JDBC_PROPS)

        # the overwritten per-user table is checked every night; the
        # appended summary and the date-partitioned quarantine keep every
        # night, so one read of each after the loop checks them all
        k3 = {r.user_id: r.requests_count for r in
              _read_jdbc(spark, url, "tdk_user_requests_table")}
        op["ok"] = k3 == dict(truth.per_user)
        nights.append((op, run_date, truth))
        ctx.probe("cli_corrupt_count_off", n_corrupt != truth.malformed)
        if tr.tagged:
            files, size = _staging_files(staging, run_date)
            ctx.probe("sinks.staging.files_written", files)
            ctx.probe("sinks.staging.bytes_written", size)
            ctx.probe("sinks.jdbc.rows_written", len(k3) + 1)
        night += 1

    k4 = collections.Counter(
        tuple(r) for r in _read_jdbc(spark, url, "tdk_total_requests_table"))
    quarantined = collections.Counter(
        r.date for r in spark.read.schema("_corrupt STRING, date STRING")
        .parquet(os.path.join(staging, "_quarantine")).select("date").collect())
    complete = sum(k4.values()) == len(nights)
    for op, run_date, truth in nights:
        op["ok"] = (op["ok"] and complete
                    and k4[(run_date, truth.distinct_users, truth.status_200)] == 1
                    and quarantined[run_date] == truth.malformed)


# ---------------------------------------------------------------------------
# adhoc_queries
# ---------------------------------------------------------------------------


def adhoc_queries(ctx: Context) -> None:
    import tdk_apache_log_etl_spark as pkg
    from tdk_apache_log_etl_spark.operators import ORACLES, QUERIES
    from tdk_apache_log_etl_spark.sources import tables
    from tests.parity import compare

    from perfbench import fixtures

    spark, tr = ctx.spark, ctx.tracer
    sf_dir = ctx.path("sf", "")
    rows = fixtures.write_tables(sf_dir, ADHOC_SF, ctx.seed)

    # every module that imported load_table holds its own reference
    loaders = [m for m in _package_modules(pkg)
               if getattr(m, "load_table", None) is tables.load_table]
    loads: list = []
    with timed_calls(loaders, "load_table", loads):
        # one oracle check per query, outside the timed loop; it also
        # records which tables each query reads
        ok, input_rows = {}, {}
        for name in ADHOC_MIX:
            del loads[:]
            sql = ORACLES[name]
            if ctx.plant_wrong_truth and name == ADHOC_MIX[0]:
                sql = f"SELECT * FROM ({sql}) AS planted LIMIT 0"
            try:
                ok[name], _ = compare(spark, name, QUERIES[name], sql, sf_dir)
            except Exception:  # noqa: BLE001 - a crashing query is a failure
                ok[name] = False
            input_rows[name] = sum(
                rows.get(a[2] if len(a) > 2 else kw["name"], 0)
                for _, a, kw in loads)

        start = random.Random(f"mix:{ctx.seed}").randrange(len(ADHOC_MIX))
        i = 0
        ctx.loop_started()
        while ctx.more():
            name = ADHOC_MIX[(start + i) % len(ADHOC_MIX)]
            module = QUERIES[name].__module__.rsplit(".", 1)[-1]
            del loads[:]
            with tr.op("query", query=name, module=module,
                       lines=input_rows[name]) as op:
                with tr.span("operators.build"):
                    df = QUERIES[name](spark, sf_dir)
                with tr.span("operators.exec"):
                    _noop(df)
            op["spans"].append(
                ("sources.tables.load_table", sum(t for t, _, _ in loads)))
            op["ok"] = ok[name]
            i += 1


def _package_modules(pkg):
    prefix = pkg.__name__ + "."
    return [m for n, m in list(sys.modules.items())
            if n.startswith(prefix) and m is not None]


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


def stream_ingest(ctx: Context) -> None:
    from pyspark.sql import functions as F

    from tdk_apache_log_etl_spark.sinks.staging import read_staging
    from tdk_apache_log_etl_spark.sources.apache_log import read_apache_log
    from tdk_apache_log_etl_spark.streaming import jdbc_stream, slo_stream
    from tdk_apache_log_etl_spark.streaming.log_stream import (
        read_log_stream,
        write_staging_stream,
    )

    spark, tr = ctx.spark, ctx.tracer
    users = corpus.UserPopulation(random.Random(f"users:{ctx.seed}"), STREAM_USERS)
    url = f"jdbc:derby:{ctx.path('derby', 'stream')};create=true"
    upserts: list = []
    applies: list = []
    rnd = 0
    ctx.loop_started()
    with timed_calls([jdbc_stream], "upsert_user_counts_batch", upserts), \
            timed_calls([slo_stream], "apply_slo_batch", applies):
        while ctx.more():
            base = ctx.path(f"round{rnd}", "")
            landing = ctx.path(f"round{rnd}", "landing", "")
            truth = corpus.Truth()
            for h in range(1 if ctx.warm_up else STREAM_FILES):
                hour = FIRST_NIGHT + dt.timedelta(hours=rnd * STREAM_FILES + h)
                rng = random.Random(f"hour:{ctx.seed}:{rnd}:{h}")
                lines, t = corpus.generate_lines(
                    rng, users, hour, 3600, STREAM_FILE_LINES)
                corpus.write_log(
                    os.path.join(landing, hour.strftime("%Y-%m-%d-%H.log")),
                    lines)
                truth.add(t)
            if ctx.plant_wrong_truth and rnd == 0:
                truth.lines += 1
            if tr.tagged:
                t0 = time.perf_counter()
                _noop(read_apache_log(spark, landing))
                ctx.probe("sources.apache_log.parse_s", time.perf_counter() - t0)

            table = f"stream_user_counts_r{rnd}"
            state = os.path.join(base, "slo_state")
            sinks = {
                STAGING_SINK: lambda: write_staging_stream(
                    read_log_stream(spark, landing, max_files_per_trigger=1)
                    .drop("_corrupt"),
                    os.path.join(base, "staging"), os.path.join(base, "ck_staging")),
                "streaming.jdbc_stream": lambda: jdbc_stream.write_jdbc_summary_stream(
                    read_log_stream(spark, landing, max_files_per_trigger=1),
                    url, table, os.path.join(base, "ck_jdbc"), JDBC_PROPS),
                "streaming.slo_stream": lambda: slo_stream.maintain_slo_stream(
                    spark,
                    read_log_stream(spark, landing, max_files_per_trigger=1).select(
                        F.col("time").alias("ts"),
                        F.when(F.col("status_code") >= 500, "error")
                        .otherwise("ok").alias("event_type")),
                    state, os.path.join(base, "ck_slo")),
            }
            # the three sinks consume the backlog side by side, as three
            # deployed queries over one landing directory would
            del upserts[:], applies[:]
            t0 = time.perf_counter()
            queries = {sink: build().start() for sink, build in sinks.items()}
            for sink, q in queries.items():
                q.awaitTermination()
                if q.exception() is not None:
                    raise RuntimeError(f"{sink} failed: {q.exception()}")
            round_wall = time.perf_counter() - t0
            # timed foreachBatch bodies, by (sink, batch id)
            timed = {("streaming.jdbc_stream", a[1]): ("streaming.jdbc.upsert", t)
                     for t, a, _ in upserts}
            timed.update({("streaming.slo_stream", a[3]): ("streaming.slo.apply", t)
                          for t, a, _ in applies})
            progress = [(sink, p) for sink, q in queries.items()
                        for p in q.recentProgress if p["numInputRows"]]
            round_ops = []
            for sink, p in progress:
                d = p["durationMs"]
                spans = [("streaming.trigger", d.get("triggerExecution", 0) / 1000),
                         ("streaming.wal_commit", d.get("walCommit", 0) / 1000),
                         ("streaming.add_batch", d.get("addBatch", 0) / 1000)]
                if (sink, p["batchId"]) in timed:
                    spans.append(timed[(sink, p["batchId"])])
                # the round's wall, start-up included, shared by its
                # batches; the input lines are counted once, by the
                # staging sink, though all three sinks read them
                round_ops.append(tr.add_op(
                    sink, p["timestamp"], d.get("triggerExecution", 0) / 1000,
                    spans, cost_s=round_wall / len(progress),
                    lines=p["numInputRows"] if sink == STAGING_SINK else 0,
                    query_id=p["id"],
                    batch_id=p["batchId"]))

            staged = read_staging(spark, os.path.join(base, "staging")).count()
            sums = {}
            for r in _read_jdbc(spark, url, table):
                sums[r.user_id] = sums.get(r.user_id, 0) + r.requests_count
            hourly = {r.hour: [r.n_events, r.n_errors] for r in
                      slo_stream.read_current_alerts(spark, state).collect()}
            ok = (staged == truth.lines and sums == dict(truth.per_user)
                  and hourly == truth.hourly)
            for op in round_ops:
                op["ok"] = ok
            rnd += 1


WORKLOADS = {
    "nightly_etl": nightly_etl,
    "adhoc_queries": adhoc_queries,
    "stream_ingest": stream_ingest,
}
