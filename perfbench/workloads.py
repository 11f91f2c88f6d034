"""The benchmark's workloads.

Each workload stages its inputs, warms the session, runs its ops in a
closed loop (one client, the next op starts when the previous one ends)
until the measuring time is up, and then checks the program's outputs
against DuckDB outside the timed part. The tables are generated from a
fixed seed, like the repository's test data; the run's seed shapes the
workload on top of them: the order of each query pass, or the time of
day at which the cron job cuts its ticks.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import random
import sys
import time

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from measure import median, process_tree, tree_cpu_delta
from oracle import compare_rows, compare_with_oracle, duck_connection, rows_of
from query_lists import EAGER_QUERIES


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Workload:
    """Interface: stage -> warm -> instrument -> run -> check."""

    def __init__(self, seed: int):
        self.seed = seed
        # (op name, error) of every failed op and failed check
        self.failures: list[tuple[str, str]] = []
        self.attempted = 0
        # CPU seconds of the whole process tree in each pass
        self.pass_cpu: list[float] = []
        self._cpu_mark: dict[int, float] | None = None

    def mark_pass(self) -> None:
        """Call at the start of the timed part and after every pass."""
        snap = process_tree(os.getpid())
        if self._cpu_mark is not None:
            self.pass_cpu.append(tree_cpu_delta(self._cpu_mark, snap))
        self._cpu_mark = snap

    def passes(self, tracer) -> list[float]:
        """Wall seconds of each pass over the workload's op list."""
        raise NotImplementedError

    def warm_pass(self, tracer) -> float:
        """Typical wall seconds of one pass after the first."""
        raise NotImplementedError

    def fail(self, name: str, error: str) -> None:
        self.failures.append((name, error[:500]))

    def run_op(self, tracer, name: str, body, **attrs):
        """Run one timed op; an exception is recorded as a failure."""
        self.attempted += 1
        result = None
        try:
            with tracer.op(name, **attrs):
                result = body()
        except Exception as e:  # noqa: BLE001 - counted, listed, never dropped
            self.fail(name, f"{type(e).__name__}: {e}")
        tracer.settle()
        return result

    def check_op(self, name: str, body) -> None:
        """Run one output check; a mismatch or an exception is a failure."""
        self.attempted += 1
        t0 = time.time()
        try:
            err = body()
        except Exception as e:  # noqa: BLE001 - counted, listed, never dropped
            err = f"{type(e).__name__}: {e}"
        log(f"{name}: {'FAILED' if err else 'ok'} in {time.time() - t0:.2f} s")
        if err:
            self.fail(name, err)

    def instrument(self, spark, tracer) -> None:
        """Hook layer-call wrappers and listeners in; traced runs only."""

    def layer_metrics(self, tracer) -> dict[str, float]:
        return {}


class EagerQueries(Workload):
    """Registry queries that start many Spark jobs while their DataFrame
    is being built (eager checkpoints, collects, iteration loops) and
    that fill the modules' artifact caches; the list is frozen in
    query_lists.py. The inputs are seeded star-schema, event, document
    and embedding tables. Each op is one registry call plus
    materializing its DataFrame to the `noop` sink. The list runs in
    passes; the seed permutes the order of every pass after the first.
    Pass 1 is cold: the session is new, so every artifact a query caches
    is built there; later passes reuse them."""

    SF = 0.01
    MIN_PASSES = 3

    def __init__(self, seed: int):
        super().__init__(seed)
        self.names = list(EAGER_QUERIES)
        self.cached: list[tuple[int, float]] = []

    def stage(self, spark, dest: str) -> None:
        self.data_dir = datagen.write_tables(dest, datagen.DATA_SEED, self.SF)

    def warm(self, spark) -> None:
        """Run the operator kinds the queries use (parquet scan, shuffle
        aggregate, join, window, local checkpoint, collect) on the staged
        tables, without any registry query, so that the artifact caches
        stay empty for pass 1."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from txf_continuous_data_pipeline_spark.sources import read_table

        docs = read_table(spark, self.data_dir, "documents")
        words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        ranked = (
            words.groupBy("w").agg(F.count("*").alias("n"))
            .join(words, "w")
            .withColumn("r", F.row_number().over(Window.partitionBy("doc_id").orderBy(F.desc("n"))))
            .localCheckpoint()
        )
        ranked.where("r = 1").groupBy("w").count().collect()

    def run(self, spark, tracer, deadline: float) -> None:
        from txf_continuous_data_pipeline_spark.queries import REGISTRY

        rng = random.Random(self.seed)
        self.n_passes = 0
        self.frames = {}
        self.mark_pass()
        while self.n_passes < self.MIN_PASSES or time.time() < deadline:
            order = self.names[:]
            # pass 1 keeps the list order: the first query of a fresh
            # process also pays the JIT compilation the warm-up left, and
            # a seeded first query would move that cost between queries
            if self.n_passes:
                rng.shuffle(order)
            for name in order:
                fn = REGISTRY[name][0]

                def body(fn=fn):
                    with tracer.call("queries.build"):
                        df = fn(spark, self.data_dir)
                    with tracer.call("queries.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    return df

                self.frames[name] = self.run_op(tracer, name, body, pass_no=self.n_passes)
            self.n_passes += 1
            self.mark_pass()
            self.cached.append(tracer.cached())
            ops = [op for op in tracer.ops() if op.attrs["pass_no"] == self.n_passes - 1]
            log(f"pass {self.n_passes}: {self.passes(tracer)[-1]:.2f} s, "
                f"{self.pass_cpu[-1]:.2f} CPU s ("
                + ", ".join(f"{op.name} {op.duration:.2f}" for op in ops) + ")")

    def passes(self, tracer) -> list[float]:
        walls = [0.0] * self.n_passes
        for op in tracer.ops():
            walls[op.attrs["pass_no"]] += op.duration
        return walls

    def warm_pass(self, tracer) -> float:
        """Sum over the queries of each one's median latency in the
        passes after the first."""
        by_name: dict[str, list[float]] = {}
        for op in tracer.ops():
            if op.attrs["pass_no"] > 0:
                by_name.setdefault(op.name, []).append(op.duration)
        return sum(median(v) for v in by_name.values())

    def check(self, spark) -> None:
        from txf_continuous_data_pipeline_spark.queries import REGISTRY

        con = duck_connection(self.data_dir)
        try:
            for name in sorted(self.names):
                df, sql = self.frames.get(name), REGISTRY[name][1]
                if df is None:
                    continue  # its last op failed and is counted already
                # the last pass's own DataFrame, collected once more
                self.check_op(f"check:{name}", lambda df=df, sql=sql: compare_with_oracle(df, con, sql))
        finally:
            con.close()

    def layer_metrics(self, tracer) -> dict[str, float]:
        from spans import outside_jobs

        ops = tracer.ops()
        n = max(len(ops), 1)
        jobs_in = {"queries.build": 0, "queries.exec": 0}
        for s in tracer.spans:
            if s.name == "spark.job" and s.attrs.get("layer") in jobs_in:
                jobs_in[s.attrs["layer"]] += 1
        cached = max(self.cached, key=lambda c: c[1], default=(0, 0.0))
        return {
            "queries.build_s": median(s.duration for s in tracer.calls("queries.build")),
            "queries.exec_s": median(s.duration for s in tracer.calls("queries.exec")),
            "queries.build_jobs": jobs_in["queries.build"] / n,
            "queries.exec_jobs": jobs_in["queries.exec"] / n,
            "queries.outside_jobs_s": sum(outside_jobs(tracer.spans, op) for op in ops) / n,
            "spark.cached_rdds": float(cached[0]),
            "spark.cached_mb": cached[1],
        }


class CronBars(Workload):
    """The paper's cron job. Events for 30 days are cut into one feed
    file per day at a seeded time of day. Tick 0 lands the first six
    days as one file; each later tick lands the next day. Every tick then
    runs one cron cycle on each engine path, each into its own sink:
    the batch path re-reads a 7-day lookback and appends new bars
    (plans.pipeline.incremental_run), the streaming path processes the
    new feed file from its checkpoint
    (streaming.incremental.available_now_bar_stream). One op is one
    tick; file landing is outside the op's time."""

    EVENTS = 100_000
    USERS = 1_500
    HISTORY_DAYS = 6
    MIN_TICKS = 3

    def stage(self, spark, dest: str) -> None:
        rng = random.Random(self.seed)
        self.dir = dest
        self.events = datagen.events_table(datagen.DATA_SEED, self.EVENTS, self.USERS)
        # the cut: a whole minute of the day, from the seed
        self.cut = dt.timedelta(minutes=rng.randrange(24 * 60))
        start = datagen.EVENTS_START
        self.bounds = [start] + [
            start + self.cut + dt.timedelta(days=d)
            for d in range(self.HISTORY_DAYS, datagen.EVENT_DAYS)
        ]
        for sub in ("feed", "lookback", "warm/feed"):
            os.makedirs(os.path.join(dest, sub), exist_ok=True)
        self.feed = os.path.join(dest, "feed")
        self.batch_sink = os.path.join(dest, "sink_batch")
        self.stream_sink = os.path.join(dest, "sink_stream")
        self.checkpoint = os.path.join(dest, "checkpoint")
        self.appended: list[int] = []

    def _slice(self, lo: dt.datetime, hi: dt.datetime) -> pa.Table:
        ts = self.events.column("ts")
        lo_s = pa.scalar(lo, pa.timestamp("us"))
        hi_s = pa.scalar(hi, pa.timestamp("us"))
        return self.events.filter(pc.and_(pc.greater_equal(ts, lo_s), pc.less(ts, hi_s)))

    def _land(self, lo: dt.datetime, hi: dt.datetime, name: str, feed_dir: str,
              lookback_root: str) -> str:
        """Write the feed file holding events in [lo, hi) and the 7-day
        lookback that ends at `hi`; returns the lookback directory."""
        part = self._slice(lo, hi)
        utc = part.set_column(
            1, "ts", part.column("ts").cast(pa.timestamp("us", tz="UTC"))
        )
        pq.write_table(utc, os.path.join(feed_dir, f"part-{name}.parquet"))
        lookback = os.path.join(lookback_root, f"tick-{name}")
        os.makedirs(lookback, exist_ok=True)
        pq.write_table(
            self._slice(hi - dt.timedelta(days=7), hi),
            os.path.join(lookback, "events.parquet"),
        )
        return lookback

    def _land_tick(self, tick: int) -> str:
        return self._land(
            self.bounds[tick], self.bounds[tick + 1], f"{tick:03d}", self.feed,
            os.path.join(self.dir, "lookback"),
        )

    def _cycle(self, spark, tracer, lookback, feed, batch_sink, stream_sink, checkpoint):
        from txf_continuous_data_pipeline_spark.plans.pipeline import incremental_run
        from txf_continuous_data_pipeline_spark.streaming.incremental import (
            available_now_bar_stream,
        )

        with tracer.call("plans.incremental_run"):
            n = incremental_run(spark, lookback, batch_sink)
        with tracer.call("streaming.available_now_run"):
            available_now_bar_stream(spark, feed, stream_sink, checkpoint)
        return n

    def warm(self, spark) -> None:
        """One cron cycle on both paths over a day of events, into sinks
        of its own."""
        from spans import Tracer

        warm = os.path.join(self.dir, "warm")
        idle = Tracer()
        start = datagen.EVENTS_START
        lookback = self._land(
            start, start + dt.timedelta(days=1), "w0", os.path.join(warm, "feed"), warm
        )
        with idle.op("warm"):
            self._cycle(
                spark, idle, lookback, os.path.join(warm, "feed"),
                os.path.join(warm, "sink_batch"), os.path.join(warm, "sink_stream"),
                os.path.join(warm, "checkpoint"),
            )

    def instrument(self, spark, tracer) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        from txf_continuous_data_pipeline_spark import sources
        from txf_continuous_data_pipeline_spark.plans import pipeline
        from txf_continuous_data_pipeline_spark.sources import io

        tracer.wrap(pipeline, "bar_pipeline_5m", "plans.bar_pipeline_5m")
        tracer.wrap(sources, "append_idempotent", "sources.append_idempotent")
        tracer.wrap(io, "sink_watermark", "sources.sink_watermark")

        class Progress(StreamingQueryListener):
            def __init__(self):
                self.progress, self.started, self.ended = [], 0, 0

            def onQueryStarted(self, event):
                self.started += 1

            def onQueryProgress(self, event):
                self.progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                self.ended += 1

        self.listener = Progress()
        spark.streams.addListener(self.listener)

    def run(self, spark, tracer, deadline: float) -> None:
        self.ticks = 0
        last = len(self.bounds) - 2
        self.mark_pass()
        while self.ticks <= last and (self.ticks < self.MIN_TICKS or time.time() < deadline):
            lookback = self._land_tick(self.ticks)
            n = self.run_op(
                tracer, "tick",
                lambda lb=lookback: self._cycle(
                    spark, tracer, lb, self.feed, self.batch_sink,
                    self.stream_sink, self.checkpoint,
                ),
            )
            self.appended.append(n)
            self.ticks += 1
            self.mark_pass()
            log(f"tick {self.ticks}: {tracer.ops()[-1].duration:.2f} s, "
                f"{self.pass_cpu[-1]:.2f} CPU s, {n} bars appended")
        if hasattr(self, "listener"):
            # the listener bus is asynchronous: wait for the last stream's
            # end before the progress records are read
            t_end = time.time() + 10
            while self.listener.ended < self.listener.started and time.time() < t_end:
                time.sleep(0.05)
            self.progress = list(self.listener.progress)
            spark.streams.removeListener(self.listener)

    def passes(self, tracer) -> list[float]:
        return [op.duration for op in tracer.ops()]

    def warm_pass(self, tracer) -> float:
        return median(self.passes(tracer)[1:])

    def check(self, spark) -> None:
        from txf_continuous_data_pipeline_spark.plans.pipeline import incremental_run
        from txf_continuous_data_pipeline_spark.queries import REGISTRY
        from txf_continuous_data_pipeline_spark.streaming.incremental import (
            available_now_bar_stream,
        )

        self.check_op("check:batch_sink", lambda: self._check_batch(spark, REGISTRY))
        self.check_op("check:stream_sink", lambda: self._check_stream(spark, REGISTRY))
        # replay the last tick: both sinks must stay as they are
        last = self.ticks - 1
        lookback = os.path.join(self.dir, "lookback", f"tick-{last:03d}")

        def replay_batch():
            n = incremental_run(spark, lookback, self.batch_sink)
            return f"replay appended {n} rows" if n else None

        def replay_stream():
            before = spark.read.parquet(self.stream_sink).count()
            src = os.path.join(self.feed, f"part-{last:03d}.parquet")
            dup = os.path.join(self.feed, f"part-{last:03d}-replay.parquet")
            with open(src, "rb") as f, open(dup, "wb") as g:
                g.write(f.read())
            available_now_bar_stream(spark, self.feed, self.stream_sink, self.checkpoint)
            n = spark.read.parquet(self.stream_sink).count() - before
            return f"replay appended {n} rows" if n else None

        self.check_op("replay:batch", replay_batch)
        self.check_op("replay:stream", replay_stream)

    def _check_batch(self, spark, registry) -> str | None:
        """The sink must hold, tick by tick, the oracle pipeline over that
        tick's lookback, above the previous tick's watermark."""
        sql = registry["bar_pipeline_5m"][1]
        con = duckdb.connect()
        try:
            wm = None
            expected: list[pa.Table] = []
            for tick in range(self.ticks):
                path = os.path.join(self.dir, "lookback", f"tick-{tick:03d}", "events.parquet")
                con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM '{path}'")
                rows = con.sql(sql).arrow()
                if wm is not None:
                    rows = rows.filter(pc.greater(rows.column("bar_ts"), pa.scalar(wm, rows.column("bar_ts").type)))
                if rows.num_rows != self.appended[tick]:
                    return f"tick {tick}: appended {self.appended[tick]} rows, oracle {rows.num_rows}"
                if rows.num_rows:
                    wm = pc.max(rows.column("bar_ts")).as_py()
                expected.append(rows)
            want = pa.concat_tables(expected)
        finally:
            con.close()
        got = spark.read.parquet(self.batch_sink).toArrow()
        return compare_rows(
            got.column_names, rows_of(got), want.column_names, rows_of(want)
        )

    def _check_stream(self, spark, registry) -> str | None:
        """Every bar in the stream sink must be the oracle OHLCV bar of all
        fed events, no bar may repeat, and every bar the watermark has
        passed must be there."""
        sql = registry["ohlcv_5m"][1]
        got = spark.read.parquet(self.stream_sink).toArrow()
        if got.num_rows == 0:
            return "stream sink is empty"
        last_bar = pc.max(got.column("bar_ts")).as_py().replace(tzinfo=None)
        # the watermark (10 min) passed every window that ended before
        # the previous tick's last event
        must_reach = self.bounds[self.ticks - 1] - dt.timedelta(minutes=20)
        if last_bar < must_reach:
            return f"stream sink ends at {last_bar}, expected at least {must_reach}"
        con = duckdb.connect()
        try:
            con.register("events", self._slice(self.bounds[0], self.bounds[self.ticks]))
            want = con.sql(
                f"SELECT bar_ts, open, high, low, close, volume FROM ({sql}) "
                "WHERE bar_ts <= $1",
                params=[last_bar],
            ).arrow()
        finally:
            con.close()
        return compare_rows(
            got.column_names, rows_of(got), want.column_names, rows_of(want)
        )

    def layer_metrics(self, tracer) -> dict[str, float]:
        prog = getattr(self, "progress", [])

        def dur(key: str) -> float:
            return median(p.durationMs.get(key, 0) for p in prog)

        last_state = prog[-1].stateOperators if prog else []
        return {
            "plans.incremental_run_s": median(s.duration for s in tracer.calls("plans.incremental_run")),
            "plans.bar_pipeline_5m_s": median(s.duration for s in tracer.calls("plans.bar_pipeline_5m")),
            "sources.append_idempotent_s": median(s.duration for s in tracer.calls("sources.append_idempotent")),
            "sources.sink_watermark_s": median(s.duration for s in tracer.calls("sources.sink_watermark")),
            "sources.sink_files": float(len(glob.glob(os.path.join(self.batch_sink, "part-*")))),
            "sources.rows_appended": float(sum(n or 0 for n in self.appended)),
            "streaming.available_now_run_s": median(s.duration for s in tracer.calls("streaming.available_now_run")),
            "streaming.batches": float(len(prog)),
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.planning_ms": dur("queryPlanning"),
            "streaming.commit_ms": median(
                p.durationMs.get("walCommit", 0) + p.durationMs.get("commitOffsets", 0) for p in prog
            ),
            "streaming.latest_offset_ms": dur("latestOffset"),
            "streaming.state_rows": float(sum(s.numRowsTotal for s in last_state)),
            "streaming.state_mb": sum(s.memoryUsedBytes for s in last_state) / 1e6,
        }


WORKLOADS = {"cron_bars": CronBars, "eager_queries": EagerQueries}
