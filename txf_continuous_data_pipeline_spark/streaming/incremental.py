"""Structured Streaming variant of the bar pipeline (SURVEY.md 2.7).

The reference is a batch micro-run with streaming semantics: each cron
invocation re-fetches a 7-day window and relies on a sink watermark for
idempotent appends (main.py:548-558, :61). That model maps 1:1 onto
Structured Streaming's incremental-batch execution:

  ST1 watermark / idempotent load -> file source + checkpoint; the
      foreachBatch sink re-applies the max(ts) watermark filter so even a
      replayed micro-batch (at-least-once delivery) appends no duplicates.
  ST2 never-emit-open-session     -> event-time watermark: an append-mode
      windowed aggregate only emits a bar once the watermark passes the
      window end, i.e. once the bar can no longer change. This is the
      reference's "better missing than wrong" rule (main.py:362-364) made
      precise.
  ST3 completeness gate            -> validated inside foreachBatch before
      the commit; a violation raises and fails the batch, like the
      reference's abort at main.py:399-400.
  ST4 tumbling windows             -> the same F.window exprs as batch
      (operators/resample.py); the plan is shared code, not a rewrite.

Scale notes: the stateful windowed aggregate keeps one row of state per
open window per key; the watermark bounds state size. The shuffle
partitioning of a streaming agg is fixed at checkpoint creation -
size spark.sql.shuffle.partitions for the steady-state rate before the
first run, not after.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# File-stream schema for a staged events feed (micros timestamps - see
# stage_events_dir, which converts the testdata's TIMESTAMP(NANOS)).
from pyspark.sql.types import TimestampType

# The batch=<id> exactly-once machinery lives in ONE module
# (commit_log, r11 verdict #6); the private aliases keep every loop
# and the existing pytest imports stable.
from .commit_log import (  # noqa: F401  (re-exported for tests)
    compact_batch_store,
    earlier_batch_dirs as _earlier_batch_dirs,
    has_parts as _has_parts,
    run_available_now as _run_available_now,
    write_batch as _write_batch,
)
from ..sources.io import read_parquet

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def stage_events_dir(
    spark: SparkSession, sf_dir: str, staging_dir: str, *, n_files: int = 4
) -> str:
    """Stage the (read-only, single-file) testdata events table as a
    directory of `n_files` time-range-ordered parquet files - the shape a
    real feed directory has, and what the file-stream source requires.
    Range-partitioning by ts keeps per-file time ranges disjoint so
    maxFilesPerTrigger=1 replays the feed in near-arrival order."""
    import glob
    import os as _os
    import time as _time

    from ..sources import read_table

    events = read_table(spark, sf_dir, "events")
    (
        events.repartitionByRange(n_files, "ts")
        .write.mode("overwrite")
        .parquet(staging_dir)
    )
    # The file source orders micro-batches by modification time; the
    # write stamps all parts at once, so ties would make arrival order
    # (and therefore watermark-drop behavior) nondeterministic. Re-stamp
    # in part order = ts-range order (repartitionByRange partition 0 is
    # the lowest range) to model an in-order feed.
    now = _time.time()
    for i, f in enumerate(sorted(glob.glob(_os.path.join(staging_dir, "part-*")))):
        _os.utime(f, (now + 2 * i, now + 2 * i))
    return staging_dir


def stream_events(
    spark: SparkSession, feed_dir: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """ST1 source: the events feed directory as a file stream (the k-bar
    feed stand-in for the broker API scan, S1/main.py:234-256). New files
    landing in feed_dir are the arrival of new bars."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(feed_dir)


def streaming_ohlcv(
    stream: DataFrame,
    *,
    ts_col: str = "ts",
    price_col: str = "value",
    width: str = "5 minutes",
    offset: str = "0 seconds",
    closed: str = "right",
    delay: str = "10 minutes",
    out_ts: str = "bar_ts",
) -> DataFrame:
    """ST4 + ST2: watermarked tumbling OHLCV in append mode.

    Same bucket convention as batch (operators/resample.py: closed='right'
    buckets ts - 1us, labeled left). The watermark delays emission until a
    bar is `delay` past its window end, so an in-progress bar is never
    emitted - the streaming form of drop_incomplete_current_session
    (main.py:326-366).

    min_by/max_by replace pandas' order-dependent first/last - safe under
    shuffle AND under out-of-order arrival within the watermark.
    """
    ts, price = F.col(ts_col), F.col(price_col)
    # The watermark must be declared on the very column the window groups
    # on, or Spark rejects append mode as an unwatermarked aggregation -
    # so the closed='right' 1us shift is materialized as its own column
    # first (shifting event time and watermark together by 1us is
    # semantics-preserving).
    src = ts - F.expr("INTERVAL 1 MICROSECOND") if closed == "right" else ts
    return (
        stream.withColumn("_wts", src)
        .withWatermark("_wts", delay)
        .groupBy(F.window(F.col("_wts"), width, startTime=offset).alias("w"))
        .agg(
            F.min_by(price, ts).alias("open"),
            F.max(price).alias("high"),
            F.min(price).alias("low"),
            F.max_by(price, ts).alias("close"),
            F.count("*").cast("long").alias("volume"),
        )
        .select(F.col("w")["start"].alias(out_ts), "open", "high", "low", "close", "volume")
    )


def gated_idempotent_sink(
    sink_path: str,
    *,
    ts_col: str = "bar_ts",
    expected: dict[str, int] | None = None,
    session_col: str = "session_id",
):
    """ST1 + ST3 sink: a foreachBatch function that (1) optionally runs
    the Gate-1 completeness check and aborts the batch on violation, and
    (2) appends idempotently, so at-least-once micro-batch replay cannot
    duplicate rows (Gate 2).

    Unlike the batch sink (sources/io.append_idempotent, which mirrors
    the reference's scalar max-ts watermark), dedup here is KEYED on the
    window column: a windowed aggregate does not emit windows in
    time order across micro-batches (batch N can flush an older window
    than batch N-1's max), so a scalar watermark would silently drop
    legitimate late-flushed windows. An anti-join on the window key is
    order-independent and replay-safe. At scale the sink key scan prunes
    by partition when the sink is date-partitioned on the key.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.quality import assert_complete

        batch_df = batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            if expected is not None and session_col in batch_df.columns:
                assert_complete(batch_df, expected)
            spark = batch_df.sparkSession
            lo, hi = batch_df.agg(
                F.min(ts_col), F.max(ts_col)
            ).collect()[0]
            # "Sink missing" is an explicit filesystem probe (the same
            # discipline as sources/io.merge_aggregate_sink), NOT a
            # substring match on the AnalysisException message - error
            # text varies across Spark versions/locales, and a changed
            # message would re-raise on a genuinely missing sink and
            # wedge the stream's first batch. Conversely any REAL read
            # failure on an existing sink (partial file from a crashed
            # attempt) still raises - swallowing it would re-append the
            # crashed attempt's committed windows, the exact
            # duplication Gate 2 exists to prevent.
            jvm = spark.sparkContext._jvm
            hconf = spark.sparkContext._jsc.hadoopConfiguration()
            jpath = jvm.org.apache.hadoop.fs.Path(sink_path)
            if jpath.getFileSystem(hconf).exists(jpath):
                # Only sink keys inside the batch's own key range can
                # collide; the range predicate reaches the parquet scan
                # (min/max row-group stats), so the dedup read stays
                # O(batch) however large the sink grows.
                existing = (
                    read_parquet(spark, sink_path)
                    .where(F.col(ts_col).between(lo, hi))
                    .select(ts_col)
                )
                out = batch_df.join(F.broadcast(existing), ts_col, "left_anti")
            else:
                out = batch_df
            if not out.isEmpty():
                out.write.mode("append").parquet(sink_path)
        finally:
            batch_df.unpersist()

    return _write


def available_now_bar_stream(
    spark: SparkSession,
    feed_dir: str,
    sink_path: str,
    checkpoint_path: str,
    *,
    width: str = "5 minutes",
    delay: str = "10 minutes",
    max_files_per_trigger: int | None = 1,
    timeout_s: int = 120,
) -> None:
    """One incremental run, end to end: process whatever files are new
    since the checkpoint and stop (Trigger.AvailableNow) - the exact
    execution shape of the reference's cron micro-run (section 3.1),
    with the checkpoint playing the role of the 7-day re-fetch + sink
    watermark read.
    """
    bars = streaming_ohlcv(
        stream_events(
            spark, feed_dir, max_files_per_trigger=max_files_per_trigger
        ),
        width=width,
        delay=delay,
    )
    q = (
        bars.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(gated_idempotent_sink(sink_path, ts_col="bar_ts"))
        .start()
    )
    q.awaitTermination(timeout_s)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"streaming run exceeded {timeout_s}s")
    if q.exception() is not None:
        raise q.exception()


def dedup_stream(
    stream: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup for an at-least-once feed: drop every
    record whose key was already seen while its event time is inside
    the watermark horizon (dropDuplicatesWithinWatermark). The
    training-data ingestion twin of Gate 2: a replayed file / retried
    producer batch contributes zero duplicate rows downstream.

    State is one entry per key within the horizon; the watermark evicts
    older keys, so state size is bounded by the feed's rate x delay,
    never by feed history. (Plain dropDuplicates on a stream would keep
    EVERY key forever - unbounded state; the watermarked form is the
    only shape that survives at 100 TB.)
    """
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def streaming_enriched_bars(
    spark: SparkSession,
    feed_dir: str,
    config: DataFrame,
    *,
    width: str = "5 minutes",
    delay: str = "10 minutes",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Stream-static enrichment: the watermarked OHLCV bar stream
    back-adjusted against the STATIC settle-config dimension - the
    streaming form of the batch pipeline's J1+A7 stage, and the shape
    every streaming fact-vs-dimension enrichment takes.

    Structured Streaming re-plans the static side per micro-batch, so
    the broadcast interval join inside `backadjust` works unchanged on
    a stream; the watermarked aggregate upstream keeps state bounded
    and append-mode legal. Returns the unsunk enriched stream (caller
    picks the sink/trigger)."""
    from ..operators.adjust import backadjust

    bars = streaming_ohlcv(
        stream_events(
            spark, feed_dir, max_files_per_trigger=max_files_per_trigger
        ),
        width=width,
        delay=delay,
    )
    return backadjust(bars, config, ts_col="bar_ts", end_inclusive=False)


def neardup_ingest_run(
    spark: SparkSession,
    feed_dir: str,
    work_dir: str,
    *,
    threshold: float = 0.5,
    timeout_s: int = 240,
    derived_sinks: dict | None = None,
) -> None:
    """Continuous LLM-corpus ingestion with ONLINE near-dup: each
    arriving micro-batch of documents is (1) deduped within itself
    (drop any doc matching a smaller-id batchmate), (2) checked against
    the STORED MinHash index of every previously-kept doc
    (minhash_delta_pairs - O(batch + collisions), independent of corpus
    size), and (3) survivors are appended to the kept-corpus sink AND
    their band/shingle rows appended to the index, so the next batch
    dedups against them. Greedy first-arrival-wins semantics - the
    standard production shape for crawl ingestion (a new near-dup of
    anything already kept is dropped; kept docs are never revisited).

    Layout under work_dir: kept/batch=<id>/, index_bands/batch=<id>/,
    index_shingles/batch=<id>/ (at 100 TB the index dirs are the two
    tables on shared storage), ckpt/ (stream checkpoint). Each batch
    writes its OWN subdirectory with overwrite semantics and reads only
    index subdirectories of strictly earlier batches - so a foreachBatch
    replay (at-least-once delivery, crash after a partial commit)
    recomputes against the same index snapshot and overwrites its own
    partial output instead of double-appending: deterministic
    exactly-once effect without a transactional table format. The
    checkpoint assigns batch ids, so ckpt/ and the output dirs are one
    unit: reset both together (rerunning the same feed with a fresh
    checkpoint reproduces identical content; a CHANGED feed needs a
    fresh work_dir). The batch twin in tests/test_streaming_dedup.py
    pins stream == sequential batch fold exactly.

    derived_sinks: optional {name: fn} of per-batch transforms over the
    SURVIVORS frame; each fn(survivors_df) is written to
    work_dir/<name>/batch=<id>/ under the same exactly-once overwrite
    layout - this is how the full curation pipeline rides the ingest
    loop (e.g. quality-filter -> PII-redact -> chunk into training
    shards) with one stream, one checkpoint, one replay story.
    """
    from ..operators.dedup import (
        build_minhash_index,
        minhash_delta_pairs,
        minhash_neardup_pairs,
        shingle_array,
    )

    reserved = {"kept", "index_bands", "index_shingles", "ckpt"}
    for name in derived_sinks or {}:
        if name in reserved or "/" in name or os.sep in name:
            raise ValueError(
                f"derived sink name {name!r} collides with the loop's "
                f"own layout ({sorted(reserved)}) or escapes work_dir"
            )
    kept_dir = os.path.join(work_dir, "kept")
    bands_dir = os.path.join(work_dir, "index_bands")
    sh_dir = os.path.join(work_dir, "index_shingles")

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        spark_b = batch.sparkSession
        batch = batch.localCheckpoint(eager=True)
        # ONE interpreted shingle build serves all four consumers
        # (within-batch signature + verify, delta signature + verify,
        # index build) - the shingle_sets discipline from the batch
        # dedup paths (VERDICT r04 #7).
        sets = batch.select(
            F.col("doc_id"),
            shingle_array(F.col("text"), n=3, hashed=True).alias("sh"),
        ).localCheckpoint(eager=True)
        # (1) within-batch greedy dedup: smaller id wins
        self_pairs = minhash_neardup_pairs(
            batch, threshold=threshold, shingle_sets=sets
        )
        drop_self = self_pairs.select(
            F.col("id_b").alias("doc_id")
        ).distinct()
        survivors = batch.join(drop_self, "doc_id", "left_anti")
        # (2) against the stored index of docs kept by STRICTLY EARLIER
        # batches - a replayed batch therefore sees the exact snapshot
        # its first attempt saw, never its own partial output.
        band_paths = _earlier_batch_dirs(bands_dir, batch_id)
        if band_paths:
            index = {
                "bands": spark_b.read.parquet(*band_paths),
                "shingles": spark_b.read.parquet(
                    *_earlier_batch_dirs(sh_dir, batch_id)
                ),
            }
            surv_sets = sets.join(
                survivors.select("doc_id"), "doc_id", "left_semi"
            )
            hits = minhash_delta_pairs(
                survivors, index, threshold=threshold,
                shingle_sets=surv_sets,
            ).select(F.col("delta_id").alias("doc_id")).distinct()
            survivors = survivors.join(hits, "doc_id", "left_anti")
        survivors = survivors.localCheckpoint(eager=True)
        # (3) commit into this batch's own subdirectories; mode
        # overwrite makes a crash-retry rewrite, not double-append.
        # An all-dropped batch still writes (empty) dirs so the
        # batch=<id> layout records it as processed.
        kept_sets = sets.join(
            survivors.select("doc_id"), "doc_id", "left_semi"
        )
        _write_batch(survivors, kept_dir, batch_id)
        new_index = build_minhash_index(
            survivors, persist=False, shingle_sets=kept_sets
        )
        _write_batch(new_index["bands"], bands_dir, batch_id)
        _write_batch(new_index["shingles"], sh_dir, batch_id)
        for name, fn in (derived_sinks or {}).items():
            _write_batch(
                fn(survivors), os.path.join(work_dir, name), batch_id
            )

    _run_available_now(
        spark, feed_dir, work_dir,
        schema="doc_id long, text string",
        ingest=_ingest,
        timeout_s=timeout_s,
        label="neardup ingest",
    )


def conversion_join_stream(
    spark: SparkSession,
    feed_dir: str,
    *,
    first_type: str = "click",
    then_type: str = "purchase",
    within: str = "10 minutes",
    delay: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAM-STREAM interval join: pair each `first_type` event with
    the same user's `then_type` events that follow within `within` -
    the attribution/conversion join, and the one streaming join shape
    stream-static enrichment can't express.

    Both sides carry watermarks and the join condition bounds
    then_ts - first_ts, so Spark derives a state-eviction horizon for
    BOTH buffers: a first-side row is dropped once the then-side
    watermark passes first_ts + within (+ delay), giving bounded state
    on an unbounded feed. Inner join -> append mode, rows emitted as
    soon as both sides arrive; row-equality with the batch twin is
    pinned by tests/test_streaming.py."""
    first = (
        stream_events(
            spark, feed_dir, max_files_per_trigger=max_files_per_trigger
        )
        .where(F.col("event_type") == first_type)
        .select(
            F.col("user_id").alias("u"),
            F.col("event_id").alias("first_id"),
            F.col("ts").alias("first_ts"),
        )
        .withWatermark("first_ts", delay)
    )
    then = (
        stream_events(
            spark, feed_dir, max_files_per_trigger=max_files_per_trigger
        )
        .where(F.col("event_type") == then_type)
        .select(
            F.col("user_id").alias("u2"),
            F.col("event_id").alias("then_id"),
            F.col("ts").alias("then_ts"),
        )
        .withWatermark("then_ts", delay)
    )
    return first.join(
        then,
        (F.col("u") == F.col("u2"))
        & (F.col("then_ts") > F.col("first_ts"))
        & (
            F.col("then_ts")
            <= F.col("first_ts") + F.expr(f"INTERVAL {within}")
        ),
    ).select(
        F.col("u").alias("user_id"), "first_id", "first_ts",
        "then_id", "then_ts",
    )


def ann_index_ingest_run(
    spark: SparkSession,
    feed_dir: str,
    work_dir: str,
    centroids: list,
    codebook,
    *,
    m: int,
    timeout_s: int = 240,
) -> str:
    """Continuous ANN-index ingestion - the streaming twin of
    append_ivfpq_index, closing the loop between the at-rest IVFPQ
    serving index and an unbounded vector feed: each arriving
    micro-batch is routed to its coarse cells and PQ-encoded under the
    FROZEN quantizers, then appended to the persisted index's cell
    partitions. Searches (ivfpq_topk_from_index) keep their partition-
    pruned scan shape against the live index; append-only writes mean
    concurrent readers are never disturbed.

    Exactly-once effect under foreachBatch's at-least-once contract
    comes from append_ivfpq_index itself: its touched-cells-pruned
    anti-join drops ids already present, so a replayed batch (crash
    after a partial append, checkpoint redelivery) appends only the
    rows its first attempt missed - the id-level analogue of
    neardup_ingest_run's batch-subdirectory discipline, and cheaper:
    no per-batch layout, just the index.

    Per-batch cost is O(batch) assign+encode plus the pruned guard
    read - corpus size never enters. Frozen-quantizer drift is
    monitored out-of-band by ivfpq_index_cell_stats (the retrain
    tripwire); retraining is a rebuild, not this loop's job. Returns
    the index path under work_dir. Stream == sequential-batch-fold
    equality and replay idempotency are pinned by tests/test_pq.py."""
    from ..operators.similarity import append_ivfpq_index

    index_path = os.path.join(work_dir, "index")

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        append_ivfpq_index(
            batch.sparkSession,
            index_path,
            batch,
            centroids,
            codebook,
            m=m,
        )

    _run_available_now(
        spark, feed_dir, work_dir,
        schema="vec_id long, embedding array<float>",
        ingest=_ingest,
        timeout_s=timeout_s,
        label="ann index ingest",
    )
    return index_path


def streaming_kmeans_run(
    spark: SparkSession,
    feed_dir: str,
    work_dir: str,
    seed_centroids: list,
    *,
    decay: float = 1.0,
    timeout_s: int = 240,
) -> str:
    """Streaming k-means with forgetfulness over an unbounded vector
    feed - the classic StreamingKMeans update rule (public MLlib
    semantics) rebuilt on Structured Streaming sufficient statistics:
    per micro-batch, assign vectors to the CURRENT centroids
    (kmeans_assign - a zero-shuffle projection), fold the batch's
    per-cluster (sum, count) partials into decayed state

        S_c <- decay * S_c + sum_batch_c
        N_c <- decay * N_c + n_batch_c,    centroid_c = S_c / N_c

    so decay=1.0 accumulates forever and decay<1 half-lives old mass
    per batch, letting centroids track drift. State is k rows of
    (cluster_id, csum, cnt, last_batch) parquet - k*dim doubles, the
    only thing that ever leaves an executor; per-batch cost is one
    assignment scan + a k-row aggregate. Idempotent under foreachBatch
    redelivery: state carries the last folded batch id and replays
    skip (the merge_aggregate_sink watermark discipline). A cluster
    that receives no mass keeps its decayed centroid (S and N scale
    together, S/N is invariant) - it never collapses to NaN.

    Returns the state path. The batch-sequential numpy replay
    differential and the drift-tracking property are pinned in
    tests/test_streaming_kmeans.py."""
    import numpy as np

    from ..operators.similarity import kmeans_assign

    state_path = os.path.join(work_dir, "kmeans_state")
    k = len(seed_centroids)
    dim = len(seed_centroids[0][1])

    def _load_state(sess):
        # "State missing" is an explicit filesystem probe (the
        # gated_idempotent_sink discipline above), so ONLY the
        # first-run case reseeds; a corrupt/partial state read on an
        # EXISTING path raises loudly - the streaming checkpoint has
        # already committed prior batches, and silently reseeding
        # would drop all accumulated sufficient statistics (r8
        # advice).
        jvm = sess.sparkContext._jvm
        hconf = sess.sparkContext._jsc.hadoopConfiguration()
        jpath = jvm.org.apache.hadoop.fs.Path(state_path)
        if not jpath.getFileSystem(hconf).exists(jpath):
            return None
        rows = sess.read.parquet(state_path).collect()
        # an EXISTING path must hold exactly one row per cluster: a
        # crash mid-overwrite that left zero or a subset of rows is
        # corrupt/partial state, and reseeding (or zeroing the missing
        # clusters) would silently drop accumulated statistics
        ids = sorted(r["cluster_id"] for r in rows)
        if ids != list(range(k)):
            # row COUNT alone is not enough: a torn overwrite mixing
            # old+new part files can hold k rows with duplicated /
            # missing cluster ids, silently swapping one cluster's
            # statistics for another's
            raise ValueError(
                f"streaming k-means state at {state_path} is corrupt: "
                f"cluster ids {ids} != 0..{k - 1} - refusing to "
                "reseed over committed batches; delete the state dir "
                "to restart from scratch"
            )
        rows.sort(key=lambda r: r["cluster_id"])
        S = np.array([r["csum"] for r in rows])
        N = np.array([r["cnt"] for r in rows])
        lb = max(r["last_batch"] for r in rows)
        return S, N, lb

    def _write_state(sess, S, N, bid):
        pdf = [
            (int(c), [float(x) for x in S[c]], float(N[c]), int(bid))
            for c in range(k)
        ]
        sess.createDataFrame(
            pdf,
            "cluster_id int, csum array<double>, cnt double, "
            "last_batch long",
        ).coalesce(1).write.mode("overwrite").parquet(state_path)

    def _fold(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        sess = batch.sparkSession
        st = _load_state(sess)
        if st is None:
            S = np.array(
                [[float(x) for x in v] for _c, v in seed_centroids]
            )
            N = np.ones(k)
            last = -1
        else:
            S, N, last = st
            if batch_id <= last:
                return
        cents = [
            (c, (S[c] / N[c]).tolist()) for c in range(k)
        ]
        assigned = kmeans_assign(batch, cents)
        partials = (
            assigned.select(
                "cluster_id",
                F.posexplode(
                    F.transform(
                        F.col("embedding"), lambda x: x.cast("double")
                    )
                ).alias("pos", "x"),
            )
            .groupBy("cluster_id", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        S2, N2 = decay * S, decay * N
        counted = set()
        for r in partials:
            S2[r["cluster_id"], r["pos"]] += r["s"]
            if r["cluster_id"] not in counted:
                N2[r["cluster_id"]] += r["n"]
                counted.add(r["cluster_id"])
        _write_state(sess, S2, N2, batch_id)

    _run_available_now(
        spark, feed_dir, work_dir,
        schema="vec_id long, embedding array<float>",
        ingest=_fold,
        timeout_s=timeout_s,
        label="streaming kmeans",
    )
    return state_path


def drift_monitor_run(
    spark: SparkSession,
    feed_dir: str,
    work_dir: str,
    reference: DataFrame,
    *,
    value_col: str = "value",
    lo: float,
    hi: float,
    n_buckets: int = 10,
    threshold: float = 0.25,
    timeout_s: int = 240,
) -> str:
    """Continuous distribution-drift monitoring at ingest: every
    arriving micro-batch is PSI-scored against a FROZEN reference
    sample (population_stability_index - two 10-row bucket aggregates,
    nothing corpus-sized moves), and one (batch_id, psi, n_rows,
    tripped) row appends to a monitor log the pipeline can alert or
    gate on. The streaming twin of value_drift_psi: the batch query
    compares two static snapshots, this watches the feed as it lands -
    the shape a training-data intake uses to catch a upstream
    distribution break BEFORE a bad day of data is mixed in.

    The reference's bucket shares are computed ONCE up front and
    carried as plain Python floats (the reference scan runs exactly
    one aggregate, before the stream starts - r8 advice closed the
    gap where it re-aggregated per batch); the per-batch cost is ONE
    bucket aggregate over the batch, with the 10-term PSI sum folded
    driver-side against the frozen shares. Idempotent under
    redelivery: a batch_id already present in the log is skipped
    (read-before-append on the tiny log, the gated-sink discipline).
    Returns the log path."""
    import math

    log_path = os.path.join(work_dir, "drift_log")
    width = (hi - lo) / n_buckets
    eps = 1e-6
    bucket = F.least(
        F.greatest(
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)),
            F.lit(0),
        ),
        F.lit(n_buckets - 1),
    ).cast("int")
    ref_counts = {
        r["bucket"]: r["n"]
        for r in reference.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_ref = sum(ref_counts.values())
    ref_shares = [
        ref_counts.get(b, 0) / n_ref + eps for b in range(n_buckets)
    ]

    def _score(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        sess = batch.sparkSession
        try:
            seen = {
                r["batch_id"]
                for r in sess.read.parquet(log_path)
                .select("batch_id")
                .collect()
            }
        except Exception:
            seen = set()
        if batch_id in seen:
            return
        cur_counts = {
            r["bucket"]: r["n"]
            for r in batch.select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_cur = sum(cur_counts.values())
        psi = sum(
            (p - q) * math.log(p / q)
            for b in range(n_buckets)
            for p, q in [
                (ref_shares[b], cur_counts.get(b, 0) / n_cur + eps)
            ]
        )
        sess.createDataFrame(
            [
                (
                    int(batch_id),
                    round(psi, 6),
                    int(n_cur),
                    psi > threshold,
                )
            ],
            "batch_id long, psi double, n_rows long, tripped boolean",
        ).coalesce(1).write.mode("append").parquet(log_path)

    _run_available_now(
        spark, feed_dir, work_dir,
        schema=EVENTS_SCHEMA,
        ingest=_score,
        timeout_s=timeout_s,
        label="drift monitor",
    )
    return log_path


def line_dedup_ingest_run(
    spark: SparkSession,
    feed_dir: str,
    work_dir: str,
    *,
    timeout_s: int = 240,
) -> str:
    """Continuous corpus ingestion with ONLINE corpus-wide line-level
    dedup (the CCNet-style first-pass clean run AT THE DOOR): each
    arriving micro-batch of documents is cleaned with
    dedup_lines_delta against the stored line index of every
    previously kept batch - keep-first within the batch, drop-always
    against history - and the cleaned docs plus the batch's NEW line
    hashes commit to their own batch=<id> subdirectories. Because
    cleaned text retains exactly the first occurrence of every line,
    the index delta is simply build_line_index over the batch's own
    cleaned output - disjoint from all earlier index rows by
    construction, so the index never needs dedup itself.

    Exactly-once via the neardup_ingest_run layout discipline: each
    batch overwrites its OWN subdirectory and reads only index
    subdirectories of strictly earlier batches, so an at-least-once
    foreachBatch replay recomputes against the same snapshot and
    rewrites instead of double-appending. With the feed staged in doc
    id order, the stream fold equals batch dedup_lines over the full
    corpus (pytest-pinned). Returns the kept-docs path."""
    from ..operators.dedup import build_line_index, dedup_lines_delta

    kept_dir = os.path.join(work_dir, "kept")
    index_dir = os.path.join(work_dir, "index_lines")

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        sess = batch.sparkSession
        paths = _earlier_batch_dirs(index_dir, batch_id)
        index = (
            sess.read.parquet(*paths)
            if paths
            else sess.createDataFrame([], "line_h long")
        )
        cleaned = dedup_lines_delta(batch, index).localCheckpoint(
            eager=True
        )
        _write_batch(cleaned, kept_dir, batch_id)
        _write_batch(
            build_line_index(cleaned, persist=False), index_dir, batch_id
        )

    _run_available_now(
        spark, feed_dir, work_dir,
        schema="doc_id long, text string",
        ingest=_ingest,
        timeout_s=timeout_s,
        label="line dedup ingest",
    )
    return kept_dir


def quality_filter_ingest_run(
    spark: SparkSession,
    feed_dir: str,
    work_dir: str,
    weights: "list[float]",
    bias: float,
    *,
    dim: int = 64,
    threshold: float = 0.5,
    timeout_s: int = 240,
) -> "tuple[str, str]":
    """Continuous corpus ingestion with classifier-based quality
    filtering AT THE DOOR: each arriving micro-batch of documents is
    featurized (hashing trick) and scored by the FROZEN logistic model
    (weights broadcast as literals - the logreg_score serving path,
    zero shuffle beyond the feature aggregate); rows at or above the
    threshold land in kept/, the rest in quarantine/ WITH their score
    - including UNSCORABLE rows (null/empty text produces no feature
    row; they quarantine with a null score) - so rejected data stays
    auditable rather than silently vanishing (the RTBF/idempotent-sink
    transparency discipline).

    Exactly-once via the batch=<id> subdirectory layout
    (neardup_ingest_run): each batch overwrites its own partition on
    at-least-once replay. The model is fixed for the run - retraining
    happens offline on a sample (logreg_train) and a NEW run serves
    the new weights; scoring depends only on the row itself, so the
    stream fold trivially equals the batch split (pytest-pinned).
    Returns (kept_dir, quarantine_dir)."""
    from ..operators.textstats import hashing_trick_embed, logreg_score

    kept_dir = os.path.join(work_dir, "kept")
    quar_dir = os.path.join(work_dir, "quarantine")

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        feats = hashing_trick_embed(batch, dim=dim)
        # LEFT join from the batch side: a row the featurizer cannot
        # score (null/empty text yields no feature row) must still
        # land SOMEWHERE - an inner join here silently erased it from
        # both sinks, violating the auditability contract. Unscorable
        # rows go to quarantine with a null score.
        scored = (
            batch.join(
                logreg_score(feats, weights, bias), "doc_id", "left"
            )
            .select("doc_id", "text", "score")
            .localCheckpoint(eager=True)
        )
        _write_batch(
            scored.where(F.col("score") >= threshold), kept_dir, batch_id
        )
        _write_batch(
            scored.where(
                F.col("score").isNull() | (F.col("score") < threshold)
            ),
            quar_dir,
            batch_id,
        )

    _run_available_now(
        spark, feed_dir, work_dir,
        schema="doc_id long, text string",
        ingest=_ingest,
        timeout_s=timeout_s,
        label="quality filter ingest",
    )
    return kept_dir, quar_dir


def sample_maintain_run(
    spark: SparkSession,
    feed_dir: str,
    work_dir: str,
    *,
    k: int = 50,
    timeout_s: int = 240,
) -> str:
    """Streaming maintenance of the deterministic bottom-k sample (the
    incremental story bottomk_sample's docstring promises, running):
    each arriving micro-batch contributes only its OWN bottom-k
    candidates (h60-keyed, the batch query's exact key family) to a
    batch=<id> subdirectory, and the current corpus sample is the
    bottom-k over the union of candidate sets - correct because
    bottom-k is a mergeable aggregate (bottom-k of a union == bottom-k
    of per-shard bottom-k's, pinned in tests/test_skew.py), so no
    arrival ever forces a resample and serving reads n_batches x k
    tiny rows, never the corpus.

    Exactly-once via the line_dedup_ingest_run layout discipline: a
    replayed batch overwrites its own subdirectory with identical
    content (the key is md5-deterministic), so at-least-once delivery
    cannot change the sample. Returns the candidates dir; read the
    live sample with read_current_sample."""
    from ..operators.dedup import h60

    cand_dir = os.path.join(work_dir, "sample_candidates")

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        top = (
            batch.select(
                "doc_id",
                "source",
                "lang",
                h60(F.col("doc_id").cast("string")).alias("sample_key"),
            )
            .orderBy("sample_key", "doc_id")
            .limit(k)
        )
        _write_batch(top, cand_dir, batch_id)

    _run_available_now(
        spark, feed_dir, work_dir,
        schema="doc_id long, source string, lang string",
        ingest=_ingest,
        timeout_s=timeout_s,
        label="sample maintenance",
    )
    return cand_dir


def read_current_sample(
    spark: SparkSession, work_dir: str, *, k: int = 50
) -> DataFrame:
    """The live bottom-k sample: merge the per-batch candidate sets
    (n_batches x k rows - nothing corpus-sized) and re-take bottom-k.
    A quiet feed (no candidate batch written yet) yields an EMPTY
    sample, not PATH_NOT_FOUND - a poller must survive an idle
    stream."""
    schema = (
        "doc_id long, source string, lang string, sample_key long"
    )
    cand_dir = os.path.join(work_dir, "sample_candidates")
    if not os.path.isdir(cand_dir):
        return spark.createDataFrame([], schema)
    cand = spark.read.parquet(cand_dir)
    return cand.select(
        "doc_id", "source", "lang", "sample_key"
    ).orderBy("sample_key", "doc_id").limit(k)


def web_funnel_ingest_run(
    spark: SparkSession,
    feed_dir: str,
    work_dir: str,
    *,
    blocked_sources: tuple = ("src2", "src3"),
    threshold: float = 0.5,
    quantile_mode: str = "exact",
    n_hist_buckets: int = 100,
    timeout_s: int = 240,
) -> str:
    """The web curation funnel (web_pipeline_funnel's stages) as ONE
    continuous ingest pipeline (VERDICT r9 #4): each arriving
    micro-batch of documents flows blocklist -> adaptive per-source
    quality cutoff -> online near-dup keep, and the per-batch funnel
    report (stage_idx, stage, n_docs) appends to a monitor log - the
    live dashboard feed of the batch query's one-shot report.

    Stage semantics, streaming-adapted:
      1 domain_blocklist  row-local predicate (identical to batch).
      2 quality_cutoff    PREFIX-adaptive: the p25-per-source bar is
        computed over every blocklist-surviving score seen SO FAR
        (strictly-earlier batches' persisted score rows + the current
        batch) - the honest online form of the batch query's
        corpus-wide bar; scores persist per batch so the cutoff is
        replay-deterministic. The default exact-percentile form
        re-reads the whole score history each batch (compactable via
        compact_batch_store, but still corpus-proportional I/O);
        quantile_mode='histogram' is the 100-TB form - the ledger
        holds per-(source, bucket) ADDITIVE counts (n_hist_buckets
        fixed buckets; p25 = the bucket where the cumulative count
        crosses a quarter of the total, resolution 1/n_hist_buckets),
        so per-batch state and I/O are bounded by
        n_sources x n_buckets whatever the corpus size
        (pytest-pinned against a histogram fold twin).
      3 neardup_keep      greedy first-arrival-wins MinHash ingest
        (the neardup_ingest_run machinery): drop within-batch dups
        (smaller doc_id wins), then anything near-dup'ing the stored
        index of earlier KEPT docs; survivors join corpus + index.

    Exactly-once via the batch=<id> subdirectory discipline: every
    sink (kept/, scores/, index_bands/, index_shingles/, funnel/)
    overwrites its own batch partition and reads only strictly
    earlier partitions, so an at-least-once foreachBatch replay
    recomputes the identical snapshot and rewrites instead of
    double-appending. tests/test_streaming_quality.py pins the
    stream's funnel rows AND kept set against a sequential batch
    fold of the same stages on the same feed. Returns the funnel
    monitor path."""
    from ..operators.dedup import (
        build_minhash_index,
        minhash_delta_pairs,
        minhash_neardup_pairs,
        shingle_array,
    )
    from ..operators.textstats import quality_score

    if quantile_mode not in ("exact", "histogram"):
        raise ValueError(
            f"quantile_mode must be 'exact' or 'histogram', "
            f"got {quantile_mode!r}"
        )
    # The two modes persist structurally different score ledgers; a
    # resume in the other mode would fail deep inside foreachBatch
    # with an opaque unresolved-column error (r10 review wave 4) -
    # pin the mode in the work_dir and fail loudly at startup instead.
    os.makedirs(work_dir, exist_ok=True)
    marker = os.path.join(work_dir, "quantile_mode.txt")
    if os.path.exists(marker):
        prior = open(marker).read().strip()
        if prior != quantile_mode:
            raise ValueError(
                f"work_dir {work_dir} was created with "
                f"quantile_mode={prior!r}; resuming with "
                f"{quantile_mode!r} would misread the score ledger - "
                "use a fresh work_dir to switch modes"
            )
    else:
        with open(marker, "w") as fh:
            fh.write(quantile_mode)
    kept_dir = os.path.join(work_dir, "kept")
    scores_dir = os.path.join(work_dir, "scores")
    bands_dir = os.path.join(work_dir, "index_bands")
    sh_dir = os.path.join(work_dir, "index_shingles")
    funnel_dir = os.path.join(work_dir, "funnel")

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        sess = batch.sparkSession
        b = batch.localCheckpoint(eager=True)
        n0 = b.count()
        # stage 1: blocklist predicate (row-local)
        d1 = b.where(
            ~F.col("source").isin(*blocked_sources)
        ).localCheckpoint(eager=True)
        n1 = d1.count()
        # stage 2: prefix-adaptive per-source p25 cutoff
        sc = d1.select(
            "doc_id",
            "source",
            "text",
            F.round(quality_score(F.col("text")), 6).alias("score"),
        ).localCheckpoint(eager=True)
        score_paths = _earlier_batch_dirs(scores_dir, batch_id)
        if quantile_mode == "exact":
            seen = sc.select("source", "score")
            if score_paths:
                seen = seen.unionByName(
                    sess.read.parquet(*score_paths).select(
                        "source", "score"
                    )
                )
            cut = seen.groupBy("source").agg(
                F.round(
                    F.percentile(F.col("score"), F.lit(0.25)), 6
                ).alias("cutoff")
            )
        else:
            # bounded-state form (the docstring's SCALE SEAM, made
            # real): the ledger holds per-(source, bucket) COUNTS -
            # additive across batches, n_sources x n_buckets rows per
            # batch regardless of corpus size - and the p25 bar is the
            # lower edge of the bucket where the cumulative count
            # crosses a quarter of the total. Cutoff resolution =
            # 1/n_hist_buckets of the score range; semantics
            # deterministic and replay-identical like the exact form.
            bucket = F.least(
                F.floor(F.col("score") * n_hist_buckets),
                F.lit(n_hist_buckets - 1),
            ).cast("int")
            cur = (
                sc.select("source", bucket.alias("bucket"))
                .groupBy("source", "bucket")
                .agg(F.count(F.lit(1)).cast("long").alias("n"))
            )
            hist = cur
            if score_paths:
                hist = hist.unionByName(
                    sess.read.parquet(*score_paths).select(
                        "source", "bucket", "n"
                    )
                )
            rows = (
                hist.groupBy("source", "bucket")
                .agg(F.sum("n").alias("n"))
                .collect()  # bounded: n_sources x n_buckets scalars
            )
            per_src: dict = {}
            for r in rows:
                per_src.setdefault(r["source"], {})[r["bucket"]] = r["n"]
            cut_rows = []
            for src, bks in sorted(per_src.items()):
                total = sum(bks.values())
                running = 0
                cutoff = 0.0
                for b in sorted(bks):
                    running += bks[b]
                    if running >= 0.25 * total:
                        cutoff = b / n_hist_buckets
                        break
                cut_rows.append((src, float(cutoff)))
            cut = sess.createDataFrame(
                cut_rows, "source string, cutoff double"
            )
        d2 = (
            sc.join(F.broadcast(cut), "source")
            .where(F.col("score") >= F.col("cutoff"))
            .select("doc_id", "source", "text")
            .localCheckpoint(eager=True)
        )
        n2 = d2.count()
        # stage 3: greedy online near-dup (first arrival wins). ONE
        # interpreted shingle build serves all consumers (within-batch
        # signature + verify, delta signature + verify, index build) -
        # the shingle_sets discipline neardup_ingest_run applies
        # (VERDICT r04 #7; r10 review caught this loop missing it).
        sets = d2.select(
            F.col("doc_id"),
            shingle_array(F.col("text"), n=3, hashed=True).alias("sh"),
        ).localCheckpoint(eager=True)
        self_pairs = minhash_neardup_pairs(
            d2, threshold=threshold, shingle_sets=sets
        )
        survivors = d2.join(
            self_pairs.select(F.col("id_b").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        )
        band_paths = _earlier_batch_dirs(bands_dir, batch_id)
        if band_paths:
            index = {
                "bands": sess.read.parquet(*band_paths),
                "shingles": sess.read.parquet(
                    *_earlier_batch_dirs(sh_dir, batch_id)
                ),
            }
            surv_sets = sets.join(
                survivors.select("doc_id"), "doc_id", "left_semi"
            )
            hits = (
                minhash_delta_pairs(
                    survivors, index, threshold=threshold,
                    shingle_sets=surv_sets,
                )
                .select(F.col("delta_id").alias("doc_id"))
                .distinct()
            )
            survivors = survivors.join(hits, "doc_id", "left_anti")
        survivors = survivors.localCheckpoint(eager=True)
        n3 = survivors.count()
        # commits: own batch partitions only (replay overwrites). The
        # scores sink persists ONLY what the cutoff consumer reads
        # (r10 review: writing the full text column duplicated the
        # surviving corpus as pure write amplification); histogram
        # mode persists the additive bucket counts - no per-doc row
        # at all, the ledger stays n_sources x n_buckets per batch.
        if quantile_mode == "exact":
            _write_batch(
                sc.select("doc_id", "source", "score"),
                scores_dir,
                batch_id,
            )
        else:
            _write_batch(cur, scores_dir, batch_id, single_file=True)
        _write_batch(survivors, kept_dir, batch_id)
        kept_sets = sets.join(
            survivors.select("doc_id"), "doc_id", "left_semi"
        )
        add = build_minhash_index(
            survivors, persist=False, shingle_sets=kept_sets
        )
        _write_batch(add["bands"], bands_dir, batch_id)
        _write_batch(add["shingles"], sh_dir, batch_id)
        _write_batch(
            sess.createDataFrame(
                [
                    (int(batch_id), 0, "ingest", n0),
                    (int(batch_id), 1, "domain_blocklist", n1),
                    (int(batch_id), 2, "quality_cutoff", n2),
                    (int(batch_id), 3, "neardup_keep", n3),
                ],
                "batch_id long, stage_idx int, stage string, n_docs long",
            ),
            funnel_dir,
            batch_id,
            single_file=True,
        )

    _run_available_now(
        spark, feed_dir, work_dir,
        schema="doc_id long, source string, text string",
        ingest=_ingest,
        timeout_s=timeout_s,
        label="web funnel ingest",
    )
    return funnel_dir


def pca_stats_run(
    spark: SparkSession,
    feed_dir: str,
    work_dir: str,
    *,
    timeout_s: int = 240,
) -> str:
    """Streaming maintenance of PCA sufficient statistics: each
    arriving micro-batch of embeddings contributes its (count, sum,
    Gram) rows (operators/similarity.pca_sufficient_stats - the SAME
    definition pca_fit sums) to a batch=<id> subdirectory, and the
    live spectrum is served by summing ALL persisted rows
    (read_current_spectrum). Exact, not approximate: the statistics
    are algebraically additive, so the stream-maintained spectrum
    equals batch pca_fit over the union corpus to fp-summation noise
    (pytest-pinned at 1e-9) - no re-scan of history ever happens, the
    per-arrival cost is one Arrow pass over the batch, and the stats
    store grows by a handful of (1 + dim + dim^2)-double rows per
    batch regardless of corpus size.

    This is the monitoring companion to embedding_drift_report: a
    drifting encoder shows up as a moving spectrum/trace without
    re-reading a byte of history. Exactly-once via the batch=<id>
    overwrite layout (gated on the stream checkpoint, like every
    ingest loop in this module). Returns the stats directory."""
    from ..operators.similarity import pca_sufficient_stats

    stats_dir = os.path.join(work_dir, "stats")

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        _write_batch(
            pca_sufficient_stats(batch), stats_dir, batch_id,
            single_file=True,
        )

    _run_available_now(
        spark, feed_dir, work_dir,
        schema="vec_id long, embedding array<double>, label int",
        ingest=_ingest,
        timeout_s=timeout_s,
        label="pca stats ingest",
    )
    return stats_dir


def read_current_spectrum(
    spark: SparkSession, work_dir: str, *, k: int = 8
) -> "tuple[list, float]":
    """The live PCA spectrum from the stream-maintained statistics:
    sum the persisted rows (n_batches x partitions rows of
    1 + dim + dim^2 doubles - nothing corpus-sized) and
    eigendecompose once on the driver. Returns (top-k eigenvalues
    desc, trace of covariance); raises on an empty store (a spectrum
    of nothing is a caller bug, not a zero)."""
    from ..operators.similarity import pca_spectrum_from_stats

    stats_dir = os.path.join(work_dir, "stats")
    if not os.path.isdir(stats_dir):
        raise ValueError(
            f"read_current_spectrum: no statistics at {stats_dir}"
        )
    rows = spark.read.parquet(stats_dir).collect()
    return pca_spectrum_from_stats(rows, k=k)


def ivfpq_index_ingest_run(
    spark: SparkSession,
    feed_dir: str,
    work_dir: str,
    centroids: list,
    codebook,
    *,
    m: int,
    auto_retrain: bool = False,
    skew_threshold: float = 2.0,
    timeout_s: int = 240,
) -> "tuple[str, str]":
    """Continuous maintenance of the persisted IVFPQ index: each
    arriving micro-batch of embeddings routes to its coarse cells
    under the FROZEN quantizers and appends via append_ivfpq_index
    (O(batch) assign+encode + a touched-cells-only pruned replay
    guard - an at-least-once redelivery appends 0), and every batch
    logs a monitor row (batch_id, n_appended, cell skew, retrain
    tripwire) to monitor/batch=<id> - the live feed of the
    ivfpq_index_cell_stats retrain loop, watched next to
    embedding_drift_report / pca_stats_run (all three answer "has the
    vector space outgrown its frozen quantizers?" from different
    angles).

    The final at-rest index equals a from-scratch write_ivfpq_index
    over the union corpus, so ivfpq_topk_from_index serves it with
    values identical to the in-memory search - both pinned in
    tests/test_pq.py.

    auto_retrain=True closes the loop the monitor row points at (r11,
    completing VERDICT r10 #4 beyond the operator): after the stream
    drains, the LIVE cell stats (not a stored row - self-correcting
    under replay) decide whether to retrain_ivfpq_index, and a
    summary row lands in work_dir/retrain_log. The quantizer at rest
    is part of the index's contract and travels INSIDE it
    (<index>/_quantizer, embedded by write_ivfpq_index and therefore
    swapped atomically WITH the re-encoded data - a crash can never
    pair a retrained index with a stale quantizer; r11 review wave
    3): every run resolves its effective centroids from the index's
    own quantizer when present (the `centroids` argument covers only
    a not-yet-retrained index bootstrapped by append_ivfpq_index,
    which embeds no quantizer), so post-retrain appends route under
    the quantizer the index is actually encoded with, and a serving
    reader loads the pair via read_quantizer(<index>/_quantizer).

    Returns (index_dir, monitor_dir)."""
    from ..operators.similarity import (
        append_ivfpq_index,
        ivfpq_index_cell_stats,
        read_quantizer,
        retrain_ivfpq_index,
    )

    index_dir = os.path.join(work_dir, "index")
    monitor_dir = os.path.join(work_dir, "monitor")
    quantizer_dir = os.path.join(index_dir, "_quantizer")
    if os.path.exists(os.path.join(quantizer_dir, "_SUCCESS")):
        cents = read_quantizer(spark, quantizer_dir)
    else:
        cents = centroids

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        sess = batch.sparkSession
        n = append_ivfpq_index(
            sess, index_dir, batch, cents, codebook, m=m
        )
        st = ivfpq_index_cell_stats(
            sess, index_dir, skew_threshold=skew_threshold
        )
        stats_row = sess.createDataFrame(
            [
                (
                    int(batch_id),
                    int(n),
                    int(st["max"]),
                    float(st["mean"]),
                    float(st["skew"]),
                    bool(st["retrain"]),
                )
            ],
            "batch_id long, n_appended long, max_cell long, "
            "mean_cell double, skew double, retrain boolean",
        )
        _write_batch(stats_row, monitor_dir, batch_id, single_file=True)

    _run_available_now(
        spark, feed_dir, work_dir,
        schema="vec_id long, embedding array<double>, label int",
        ingest=_ingest,
        timeout_s=timeout_s,
        label="ivfpq index ingest",
    )
    if auto_retrain and os.path.isdir(index_dir):
        st = ivfpq_index_cell_stats(
            spark, index_dir, skew_threshold=skew_threshold
        )
        if st["retrain"]:
            # the retrain's write_ivfpq_index embeds the new quantizer
            # in the staging dir, so the atomic swap updates the pair
            new_cents, after = retrain_ivfpq_index(
                spark, index_dir, codebook, m=m,
                n_cells=len(cents),
            )
            spark.createDataFrame(
                [
                    (
                        float(st["skew"]),
                        float(after["skew"]),
                        int(sum(after["cell_sizes"].values())),
                    )
                ],
                "skew_before double, skew_after double, n_rows long",
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(work_dir, "retrain_log")
            )
    return index_dir, monitor_dir


def _monitor_touch_closure(
    adjusted: DataFrame,
    touched: "list[str]",
    *,
    reach: int = 14,
) -> "list[str]":
    """Expand a batch's directly-touched session set to every session
    whose monitor/limits row DEPENDS on a touched one (r11 advice:
    the out-of-order-delivery fix). vwap and flow imbalance are
    session-LOCAL, but three monitor surfaces are cross-session: a
    session's True Range AND its first-bar log return both use the
    PREVIOUS session's close (so admitting a bar in session Y changes
    TR and realized vol of Y+1), ATR(14)'s trailing window then
    spreads the changed TR(Y)/TR(Y+1) over the next 13 rows (changed
    ATR set = Y..Y+14, hence reach = 1 prev-close edge + 13 window
    rows), and the limits feed's prev_close lag spans the SAME
    contract's previous session. The gate ADMITS a late-flushed bar
    for an earlier session Y via its keyed anti-join - so the batch
    admitting it must also rewrite the next `reach` sessions and the
    next session of each of Y's contracts; otherwise those rows stay
    permanently stale vs the batch fold. Both lookups run on
    dimension-sized summaries (one row per session / per
    session-contract pair), the same grain the loop already collects
    for `touched` itself."""
    order = [
        r["session_id"]
        for r in adjusted.groupBy("session_id")
        .agg(F.min("bar_ts").alias("_start"))
        .orderBy("_start")
        .collect()
    ]
    idx = {s: i for i, s in enumerate(order)}
    out = set(touched)
    for s in touched:
        i = idx.get(s)
        if i is not None:
            out.update(order[i + 1 : i + 1 + reach])
    tset = set(touched)
    by_contract: "dict[str, list[str]]" = {}
    for r in (
        adjusted.where(F.col("contract_year_month") != "")
        .select("session_id", "contract_year_month")
        .distinct()
        .collect()
    ):
        by_contract.setdefault(r["contract_year_month"], []).append(
            r["session_id"]
        )
    for sessions in by_contract.values():
        sessions.sort(key=lambda s: idx.get(s, -1))
        for j in range(len(sessions) - 1):
            if sessions[j] in tset:
                out.add(sessions[j + 1])
    return sorted(out)


def _monitor_frames(
    adjusted: DataFrame, touched: "list[str]"
) -> "tuple[DataFrame, DataFrame]":
    """(monitor rows, limits rows) for the given touched CLOSURE over
    a full adjusted sink snapshot - the per-batch computation of
    realized_vol_ingest_run, module-level so the out-of-order pytest
    can drive the exact production frames directly. `touched` must
    already be `_monitor_touch_closure` output (the caller owns the
    expansion so the test can pin both the fixed and the broken
    touched sets)."""
    from ..operators.returns import (
        continuous_log_returns,
        order_flow_imbalance,
        price_limit_report,
        session_atr,
        session_realized_vol,
        session_vwap,
    )

    # risk (realized vol) + execution (vwap/volume/notional) in one
    # row per touched session - the SAME operators the batch queries
    # compose (operators/returns, one definition each). vwap is the
    # LEFT side: a touched session that holds a single bar has no
    # return yet but a perfectly computable vwap (r11 review wave 3:
    # the inner join silently dropped its row).
    vol = session_realized_vol(continuous_log_returns(adjusted))
    # range risk (True Range / ATR(14)) rides the same monitor row:
    # the trailing window needs PRIOR sessions' TRs, so ATR computes
    # over the full (dimension-sized) session summary and filters to
    # touched after. Final-row correctness: a bar always TOUCHES its
    # session, and _monitor_touch_closure extends the rewrite to every
    # session whose ATR window or limits lag can SEE it - so once no
    # further batch's closure includes a session, its row is final and
    # equals the batch fold even under out-of-order admission
    # (pytest-pinned, tests/test_streaming_vol.py).
    atr = session_atr(adjusted, n=14).select(
        "session_id", "true_range", "atr_14"
    )
    touched_bars = adjusted.where(F.col("session_id").isin(touched))
    vwap = session_vwap(touched_bars)
    # trade-side pressure rides the same row: order-flow imbalance is
    # session-LOCAL (tick signs never cross a session), so filtering
    # to touched before the fold is value-identical to folding
    # everything and filtering after - unlike ATR, whose trailing
    # window needs prior sessions.
    flow = order_flow_imbalance(touched_bars).select(
        "session_id", "buy_volume", "sell_volume",
        "neutral_volume", "flow_imbalance",
    )
    row = (
        vwap.join(vol, "session_id", "left")
        .join(atr, "session_id", "left")
        .join(flow, "session_id", "left")
    )
    # exchange-rule feed: live limit-touch rows for the touched
    # sessions, off the SAME shared operator as the batch query
    # (price_limit_days). The lag spans the SAME contract's prior
    # session; the closure includes that next session, so the last
    # batch whose closure covers a (session, contract) writes its
    # final row.
    limits = price_limit_report(adjusted).where(
        F.col("session_id").isin(touched)
    )
    return row, limits


def realized_vol_ingest_run(
    spark: SparkSession,
    feed_dir: str,
    work_dir: str,
    config: DataFrame,
    *,
    width: str = "5 minutes",
    delay: str = "10 minutes",
    timeout_s: int = 240,
) -> "tuple[str, str]":
    """Streaming twin of the session_realized_vol + session_vwap +
    session_atr + order_flow_imbalance surfaces (VERDICT r10 #7): the
    bar-ingest loop (available_now_bar_stream's watermarked OHLCV +
    Gate-2 idempotent bar sink) extended with a per-batch session
    monitor - realized vol (return risk), True Range/ATR(14) (range
    risk), vwap/volume (execution benchmark), AND tick-rule flow
    imbalance (trade-side pressure) per touched session - so a desk
    watches the continuous adjusted series update as sessions close,
    instead of waiting for the nightly batch.

    Each micro-batch of CLOSED bars (the event-time watermark upstream
    is ST2: an open bar never exits streaming_ohlcv):
      1. appends to bars/ via gated_idempotent_sink (replay appends 0);
      2. labels the batch's bars to find the sessions it TOUCHED;
      3. recomputes session_realized_vol over the sunk bar series
         (label -> back-adjust against the static config dimension ->
         UNKNOWN filter -> operators/returns.continuous_log_returns,
         the SAME functions the batch query composes) restricted to
         the touched sessions, and overwrites monitor/batch=<id>.

    The touched set is expanded to its DOWNSTREAM CLOSURE before the
    rewrite (_monitor_touch_closure): ATR(14) and the limits feed are
    cross-session, so a late-admitted bar for session Y (the gate
    admits late-flushed older windows by design) also rewrites the
    next 14 sessions and the next session per Y-contract - without
    that, those rows would stay permanently stale under out-of-order
    delivery (r11 advice). A session's monitor row therefore updates
    with every batch whose closure includes it; the row written by
    the LAST such batch is its complete vol, equal to the batch fold
    over the same sunk bars (pytest-pinned, including a staged
    out-of-order admission). A parallel limits/batch=<id> feed
    carries live exchange price-limit rows (price_limit_report, the
    operator the batch query shares) for the same closure - the same
    argument pins its final rows. Exactly-once: the bar sink is
    watermark-gated and the monitor partition is overwritten per batch
    over a sink snapshot a replay reproduces, so redelivery rewrites
    identical bytes instead of double-appending.

    Cost posture: the recompute reads the whole bar sink per batch -
    bar grain is ~1/300th of tick grain and the returns decomposition
    is session-parallel, so this is the web_funnel exact-mode class of
    cost (compactable; the O(batch) form would persist per-session
    (sum_sq, count, max, boundary closes) partials and merge - the
    documented next step if bar history itself reaches fact scale).

    Returns (bars_dir, monitor_dir); the limits feed lands next to
    them in work_dir/limits."""
    from ..operators.adjust import backadjust
    from ..operators.sessions import split_and_label

    bars_dir = os.path.join(work_dir, "bars")
    monitor_dir = os.path.join(work_dir, "monitor")
    limits_dir = os.path.join(work_dir, "limits")
    gate = gated_idempotent_sink(bars_dir, ts_col="bar_ts")

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        sess = batch.sparkSession
        gate(batch, batch_id)
        touched = [
            r["session_id"]
            for r in split_and_label(batch, "bar_ts")
            .select("session_id")
            .distinct()
            .collect()
        ]
        if not touched:
            return
        stored = sess.read.parquet(bars_dir)
        # persist: the monitor row and the limits feed are TWO
        # actions over this frame - without it the second action
        # re-reads the whole sink and re-runs split/backadjust, so
        # per-batch latency would grow at double the sink-scan rate
        # (review finding); unpersisted in the finally below.
        adjusted = backadjust(
            split_and_label(stored, "bar_ts"),
            config,
            ts_col="bar_ts",
            end_inclusive=False,
        ).where(
            F.substring_index(F.col("session_id"), "_", -1) != "UNKNOWN"
        ).persist()
        try:
            closure = _monitor_touch_closure(adjusted, touched)
            row, limits = _monitor_frames(adjusted, closure)
            # orderBy before the single-file write: both feeds are
            # multi-row per batch, and the exactly-once "redelivery
            # rewrites identical bytes" claim must not rest on a hash
            # aggregate's iteration order staying stable across
            # replays under different memory pressure (review
            # finding) - pin the row order so byte-identity follows
            # from value-identity.
            _write_batch(
                row.withColumn("batch_id", F.lit(int(batch_id))),
                monitor_dir,
                batch_id,
                order_by=["session_id"],
            )
            _write_batch(
                limits.withColumn("batch_id", F.lit(int(batch_id))),
                limits_dir,
                batch_id,
                order_by=["session_id", "contract_year_month"],
            )
        finally:
            adjusted.unpersist()

    bars = streaming_ohlcv(
        stream_events(spark, feed_dir, max_files_per_trigger=1),
        width=width,
        delay=delay,
    )
    _run_available_now(
        spark, feed_dir, work_dir,
        stream=bars,
        ingest=_ingest,
        timeout_s=timeout_s,
        label="realized vol ingest",
    )
    return bars_dir, monitor_dir


def volume_clock_ingest_run(
    spark: SparkSession,
    feed_dir: str,
    work_dir: str,
    config: DataFrame,
    *,
    bucket_volume: int,
    width: str = "5 minutes",
    delay: str = "10 minutes",
    timeout_s: int = 240,
) -> "tuple[str, str]":
    """Live information-driven sampling: the volume clock as a feed
    riding the Gate-2 bar-ingest loop. A FIXED bucket_volume is what
    makes this streamable - under IN-ORDER window delivery the
    defining prefix sum only ever grows, so every completed bucket
    boundary is append-only (the batch form's derived threshold
    ceil(total/N) would move every boundary on every batch). The gate
    ADMITS late-flushed older windows by design (gated_idempotent_
    sink's keyed anti-join: a windowed aggregate can flush an older
    window in a later batch), and such a bar restates every
    downstream bucket - so the CONSUMABLE state is the LATEST batch
    dir, which every batch rewrites IN FULL over the sunk bars (the
    monitor's last-write-wins discipline); an earlier dir is a valid
    prefix only while delivery stayed in-order (review finding).
    Each micro-batch recomputes the clock over the sunk bars
    (bar-grain, not tick-grain; the documented next step at
    fact-scale history is carrying per-session volume partials) and
    writes the COMPLETED buckets - every bucket but the maximal one,
    which is still absorbing volume - to vbars/batch=<id>, ordered so
    redelivery rewrites identical bytes.
    The final batch's dir IS the batch operator's output minus its
    pending tail bucket (pytest-pinned). A feed that ends exactly on
    a bucket boundary leaves that last bucket pending forever - the
    streaming semantics of an unclosed window, by design.

    Returns (bars_dir, vbars_dir)."""
    from ..operators.adjust import backadjust
    from ..operators.resample import volume_clock_bars
    from ..operators.sessions import split_and_label

    bars_dir = os.path.join(work_dir, "bars")
    vbars_dir = os.path.join(work_dir, "vbars")
    gate = gated_idempotent_sink(bars_dir, ts_col="bar_ts")

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        sess = batch.sparkSession
        gate(batch, batch_id)
        stored = sess.read.parquet(bars_dir)
        adjusted = backadjust(
            split_and_label(stored, "bar_ts"),
            config,
            ts_col="bar_ts",
            end_inclusive=False,
        ).where(
            F.substring_index(F.col("session_id"), "_", -1)
            != "UNKNOWN"
        )
        vb = volume_clock_bars(
            adjusted, bucket_volume=int(bucket_volume)
        )
        pending = vb.agg(F.max("vbar_seq").alias("_pending"))
        completed = (
            vb.crossJoin(F.broadcast(pending))
            .where(F.col("vbar_seq") < F.col("_pending"))
            .drop("_pending")
            .withColumn("batch_id", F.lit(int(batch_id)))
        )
        completed.orderBy("vbar_seq").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(vbars_dir, f"batch={batch_id}"))

    bars = streaming_ohlcv(
        stream_events(spark, feed_dir, max_files_per_trigger=1),
        width=width,
        delay=delay,
    )
    _run_available_now(
        spark, feed_dir, work_dir,
        stream=bars,
        ingest=_ingest,
        timeout_s=timeout_s,
        label="volume clock ingest",
    )
    return bars_dir, vbars_dir


def config_revision_watch_run(
    spark: SparkSession,
    config_feed_dir: str,
    work_dir: str,
    sink_path: str,
    *,
    ts_col: str = "bar_ts",
    price_cols: "tuple[str, ...]" = ("open", "high", "low", "close"),
    end_inclusive: bool = True,
    timeout_s: int = 240,
) -> "tuple[str, str]":
    """Watch the settlement-config dimension and RESTATE sunk adjusted
    history when a revision lands - the automation arm of
    operators/adjust.restate_adjusted_history, closing the reference's
    config-fix blind spot end to end (the retrain-loop pattern applied
    to the J1/A7 lane: the monitor no longer just reports staleness,
    the loop heals it).

    Feed contract: each arriving file is a COMPLETE config snapshot
    (the reference reloads the whole sheet per run, main.py:174-187 -
    same shape). Per micro-batch:
      1. first-ever snapshot seeds work_dir/current (the sink is
         presumed adjusted under it - the caller built the sink with
         the config it had);
      2. later snapshots diff against current via
         restate_adjusted_history (snapshot_diff on DERIVED configs ->
         partition-pruned targeted rewrite; a no-op diff writes
         nothing);
      3. the applied snapshot replaces work_dir/current, and a monitor
         row (batch_id, config_changes, scanned/rewritten partitions,
         restated_rows) lands in monitor/batch=<id>.

    Exactly-once under redelivery BY CONVERGENCE rather than layout: a
    replayed snapshot diffs against the already-updated current as
    zero changes (or, if the crash hit between restate and the current
    swap, re-runs a restate whose every row already matches - the
    operator's idempotency pytest), so the sink and current end
    byte-identical either way. Returns (current_dir, monitor_dir)."""
    from ..operators.adjust import restate_adjusted_history

    current_dir = os.path.join(work_dir, "current")
    monitor_dir = os.path.join(work_dir, "monitor")

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        sess = batch.sparkSession
        snapshot = batch.localCheckpoint(eager=True)
        stats = {
            "restated_rows": 0,
            "rewritten_partitions": 0,
            "config_changes": 0,
            "scanned_partitions": 0,
        }
        seeded = not os.path.exists(
            os.path.join(current_dir, "_SUCCESS")
        )
        if not seeded:
            old = sess.read.parquet(current_dir)
            stats = restate_adjusted_history(
                sess, sink_path, old, snapshot,
                ts_col=ts_col, price_cols=price_cols,
                end_inclusive=end_inclusive,
            )
        snapshot.coalesce(1).write.mode("overwrite").parquet(
            current_dir
        )
        _write_batch(
            sess.createDataFrame(
                [
                    (
                        int(batch_id),
                        bool(seeded),
                        int(stats["config_changes"]),
                        int(stats["scanned_partitions"]),
                        int(stats["rewritten_partitions"]),
                        int(stats["restated_rows"]),
                    )
                ],
                "batch_id long, seeded boolean, config_changes long, "
                "scanned_partitions long, rewritten_partitions long, "
                "restated_rows long",
            ),
            monitor_dir,
            batch_id,
            single_file=True,
        )

    _run_available_now(
        spark, config_feed_dir, work_dir,
        schema=(
            "contract_year_month string, next_contract_diff double, "
            "start_k timestamp, settle_k timestamp"
        ),
        ingest=_ingest,
        timeout_s=timeout_s,
        label="config revision watch",
    )
    return current_dir, monitor_dir


def budgeted_ingest_run(
    spark: SparkSession,
    feed_dir: str,
    work_dir: str,
    budgets: "dict[str, int]",
    *,
    default_budget: int = 0,
    timeout_s: int = 240,
) -> str:
    """Per-source token-budget enforcement AT ingest: each source s
    may contribute at most budgets[s] whitespace tokens to the kept
    corpus (default_budget for unlisted sources; 0 = drop), and
    arrival order decides who gets the budget - the streaming
    enforcement arm of mixture_plan's rate table (the planner says
    how much of each source the mixture WANTS; this loop guarantees
    the sink never exceeds it however much the feed sends).

    Within a batch, docs are considered in doc_id order per source
    (deterministic under replay, where arrival order inside a batch
    is not) under PREFIX admission: doc i is kept iff the source's
    already-spent total plus the batch-prefix token sum through i
    fits the budget. The prefix sum is monotone, so the admitted set
    is always a clean doc_id-prefix of the batch - whole documents
    only, never partial (better-missing-than-wrong applied to quota)
    - and any gap the cutoff leaves is backfilled by LATER batches'
    prefixes, since the ledger records admitted tokens only.

    Exactly-once via the batch=<id> layout: kept/batch=<id> rewrites
    on replay, and the per-source running totals are re-derived from
    strictly-earlier ledger partitions (ledger/batch=<id> holds this
    batch's per-source admitted tokens), so a replayed batch admits
    the identical doc set. NULL-text rows (no token count) go to
    quarantine/batch=<id> rather than vanishing at the gate. Scale shape: the ledger is
    n_batches x n_sources tiny rows; the per-batch work is one
    source-keyed window cumsum over the batch plus a broadcast join
    of the totals - nothing corpus-sized moves. Returns the kept
    path; pytest pins stream == sequential batch fold and that no
    source ever exceeds its budget."""
    from pyspark.sql import Window

    from ..operators.textstats import token_count

    kept_dir = os.path.join(work_dir, "kept")
    ledger_dir = os.path.join(work_dir, "ledger")
    bspark_rows = [
        (s, int(b)) for s, b in sorted(budgets.items())
    ]

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        sess = batch.sparkSession
        bud = sess.createDataFrame(
            bspark_rows, "source string, budget long"
        )
        ledger_paths = _earlier_batch_dirs(ledger_dir, batch_id)
        if ledger_paths:
            spent = (
                sess.read.parquet(*ledger_paths)
                .groupBy("source")
                .agg(F.sum("admitted_tokens").alias("spent"))
            )
        else:
            spent = sess.createDataFrame([], "source string, spent long")
        w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, -1
        )
        sized = batch.select(
            "doc_id",
            "source",
            "text",
            token_count(F.col("text")).cast("long").alias("n_tokens"),
        ).localCheckpoint(eager=True)
        # NULL-text rows have no token count: the admission predicate
        # would evaluate NULL and drop them SILENTLY (r10 review wave
        # 3) - route them to an explicit quarantine partition instead
        # (the quality_filter_ingest_run discipline: rejects stay
        # auditable), and keep them out of every prefix sum.
        _write_batch(
            sized.where(F.col("n_tokens").isNull()).select(
                "doc_id", "source"
            ),
            os.path.join(work_dir, "quarantine"),
            batch_id,
        )
        sized = sized.where(F.col("n_tokens").isNotNull())
        staged = (
            sized.withColumn(
                "_before",
                F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast(
                    "long"
                ),
            )
            .join(F.broadcast(bud), "source", "left")
            .join(F.broadcast(spent), "source", "left")
            .withColumn(
                "_budget",
                F.coalesce("budget", F.lit(int(default_budget))),
            )
            .withColumn("_spent", F.coalesce("spent", F.lit(0)))
        )
        kept = staged.where(
            F.col("_spent") + F.col("_before") + F.col("n_tokens")
            <= F.col("_budget")
        ).select("doc_id", "source", "text", "n_tokens")
        kept = kept.localCheckpoint(eager=True)
        _write_batch(kept, kept_dir, batch_id)
        _write_batch(
            kept.groupBy("source").agg(
                F.sum("n_tokens").alias("admitted_tokens")
            ),
            ledger_dir,
            batch_id,
            single_file=True,
        )

    _run_available_now(
        spark, feed_dir, work_dir,
        schema="doc_id long, source string, text string",
        ingest=_ingest,
        timeout_s=timeout_s,
        label="budgeted ingest",
    )
    return kept_dir


def decontam_gate_ingest_run(
    spark: SparkSession,
    feed_dir: str,
    work_dir: str,
    eval_df: DataFrame,
    *,
    max_run: int = 8,
    timeout_s: int = 240,
) -> "tuple[str, str]":
    """Continuous corpus ingestion with EXACT-SUBSTRING
    decontamination at the door (the streaming twin of the
    exact_decontamination batch query): each arriving micro-batch of
    documents is measured against the FROZEN eval set via the merged
    suffix sort (operators/dedup.suffix_eval_overlap - per-batch cost
    is O(batch + eval) suffix mass, never batch x eval pairs); docs
    whose longest verbatim eval run stays under `max_run` tokens land
    in kept/, the rest in quarantine/ WITH the offending run length -
    rejected data stays auditable, the quality_filter_ingest_run
    transparency discipline. The contamination verdict depends only
    on the row itself against the fixed eval side, so the stream fold
    trivially equals the batch split (pytest-pinned), and exactly-once
    rides the commit-log batch=<id> overwrite layout.

    Returns (kept_dir, quarantine_dir); a per-batch admission ledger
    lands in work_dir/ledger.

    Per-batch cost is O(batch), not O(batch + eval) (r14 verdict #1):
    the FROZEN eval side is indexed ONCE per run
    (operators/dedup.build_eval_suffix_index - token hashes + suffix
    array, 16 bytes/token) and broadcast; each micro-batch probes it
    with one zero-shuffle mapInPandas
    (suffix_eval_maxrun_probe), value-identical to the merged suffix
    sort it replaces (pytest-pinned stream == batch fold). Eval sides
    above the broadcast gate (SPARK_GRAFT_EVAL_INDEX_MAX_TOKENS,
    default 4M tokens) fall back to the per-batch merged sort."""
    from ..operators.dedup import (
        build_eval_suffix_index,
        suffix_eval_maxrun_probe,
        suffix_eval_overlap,
    )

    kept_dir = os.path.join(work_dir, "kept")
    quar_dir = os.path.join(work_dir, "quarantine")
    ledger_dir = os.path.join(work_dir, "ledger")

    eval_idx = build_eval_suffix_index(eval_df)
    eval_bc = (
        spark.sparkContext.broadcast(eval_idx)
        if eval_idx is not None
        else None
    )

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        sess = batch.sparkSession
        batch = batch.localCheckpoint(eager=True)
        if eval_bc is not None:
            # lazy checkpoint: the kept write, quarantine write and
            # ledger count all read the SAME probe execution instead
            # of re-running it per action
            per_doc = suffix_eval_maxrun_probe(
                batch, eval_bc
            ).localCheckpoint(eager=False)
        else:
            lens = suffix_eval_overlap(batch, eval_df)
            per_doc = lens.groupBy("doc_id").agg(
                F.max("eval_len").cast("long").alias("max_eval_run")
            )
        # LEFT join from the batch side: a doc the overlap pass cannot
        # measure (null/empty text yields no suffix rows) must still
        # land somewhere - it KEEPS (no tokens = nothing quoted), with
        # a 0 run recorded
        staged = batch.join(per_doc, "doc_id", "left").withColumn(
            "max_eval_run",
            F.coalesce("max_eval_run", F.lit(0)).cast("long"),
        )
        kept = staged.where(F.col("max_eval_run") < max_run)
        quar = staged.where(F.col("max_eval_run") >= max_run)
        _write_batch(kept, kept_dir, batch_id)
        _write_batch(quar, quar_dir, batch_id)
        # ONE ledger aggregate instead of two count() jobs: per-doc
        # verdicts are checkpointed, so this re-reads no suffix work
        tot = staged.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("max_eval_run") >= max_run).cast("long")
            ).alias("q"),
        ).collect()[0]
        n_in, n_q = int(tot["n"]), int(tot["q"] or 0)
        _write_batch(
            sess.createDataFrame(
                [(int(batch_id), int(n_in), int(n_in - n_q), int(n_q))],
                "batch_id long, n_in long, n_kept long, n_quarantined long",
            ),
            ledger_dir,
            batch_id,
            single_file=True,
        )

    _run_available_now(
        spark, feed_dir, work_dir,
        schema="doc_id long, source string, text string",
        ingest=_ingest,
        timeout_s=timeout_s,
        label="decontamination gate ingest",
    )
    return kept_dir, quar_dir
