"""Sources and sinks (SURVEY.md section 2.1, S1-S5).

The reference's sources are a broker API fetch (main.py:234-256) and two
Google-Sheet scans (config main.py:174-176, watermark main.py:411-435);
its sink is an append to a sheet tab (main.py:478-510). Here the same
roles are played by parquet tables:

  S1  scan            -> parquet read (columnar, predicate pushdown), its
                         schema from one driver-side footer read instead
                         of Spark's inference job (read_parquet)
  S3  config scan     -> small dimension read; callers broadcast it
  S4  watermark read  -> max(ts) aggregate over the sink (a scan of the
                         ts column: v1 parquet pushes no aggregate down
                         to footer statistics; strictly more correct
                         than the reference's last-row read,
                         main.py:428-429)
  S5  append sink     -> mode("append").parquet with a watermark filter in
                         front for idempotency (Gate 2, main.py:548-558)
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_json_string

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# A top-level TIMESTAMP(NANOS) column in parquet-mr's schema text.
_NANOS_FIELD = re.compile(
    r"^  \w+ int64 (.+) \(TIMESTAMP\(NANOS,(?:true|false)\)\)(?: = \d+)?;$",
    re.M,
)


def _parquet_footer(spark: SparkSession, path: str):
    """(schema, nanos_cols) of the parquet data at `path` from ONE
    driver-side footer read, or None when the path holds no data file.

    Reads the footer of the first visible data file in name order (for
    a directory, descending into partition subdirectories) - the file
    Spark's own inference reads when mergeSchema is off - and converts
    it with Spark's footer converter under the session's SQL conf, so
    the schema equals spark.read.parquet(path).schema. Inference costs
    a Spark job per read; this costs a handful of gateway calls.
    nanos_cols lists the top-level TIMESTAMP(NANOS) columns, which
    Spark 4 refuses to read natively (PARQUET_TYPE_ILLEGAL); schema is
    None when there are any. Nothing is cached: a file rewritten in
    place is read afresh."""
    jvm = spark.sparkContext._jvm
    jss = spark._jsparkSession
    hconf = jss.sessionState().newHadoopConf()
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(hconf)
    found = fs.globStatus(hpath(path))
    while found:
        status = found[0]
        if not status.isDirectory():
            break
        # names Spark's file index skips: _SUCCESS, _temporary, .crc
        found = fs.globStatus(hpath(status.getPath(), "[!_.]*"))
    else:
        return None
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    meta = pq.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
            status, hconf
        ),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter
        .SKIP_ROW_GROUPS,
    )
    ns_cols = _NANOS_FIELD.findall(
        meta.getFileMetaData().getSchema().toString()
    )
    if ns_cols:
        return None, ns_cols
    schema = pq.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(status.getPath(), meta),
        pq.ParquetToSparkSchemaConverter(jss.sessionState().conf()),
    )
    return _parse_datatype_json_string(schema.json()), ns_cols


def _scan(spark: SparkSession, path: str, footer) -> DataFrame:
    """spark.read.parquet(path) with the footer's schema when there is
    one. Without it (no data file, so Spark raises its usual error; or
    nanos columns, which only the inference path's legacy
    nanos-as-long mode reads) Spark infers the schema itself."""
    if footer is None or footer[0] is None:
        return spark.read.parquet(path)
    return spark.read.schema(footer[0]).parquet(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet(path) without Spark's schema-inference job:
    the schema comes from one driver-side footer read
    (_parquet_footer). For parquet directories whose files all share
    one schema - what every engine sink and index writes; a read that
    needs mergeSchema goes through spark.read directly."""
    return _scan(spark, path, _parquet_footer(spark, path))


def timestamp_flavors(sf_dir: str) -> dict[str, str]:
    """Manifest of every timestamp column's parquet flavor across the
    testdata tables, e.g. {"events.ts": "us-naive"}. Cheap (footer reads
    only). Printed at bench/test startup as a drift tripwire: the driver
    regenerated /root/testdata between rounds 2 and 3 with a different
    flavor (ns -> us-naive) and the change was invisible until six
    queries crashed; with this manifest in the output it is a diff line.
    """
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    out: dict[str, str] = {}
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        for f in pq.read_schema(p):
            if pt.is_timestamp(f.type):
                tz = "utc" if f.type.tz else "naive"
                out[f"{t}.{f.name}"] = f"{f.type.unit}-{tz}"
    return out


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP.

    Parquet written without isAdjustedToUTC (pandas/pyarrow's default for
    naive datetimes - the most common parquet timestamp flavor) surfaces
    in Spark 4 as TIMESTAMP_NTZ, which functions like unix_micros reject
    at analysis time. With the session timezone pinned to UTC
    (session.get_spark) the cast is value-preserving: wall-clock fields
    are reinterpreted as the same UTC instant DuckDB reads, so oracle
    parity stays bit-exact. The cast is a no-op for columns already read
    as TIMESTAMP.
    """
    from pyspark.sql.types import TimestampNTZType

    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1/S3: scan one testdata table. Plain parquet read so Catalyst can
    push filters and prune columns into the scan.

    Event-time normalization (one choke point for every parquet flavor a
    user can hand the engine - pinned by tests/test_sources_timestamps):
      - TIMESTAMP(NANOS): Spark 4 refuses to read natively
        (PARQUET_TYPE_ILLEGAL); read via the legacy nanos-as-long path
        and truncate to micros - the same truncation DuckDB applies.
      - TIMESTAMP(MICROS) naive (isAdjustedToUTC=false): arrives as
        TIMESTAMP_NTZ; cast to TIMESTAMP (value-preserving under the
        UTC-pinned session - see _normalize_timestamps).
      - TIMESTAMP(MICROS) UTC-adjusted: already TIMESTAMP, untouched.
    Downstream operators can therefore assume event-time is TIMESTAMP.
    This shim only costs the pushdown of predicates on a converted
    column; native-micros tables keep full pushdown.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    footer = _parquet_footer(spark, path)
    ns_cols = footer[1] if footer else []
    if not ns_cols:
        return _normalize_timestamps(_scan(spark, path, footer))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return _normalize_timestamps(df)


def read_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n) for n in (names or TABLES)}


SETTLE_CONFIG_COLUMNS = (
    "contract_year_month",
    "next_contract_diff",
    "accumulated_contract_diff",
    "start_k",
    "settle_k",
)


def read_settle_config(
    spark: SparkSession, path: str, *, strict: bool = False
) -> DataFrame:
    """S3 faithful: external settlement-config ingestion.

    Mirrors the reference's sheet load (_load_config, main.py:174-187;
    schema settle_config_template.csv:1): every cell arrives as a raw
    string, the two diff columns get a null-on-fail numeric cast (P4,
    pd.to_numeric errors='coerce' == Spark try_cast - plain cast THROWS
    under Spark 4's default ANSI mode), the two boundary columns a
    null-on-fail timestamp cast (P5, try_to_timestamp), and rows with a
    missing contract_year_month key are dropped (F1, main.py:187).

    strict=True additionally fails fast when any KEPT row has a
    null diff/boundary after coercion - the reference would instead
    crash later at int(cfg[...]) on the NaN (main.py:309, SURVEY.md
    "faithfulness notes"); validating up-front is the conscious fix.

    Accepts .csv (header row, the template format) or .parquet.
    """
    if path.endswith(".parquet"):
        raw = spark.read.parquet(path).select(
            *[F.col(c).cast("string") for c in SETTLE_CONFIG_COLUMNS]
        )
    else:
        raw = spark.read.csv(path, header=True).select(*SETTLE_CONFIG_COLUMNS)
    typed = raw.select(
        F.col("contract_year_month"),
        F.col("next_contract_diff").try_cast("double").alias(
            "next_contract_diff"
        ),
        F.col("accumulated_contract_diff").try_cast("double").alias(
            "accumulated_contract_diff"
        ),
        F.try_to_timestamp(F.col("start_k")).alias("start_k"),
        F.try_to_timestamp(F.col("settle_k")).alias("settle_k"),
    )
    kept = typed.where(
        F.col("contract_year_month").isNotNull()
        & (F.col("contract_year_month") != "")
    )
    if strict:
        bad = kept.where(
            F.col("next_contract_diff").isNull()
            | F.col("accumulated_contract_diff").isNull()
            | F.col("start_k").isNull()
            | F.col("settle_k").isNull()
        ).count()
        if bad:
            raise ValueError(
                f"settle config at {path}: {bad} row(s) with unparseable "
                "diff/boundary values (the reference would crash on these "
                "at main.py:309; strict ingestion rejects them up-front)"
            )
        # Non-overlap invariant (SURVEY.md 1.3): backadjust relies on at
        # most one config row matching each bar; overlapping intervals
        # would silently DUPLICATE bars in the join output. One window
        # over the dimension-sized config checks it.
        from pyspark.sql import Window

        w = Window.orderBy("start_k")
        overlaps = (
            kept.withColumn("_prev_end", F.lag("settle_k").over(w))
            .where(
                F.col("_prev_end").isNotNull()
                & (F.col("start_k") <= F.col("_prev_end"))
            )
            .count()
        )
        if overlaps:
            raise ValueError(
                f"settle config at {path}: {overlaps} interval(s) overlap "
                "the previous contract window; the point-in-interval join "
                "requires non-overlapping [start_k, settle_k] ranges"
            )
    return kept


def sink_watermark(spark: SparkSession, sink_path: str, ts_col: str = "ts"):
    """S4: the sink's high-watermark, or None for an empty/missing sink.

    Reference: get_last_timestamp (main.py:411-435) re-reads the WHOLE
    sheet and takes the last row. Here: one max() aggregate, which scans
    the ts column of every sink file (the v1 parquet source pushes no
    aggregate down to footer statistics); only the schema comes from a
    footer.
    """
    try:
        df = read_parquet(spark, sink_path)
    except Exception:
        return None
    row = df.agg(F.max(ts_col).alias("wm")).collect()[0]
    return row["wm"]


def write_date_partitioned(
    df: DataFrame,
    path: str,
    *,
    ts_col: str = "ts",
    mode: str = "overwrite",
    sort_within: bool = True,
) -> None:
    """Write a fact table partitioned by calendar date of ts_col - the
    layout every 100-TB scan depends on: a date predicate then prunes
    whole directories before any IO (PartitionFilters in the scan), and
    the reference's 7-day-lookback fetch (S1, main.py:236-238) becomes
    pure partition pruning instead of a full scan.

    sort_within (default): rows are additionally sorted by ts WITHIN
    each write task (sortWithinPartitions - a per-task sort, no
    exchange), so every parquet row group covers a tight,
    non-overlapping time range and an intra-day time predicate prunes
    row groups off footer min/max stats instead of decoding the whole
    partition - the second pruning tier after directory pruning
    (pinned by tests/test_partitioning.py on forced-small row groups)."""
    out = df.withColumn("_date", F.to_date(F.col(ts_col)))
    if sort_within:
        out = out.sortWithinPartitions("_date", ts_col)
    out.write.mode(mode).partitionBy("_date").parquet(path)


def append_idempotent(
    df: DataFrame, sink_path: str, ts_col: str = "ts"
) -> int:
    """S5 + F5 (Gate 2): append only rows strictly newer than the sink's
    watermark; re-running is a no-op (main.py:548-558, README "Gate 2").

    Returns the number of rows appended. Batch analogue of the streaming
    checkpointed sink in streaming/incremental.py.
    """
    wm = sink_watermark(df.sparkSession, sink_path, ts_col)
    out = df if wm is None else df.where(F.col(ts_col) > F.lit(wm))
    # Cache across the count + write so the upstream pipeline executes
    # once per append, not twice. persist (not localCheckpoint): blocks
    # spill to disk under pressure and keep their lineage, so losing an
    # executor recomputes instead of failing the batch.
    out = out.persist()
    try:
        n = out.count()
        if n:
            out.write.mode("append").parquet(sink_path)
    finally:
        out.unpersist()
    return n


def upsert_date_partitioned(
    df: DataFrame,
    path: str,
    *,
    key_cols: tuple = ("event_id",),
    ts_col: str = "ts",
    version_col: str | None = None,
    key_moves_partitions: bool = False,
) -> int:
    """MERGE-style upsert into a date-partitioned parquet sink without a
    transactional table format: latest row per key wins.

    Mechanics (the classic dynamic-partition-overwrite merge):
      1. derive the _date partition value for every incoming row;
      2. read ONLY the sink partitions those dates touch (partition
         pruning - the sink can be petabytes, the read is bounded by
         the batch's date spread);
      3. unionByName + keep the winner per key (max version_col, or
         ts_col when no explicit version; ties break toward the
         incoming row via a source-rank column);
      4. overwrite exactly the affected partitions
         (partitionOverwriteMode=dynamic leaves every other partition
         untouched).

    CONTRACT (default, key_moves_partitions=False): a key's ts_col date
    must be immutable - the key determines its partition, as with
    event-time facts keyed by event id. Per-key latest-wins is then
    global. If a new version of a key CAN land on a different date,
    the pruned merge never sees the key's rows in untouched partitions:
    the old version would survive elsewhere (duplicate key) and a stale
    incoming row could win its own partition.

    key_moves_partitions=True lifts the contract: the sink is probed
    (semi-join on the incoming keys, all partitions) and every
    partition holding any incoming key joins the merge + overwrite set,
    so moved keys leave exactly one winner behind and a stale incoming
    row loses to a newer row from any partition. Cost: a full-sink key
    probe per batch (min/max footer stats on the key column still prune
    row groups) - at true 100-TB scale prefer a table format with a key
    index (Delta/Iceberg MERGE) or an immutable partition key.

    Returns the number of rows written. Re-running the same batch is a
    no-op in effect (same winners). Not atomic across partitions - a
    table format buys that; the operator keeps the engine
    dependency-free while matching the semantics.
    """
    from pyspark.sql import Window

    version = version_col or ts_col
    spark = df.sparkSession
    incoming = df.withColumn("_date", F.to_date(F.col(ts_col))).withColumn(
        "_src_rank", F.lit(1)
    )
    dates = [r["_date"] for r in incoming.select("_date").distinct().collect()]
    # NULL-safe partition predicate: isin() evaluates NULL for the
    # null partition, which would exclude existing null-ts rows from
    # the merge while the write still overwrites their partition.
    date_pred = F.col("_date").isin([d for d in dates if d is not None])
    if any(d is None for d in dates):
        date_pred = date_pred | F.col("_date").isNull()
    # Only a genuinely missing sink may fall back to incoming-only: any
    # OTHER read/union failure (corrupt footer, schema drift) must
    # raise, or the dynamic overwrite would silently delete every
    # pre-existing row in the touched partitions. Probed via the read
    # itself (not os.path.exists - false for every URI-form or remote
    # path Spark can actually serve).
    from pyspark.errors.exceptions.captured import AnalysisException

    key_dates: list = []
    try:
        existing_all = spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        merged = incoming
    else:
        if key_moves_partitions:
            # Partitions holding any incoming key join the merge AND
            # the overwrite set, so a key whose date changed leaves no
            # stale twin behind. collect() is partition-date-bounded.
            key_dates = [
                r["_date"]
                for r in existing_all.join(
                    incoming.select(*key_cols).distinct(),
                    list(key_cols),
                    "left_semi",
                )
                .select("_date")
                .distinct()
                .collect()
            ]
            extra = F.col("_date").isin(
                [d for d in key_dates if d is not None]
            )
            if any(d is None for d in key_dates):
                extra = extra | F.col("_date").isNull()
            date_pred = date_pred | extra
        existing = existing_all.where(date_pred).withColumn(
            "_src_rank", F.lit(0)
        )
        merged = incoming.unionByName(existing)
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(version), F.desc("_src_rank")
    )
    winners = (
        merged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_src_rank")
    )
    # localCheckpoint (eager) CUTS LINEAGE before the overwrite: the
    # write plan must not reference the files it is replacing. persist()
    # alone only swaps in the cache via CacheManager - a lost executor
    # would recompute from partitions mid-deletion and silently corrupt
    # the sink; with checkpointed blocks the job instead fails loudly
    # and the retry re-reads a consistent sink.
    # (checkpoint blocks are released when the driver GCs the RDD;
    # unpersist() would be a no-op - it only clears CacheManager
    # entries, and a localCheckpoint is not one.)
    winners = winners.localCheckpoint(eager=True)
    n = winners.count()
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, "static")
    spark.conf.set(mode_key, "dynamic")
    try:
        winners.write.mode("overwrite").partitionBy("_date").parquet(path)
    finally:
        spark.conf.set(mode_key, prev)
    if key_moves_partitions:
        # Dynamic overwrite only rewrites partitions PRESENT in the
        # written data: a partition emptied entirely by key moves has
        # no winner rows, so its stale files must be deleted
        # explicitly or the moved keys' old versions would survive.
        touched = set(dates) | set(key_dates)
        remaining = {
            r["_date"] for r in winners.select("_date").distinct().collect()
        }
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(hconf)
        for d in touched - remaining:
            part = (
                f"_date={d.isoformat()}"
                if d is not None
                else "_date=__HIVE_DEFAULT_PARTITION__"
            )
            pdir = jvm.org.apache.hadoop.fs.Path(path, part)
            if fs.exists(pdir):
                fs.delete(pdir, True)
    return n


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed (and optionally sorted) parquet table into the
    session catalog - the storage layout that makes repeated big-big
    joins on `bucket_col` exchange-free: both sides pre-partitioned by
    the same hash at WRITE time, so the join needs no shuffle at all
    (and with sort_col, no sort either). This is the 100-TB answer for
    a fact-fact join too large to broadcast that runs every day:
    pay the partitioning once in the layout, not per query."""
    writer = df.write.mode(mode).format("parquet").bucketBy(
        n_buckets, bucket_col
    )
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def read_events_any(
    spark: SparkSession,
    path: str,
    *,
    fmt: str = "parquet",
    **reader_options,
) -> DataFrame:
    """Events-shaped scan from any supported storage format (parquet /
    csv / json), normalized to the engine's canonical schema: same
    column set, ts as TIMESTAMP, long keys, double value - so every
    downstream operator is storage-agnostic. CSV/JSON read with the
    explicit schema (no sampling inference job; json infers the full
    file otherwise) and go through the same timestamp normalization as
    parquet. Parquet stays the performance path (pushdown + pruning);
    the text formats are the interchange path."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    if fmt == "parquet":
        return _normalize_timestamps(spark.read.parquet(path))
    # NB: Spark's default JSON/CSV timestampFormat carries millisecond
    # precision; pass timestampFormat="yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    # (or however the files were written) through reader_options to
    # round-trip micros losslessly.
    if fmt == "csv":
        df = spark.read.options(**reader_options).csv(
            path, header=True, schema=schema
        )
    elif fmt == "json":
        df = spark.read.options(**reader_options).schema(schema).json(path)
    else:
        raise ValueError(f"unsupported events format: {fmt!r}")
    return _normalize_timestamps(df)


def compact_date_partitioned(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 << 20,
    min_files_to_compact: int = 2,
    ts_col: str = "ts",
) -> dict:
    """Small-file compaction for a date-partitioned parquet sink - the
    maintenance pass every incremental pipeline needs at scale: steady
    appends (append_idempotent / upsert / streaming foreachBatch) leave
    each partition with one file per micro-batch, and a year of 5-minute
    batches is ~10^5 files per partition; scan planning, footer reads
    and NameNode/object-store listing all degrade with file count long
    before data size matters.

    Per partition directory: if it holds >= min_files_to_compact files
    AND more files than ceil(bytes / target_file_bytes), rewrite it to
    at most that many files (coalesce - no shuffle, just fewer output
    tasks; the read's split bin-packing may produce even fewer, so the
    returned counts come from listing the directory after the swap,
    not from the target). The rewrite re-sorts by ts_col when present
    and pins TIMESTAMP_MICROS output, so the row-group time-clustering
    tier from write_date_partitioned(sort_within=True) survives
    compaction (INT96, the session default, carries no stats at all).
    Partitions already at their target are left untouched, so the pass
    is incremental and re-runnable.

    Crash safety: each rewrite goes through hidden sibling dirs
    ('.<part>.compacting' then a '<part>' -> '.<part>.old' -> delete
    swap), and a RECOVERY pass at startup completes any interrupted
    swap (an '.old' with no live partition is renamed back; leftover
    '.compacting' dirs are dropped), so a crash at any point leaves
    the partition recoverable and the next run heals it. Run as a
    single-writer maintenance step (no concurrent appends to the
    partitions being rewritten) - the discipline every
    non-transactional compactor requires; a table format's OPTIMIZE is
    the managed alternative.

    Returns {"partitions_compacted": n, "files_before": a, "files_after": b}.
    """
    import math

    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(hconf)
    if not fs.exists(root):
        return {"partitions_compacted": 0, "files_before": 0, "files_after": 0}

    def _hpath(name: str):
        return jvm.org.apache.hadoop.fs.Path(root, name)

    # Recovery pass: heal any swap a previous crashed run left behind
    # BEFORE compacting, so readers never keep missing a partition.
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith(".") and name.endswith(".old"):
            live = _hpath(name[1:-4])
            if fs.exists(live):
                fs.delete(st.getPath(), True)  # crash after swap
            else:
                fs.rename(st.getPath(), live)  # crash mid-swap: restore
        elif name.startswith(".") and name.endswith(".compacting"):
            fs.delete(st.getPath(), True)  # incomplete rewrite

    stats = {"partitions_compacted": 0, "files_before": 0, "files_after": 0}

    def _part_files(d) -> list:
        return [
            f
            for f in fs.listStatus(d)
            if f.isFile() and f.getPath().getName().startswith("part-")
        ]

    ts_key = "spark.sql.parquet.outputTimestampType"
    prev_ts = spark.conf.get(ts_key)
    spark.conf.set(ts_key, "TIMESTAMP_MICROS")
    try:
        for st in fs.listStatus(root):
            if not st.isDirectory() or not st.getPath().getName().startswith(
                "_date="
            ):
                continue
            part_dir = st.getPath()
            files = _part_files(part_dir)
            n_files = len(files)
            total_bytes = sum(f.getLen() for f in files)
            n_target = max(1, math.ceil(total_bytes / target_file_bytes))
            stats["files_before"] += n_files
            if n_files < min_files_to_compact or n_files <= n_target:
                stats["files_after"] += n_files
                continue
            tmp = _hpath("." + part_dir.getName() + ".compacting")
            frame = spark.read.parquet(part_dir.toString()).coalesce(n_target)
            if ts_col in frame.columns:
                frame = frame.sortWithinPartitions(ts_col)
            frame.write.mode("overwrite").parquet(tmp.toString())
            old = _hpath("." + part_dir.getName() + ".old")
            fs.rename(part_dir, old)
            fs.rename(tmp, part_dir)
            fs.delete(old, True)
            stats["partitions_compacted"] += 1
            stats["files_after"] += len(_part_files(part_dir))
    finally:
        spark.conf.set(ts_key, prev_ts)
    return stats


def zorder_key(df: DataFrame, cols: list, *, bits: int = 8) -> F.Column:
    """Morton (Z-order) key over 2+ numeric columns.

    Each column is first normalized to `bits`-bit RANK space so
    columns of wildly different scales/skews interleave fairly. The
    normalization boundaries come from df.stat.approxQuantile
    (Greenwald-Khanna sketch: one distributed pass, driver receives
    2^bits scalars) - NOT from a percent_rank window, whose empty
    partitionBy would funnel the whole table through one task. The
    per-row bucketization + bit interleave runs in one Arrow batch
    (np.searchsorted), so the only extra cost at write time is the
    sketch pass."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n = len(cols)
    if n < 2:
        raise ValueError("zorder_key needs at least 2 columns")
    if not 1 <= n * bits <= 63:
        raise ValueError(
            f"{n} cols x {bits} bits = {n * bits} key bits; a signed "
            "int64 key holds at most 63"
        )
    probes = [i / (1 << bits) for i in range(1, 1 << bits)]
    casted = [F.col(c).cast("double").alias(c) for c in cols]
    bounds = [
        np.asarray(q, dtype=np.float64)
        for q in df.select(*casted).stat.approxQuantile(
            cols, probes, 0.001
        )
    ]

    def _z(*series):
        key = np.zeros(len(series[0]), dtype=np.int64)
        for i, (s, b) in enumerate(zip(series, bounds)):
            ranks = np.searchsorted(
                b, s.to_numpy(dtype=np.float64), side="right"
            ).astype(np.int64)
            for bit in range(bits):
                key |= ((ranks >> bit) & 1) << (bit * n + i)
        return pd.Series(key)

    # functional pandas_udf form: the varargs signature defeats
    # type-hint inference
    zf = pandas_udf(_z, "long")
    return zf(*[F.col(c).cast("double") for c in cols])


def write_zordered(
    df: DataFrame,
    path: str,
    *,
    cols: list,
    n_files: int = 8,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered by a Z-order curve over `cols` - the
    multi-dimensional layout tier: where the time-sorted layout prunes
    one column's row groups, Z-ordering keeps EVERY listed column's
    per-row-group min/max range tight simultaneously, so selective
    predicates on any (or several) of them skip most groups off footer
    stats. Mechanics: sketch-sampled quantile boundaries normalize
    each column to `bits`-bit rank space, bits interleave into one
    Morton key (Arrow batch), range-partition + sort by it - every
    stage distributed; the pay-once layout trade bucketing also makes.
    OPTIMIZE ZORDER in lakehouse formats is this exact operation."""
    keyed = df.withColumn("_z", zorder_key(df, cols, bits=bits))
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def merge_aggregate_sink(
    batch: DataFrame,
    path: str,
    *,
    keys: "Sequence[str]",
    sum_cols: "Sequence[str]" = (),
    batch_id: int = 0,
    n_buckets: int = 32,
) -> int:
    """Incremental view maintenance for a per-key aggregate sink:
    maintain count + sums per key under arriving batches WITHOUT
    recomputing from history. The algebraic states (count, sum) merge
    by re-aggregation, so each batch costs

        O(batch) partial aggregation
        + O(touched buckets) sink rewrite,

    never O(sink): rows hash into `n_buckets` stable key buckets
    (the partition column), and dynamic partition overwrite replaces
    only buckets the batch touched. avg/rate derive downstream as
    sum/count — store states, not quotients.

    Idempotent per `batch_id` (streaming epoch semantics): every row in
    a bucket carries the bucket's last merged batch id; a replayed
    batch (foreachBatch retry) with batch_id <= that watermark skips
    the bucket, so at-least-once delivery cannot double-count. The
    lineage-cut + dynamic-overwrite mechanics mirror
    upsert_date_partitioned (no emptied-partition pass needed: merges
    only ever add or update rows, never empty a bucket).

    Returns the number of buckets actually merged.
    """
    spark = batch.sparkSession
    keys = list(keys)
    aggs = [F.count(F.lit(1)).cast("long").alias("_cnt")] + [
        F.sum(F.col(c)).alias(f"_sum_{c}") for c in sum_cols
    ]
    partial = (
        batch.groupBy(*keys)
        .agg(*aggs)
        .withColumn(
            "_bucket",
            F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int"),
        )
    )
    # Checkpoint BEFORE the touched-bucket collect: the same partial
    # feeds the merged write plan, and without materialization the
    # batch groupBy shuffle would run twice per batch.
    partial = partial.localCheckpoint(eager=True)
    touched = [
        r["_bucket"] for r in partial.select("_bucket").distinct().collect()
    ]
    if not touched:
        return 0
    state_cols = ["_cnt"] + [f"_sum_{c}" for c in sum_cols]
    # Existence must be an explicit filesystem probe, NOT a blanket
    # except around the read: a transient read failure (FS hiccup,
    # permissions, corrupt footer) misdiagnosed as "first batch" would
    # dynamic-overwrite accumulated state with batch-only partials -
    # silent data loss. A real read error now propagates.
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    exists = jpath.getFileSystem(hconf).exists(jpath)
    if exists:
        old = spark.read.parquet(path).where(F.col("_bucket").isin(touched))
    if exists:
        done = {
            r["_bucket"]
            for r in old.groupBy("_bucket")
            .agg(F.max("_last_batch").alias("_lb"))
            .where(F.col("_lb") >= batch_id)
            .collect()
        }
        todo = [b for b in touched if b not in done]
        if not todo:
            return 0
        partial = partial.where(F.col("_bucket").isin(todo))
        merged = (
            old.where(F.col("_bucket").isin(todo))
            .select(*keys, *state_cols, "_bucket")
            .unionByName(partial)
            .groupBy(*keys, "_bucket")
            .agg(
                F.sum("_cnt").cast("long").alias("_cnt"),
                *[
                    F.sum(f"_sum_{c}").alias(f"_sum_{c}")
                    for c in sum_cols
                ],
            )
        )
        n_merged = len(todo)
    else:
        merged = partial
        n_merged = len(touched)
    out = merged.withColumn(
        "_last_batch", F.lit(batch_id).cast("long")
    ).localCheckpoint(eager=True)
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, "static")
    spark.conf.set(mode_key, "dynamic")
    try:
        out.write.mode("overwrite").partitionBy("_bucket").parquet(path)
    finally:
        spark.conf.set(mode_key, prev)
    return n_merged


def _delete_partition_dirs(spark, path: str, col: str, values) -> int:
    """Remove partition directories the dynamic overwrite cannot: a
    partition whose every row is deleted appears NOWHERE in the written
    data, so partitionOverwriteMode=dynamic leaves its old files
    untouched - the one gap in overwrite-based deletes. Explicit FS
    removal of exactly those value dirs closes it."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    removed = 0
    for v in values:
        part = "__HIVE_DEFAULT_PARTITION__" if v is None else str(v)
        jpath = jvm.org.apache.hadoop.fs.Path(f"{path}/{col}={part}")
        fs = jpath.getFileSystem(hconf)
        if fs.exists(jpath):
            fs.delete(jpath, True)
            removed += 1
    return removed


def delete_from_date_partitioned(
    spark,
    path: str,
    delete_keys: DataFrame,
    *,
    key_cols: tuple = ("event_id",),
) -> int:
    """Right-to-be-forgotten delete against a date-partitioned parquet
    sink (the upsert_date_partitioned twin): (1) probe the sink with a
    key semi-join to find the partitions holding any doomed key -
    min/max footer stats prune row groups, and the rewrite set is
    bounded by where the keys actually live, never the sink size;
    (2) anti-join those partitions against the key set and dynamically
    overwrite them; (3) explicitly remove partition dirs the delete
    EMPTIED (dynamic overwrite only replaces partitions present in the
    written data - an all-rows-deleted date would otherwise survive on
    disk, which for a deletion request is a compliance bug, not a
    cosmetic one). Lineage is cut before the overwrite, same as the
    upsert. Returns the number of rows removed."""
    keys = list(key_cols)
    doomed = delete_keys.select(*keys).distinct()
    sink = spark.read.parquet(path)
    touched = [
        r["_date"]
        for r in sink.join(doomed, keys, "left_semi")
        .select("_date")
        .distinct()
        .collect()
    ]
    if not touched:
        return 0
    pred = F.col("_date").isin([d for d in touched if d is not None])
    if any(d is None for d in touched):
        pred = pred | F.col("_date").isNull()
    before = sink.where(pred)
    survivors = before.join(doomed, keys, "left_anti").localCheckpoint(
        eager=True
    )
    n_removed = before.count() - survivors.count()
    kept_dates = {
        r["_date"] for r in survivors.select("_date").distinct().collect()
    }
    emptied = [d for d in touched if d not in kept_dates]
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, "static")
    spark.conf.set(mode_key, "dynamic")
    try:
        survivors.write.mode("overwrite").partitionBy("_date").parquet(path)
    finally:
        spark.conf.set(mode_key, prev)
    _delete_partition_dirs(spark, path, "_date", emptied)
    return int(n_removed)


def write_span_index_sink(
    index: DataFrame, path: str, *, n_buckets: int = 32
) -> None:
    """Persist a (shingle, df) span index hash-bucketed on the shingle
    (the merge_aggregate_sink partition discipline), so incremental
    maintenance - batch appends AND deletion decrements - rewrites
    only touched buckets, never the index."""
    spark = index.sparkSession
    out = index.withColumn(
        "_bucket", F.pmod(F.xxhash64("shingle"), F.lit(n_buckets)).cast("int")
    )
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, "static")
    spark.conf.set(mode_key, "dynamic")
    try:
        out.write.mode("overwrite").partitionBy("_bucket").parquet(path)
    finally:
        spark.conf.set(mode_key, prev)


def decrement_span_index_sink(
    spark,
    path: str,
    deleted_docs: DataFrame,
    *,
    n: int = 5,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Propagate document deletions into a stored span index: span dfs
    are algebraic (a count), so the deleted docs' own span index
    SUBTRACTS - O(deleted docs) shingling + a touched-bucket rewrite,
    never an index or corpus rescan. Rows reaching df <= 0 drop;
    buckets emptied entirely are removed explicitly (the dynamic-
    overwrite gap). The incremental==rebuild equivalence is pinned in
    tests/test_deletes.py. Returns the number of buckets rewritten."""
    from ..operators.dedup import build_span_index

    delta = build_span_index(
        deleted_docs, n=n, id_col=id_col, text_col=text_col, persist=False
    ).withColumnRenamed("df", "_ddf")
    delta = delta.withColumn(
        "_bucket", F.pmod(F.xxhash64("shingle"), F.lit(n_buckets)).cast("int")
    ).localCheckpoint(eager=True)
    touched = [
        r["_bucket"] for r in delta.select("_bucket").distinct().collect()
    ]
    if not touched:
        return 0
    old = spark.read.parquet(path).where(F.col("_bucket").isin(touched))
    merged = (
        old.join(delta.select("shingle", "_ddf"), "shingle", "left")
        .withColumn(
            "df", F.col("df") - F.coalesce(F.col("_ddf"), F.lit(0))
        )
        .where(F.col("df") > 0)
        .select("shingle", "df", "_bucket")
        .localCheckpoint(eager=True)
    )
    kept = {
        r["_bucket"] for r in merged.select("_bucket").distinct().collect()
    }
    emptied = [b for b in touched if b not in kept]
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, "static")
    spark.conf.set(mode_key, "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy("_bucket").parquet(path)
    finally:
        spark.conf.set(mode_key, prev)
    _delete_partition_dirs(spark, path, "_bucket", emptied)
    return len(touched)
