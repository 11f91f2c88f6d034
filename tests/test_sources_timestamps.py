"""Pin read_table's timestamp normalization across parquet flavors.

The driver regenerated testdata between rounds 2 and 3, silently flipping
events.ts from TIMESTAMP(NANOS) to TIMESTAMP(MICROS) naive - Spark 4 reads
the latter as TIMESTAMP_NTZ, which unix_micros (the core of every
time-of-day session filter) rejects at analysis time. This test writes the
same rows in all three flavors a user can hand the engine and asserts
read_table yields plain TIMESTAMP with identical wall-clock values, so the
next storage-flavor drift breaks HERE, not six queries deep.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampType

from txf_continuous_data_pipeline_spark.sources.io import read_table

ROWS = [
    dt.datetime(2024, 3, 15, 8, 44, 59, 123456),
    dt.datetime(2024, 3, 15, 13, 45, 0, 0),
    dt.datetime(2024, 3, 16, 4, 59, 59, 999999),
]

FLAVORS = {
    # Spark 4 refuses native nanos (PARQUET_TYPE_ILLEGAL) -> legacy shim.
    "ns": pa.timestamp("ns"),
    # pandas/pyarrow default for naive datetimes -> TIMESTAMP_NTZ in Spark.
    "us_naive": pa.timestamp("us"),
    # isAdjustedToUTC=true -> plain TIMESTAMP in Spark.
    "us_utc": pa.timestamp("us", tz="UTC"),
}


@pytest.mark.parametrize("flavor", sorted(FLAVORS))
def test_read_table_normalizes_all_timestamp_flavors(spark, tmp_path, flavor):
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ROWS, FLAVORS[flavor]),
        }
    )
    sf_dir = tmp_path / flavor
    sf_dir.mkdir()
    pq.write_table(table, sf_dir / "events.parquet")

    df = read_table(spark, str(sf_dir), "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType), (
        f"{flavor}: expected TIMESTAMP, got {df.schema['ts'].dataType}"
    )
    got = sorted(r.ts.replace(tzinfo=None) for r in df.select("ts").collect())
    assert got == ROWS, f"{flavor}: wall-clock values drifted"


def test_read_table_follows_in_place_flavor_rewrite(spark, tmp_path):
    """The nanos decision comes from the footer read on every call: a
    table rewritten in place from ns to us timestamps (the drift
    timestamp_flavors exists to catch) must not keep the ns path."""
    for flavor in ("ns", "us_naive", "ns"):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([1, 2, 3], pa.int64()),
                    "ts": pa.array(ROWS, FLAVORS[flavor]),
                }
            ),
            tmp_path / "events.parquet",
        )
        df = read_table(spark, str(tmp_path), "events")
        assert isinstance(df.schema["ts"].dataType, TimestampType), flavor
        got = sorted(
            r.ts.replace(tzinfo=None) for r in df.select("ts").collect()
        )
        assert got == ROWS, flavor


def test_micros_of_day_accepts_ntz(spark):
    """The helper itself must be NTZ-polymorphic for ad-hoc callers that
    bypass read_table."""
    from pyspark.sql import functions as F

    from txf_continuous_data_pipeline_spark.functions.timefn import micros_of_day

    df = spark.sql(
        "SELECT TIMESTAMP_NTZ '2024-03-15 08:45:30.5' AS ts"
    ).select(micros_of_day(F.col("ts")).alias("us"))
    assert df.collect()[0].us == ((8 * 60 + 45) * 60 + 30) * 1_000_000 + 500_000


def test_read_events_any_formats_agree(spark, sf_dir, tmp_path):
    """The same events rows through parquet, CSV and JSON storage must
    produce identical normalized frames (schema and values)."""
    from pyspark.sql import functions as F

    from txf_continuous_data_pipeline_spark.sources import read_table
    from txf_continuous_data_pipeline_spark.sources.io import read_events_any

    base = read_table(spark, sf_dir, "events").limit(200)
    pq_dir = str(tmp_path / "pq")
    csv_dir = str(tmp_path / "csv")
    json_dir = str(tmp_path / "json")
    base.write.parquet(pq_dir)
    base.withColumn(
        "ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    ).write.option("header", True).csv(csv_dir)
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    base.write.option("timestampFormat", ts_fmt).json(json_dir)

    frames = {
        "parquet": read_events_any(spark, pq_dir, fmt="parquet"),
        "csv": read_events_any(spark, csv_dir, fmt="csv"),
        "json": read_events_any(
            spark, json_dir, fmt="json", timestampFormat=ts_fmt
        ),
    }
    want = sorted(tuple(r) for r in base.collect())
    for fmt, df in frames.items():
        assert isinstance(df.schema["ts"].dataType, TimestampType), fmt
        assert [f.name for f in df.schema.fields] == [
            f.name for f in base.schema.fields
        ], fmt
        got = sorted(tuple(r) for r in df.select(*base.columns).collect())
        assert got == want, f"{fmt}: values drifted"
