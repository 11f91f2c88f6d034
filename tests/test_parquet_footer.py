"""sources/io.read_parquet: the schema from one driver-side footer read
must equal what Spark's schema-inference job yields (nullability
included), on every testdata table and on directories the engine
writes itself, and the read must start no Spark job."""

from __future__ import annotations

import glob
import os

import pytest

from txf_continuous_data_pipeline_spark.sources.io import read_parquet


def _testdata_tables(sf_dir):
    return sorted(
        glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*", "*.parquet"))
    )


def test_footer_schema_matches_inference_on_testdata(spark, sf_dir):
    tables = _testdata_tables(sf_dir)
    assert tables
    for path in tables:
        got = read_parquet(spark, path).schema
        want = spark.read.parquet(path).schema
        assert got == want, path
        assert [f.nullable for f in got] == [f.nullable for f in want], path


def test_footer_schema_matches_inference_on_engine_writes(
    spark, sf_dir, tmp_path
):
    from pyspark.sql import functions as F

    from txf_continuous_data_pipeline_spark.operators.textstats import (
        write_bm25_index,
    )
    from txf_continuous_data_pipeline_spark.sources.io import (
        append_idempotent,
        read_table,
        write_date_partitioned,
    )

    events = read_table(spark, sf_dir, "events").limit(300)
    sink = str(tmp_path / "sink")
    # two appends -> a directory of several part files (and _SUCCESS)
    first = events.where(F.col("event_id") % 2 == 0)
    assert append_idempotent(first, sink) > 0
    assert append_idempotent(events, sink) >= 0
    index = str(tmp_path / "bm25")
    write_bm25_index(
        read_table(spark, sf_dir, "documents").limit(50), index
    )
    parted = str(tmp_path / "parted")
    write_date_partitioned(events, parted)
    for path in (
        sink,
        os.path.join(index, "postings"),
        os.path.join(index, "dl"),
        parted,
    ):
        got = read_parquet(spark, path).schema
        assert got == spark.read.parquet(path).schema, path
        assert read_parquet(spark, path).count() == (
            spark.read.parquet(path).count()
        ), path


def test_read_parquet_starts_no_job(spark, sf_dir):
    sc = spark.sparkContext
    path = os.path.join(sf_dir, "events.parquet")
    group = "test_read_parquet_starts_no_job"
    sc.setJobGroup(group, "footer-schema read")
    try:
        read_parquet(spark, path).schema
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_read_parquet_missing_path_raises_like_spark(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        read_parquet(spark, str(tmp_path / "missing"))
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    with pytest.raises(AnalysisException):
        read_parquet(spark, str(empty))
