"""The session artifact store (queries/artifacts.py): content-stamp
invalidation over part files, release of superseded artifacts, warm
hits without Spark jobs, and removal of app-owned directories at
process exit."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

from txf_continuous_data_pipeline_spark.queries import artifacts
from txf_continuous_data_pipeline_spark.queries.text_common import (
    _hash_feats,
    _shingle_base,
)
from txf_continuous_data_pipeline_spark.queries.text_retrieval import (
    _bm25_index_path,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _docs(sf_dir, lo, hi):
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    return t.slice(lo, hi - lo)


def _rewrite(path, table):
    """Rewrite a parquet file in place (same inode, new bytes)."""
    with open(path, "wb") as f:
        pq.write_table(table, f)


def _doc_ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_part_file_rewrite_invalidates_entry(spark, sf_dir, tmp_path):
    # a two-part-file documents table; one part rewritten in place with
    # the directory's own mtime restored - a stamp of the directory
    # entry alone cannot see the change
    table_dir = tmp_path / "documents.parquet"
    table_dir.mkdir()
    pq.write_table(_docs(sf_dir, 0, 40), table_dir / "part-00000.parquet")
    part1 = table_dir / "part-00001.parquet"
    pq.write_table(_docs(sf_dir, 40, 80), part1)
    d = str(tmp_path)

    first = _shingle_base(spark, d)
    ids = _docs(sf_dir, 0, 80)["doc_id"].to_pylist()
    assert _doc_ids(first) == sorted(ids)

    st = os.stat(table_dir)
    moved = _docs(sf_dir, 40, 60)
    moved = moved.set_column(
        moved.schema.get_field_index("doc_id"),
        "doc_id",
        pc.add(moved["doc_id"], 100_000),
    )
    _rewrite(part1, moved)
    os.utime(table_dir, ns=(st.st_atime_ns, st.st_mtime_ns))

    second = _shingle_base(spark, d)
    assert second is not first
    assert _doc_ids(second) == sorted(
        ids[:40] + [i + 100_000 for i in ids[40:60]]
    )


def test_supersede_releases_checkpoint_and_app_dir(spark, sf_dir, tmp_path):
    path = tmp_path / "documents.parquet"
    pq.write_table(_docs(sf_dir, 0, 60), path)
    d = str(tmp_path)
    sc = spark.sparkContext
    index = _bm25_index_path(spark, d)
    assert os.path.isdir(index)

    before = _persistent_rdds(spark)
    feats = _hash_feats(spark, d)
    built = _persistent_rdds(spark) - before
    assert built, "the checkpointed frame holds no persisted RDD"

    # a warm hit is the same object and starts no Spark job
    group = "test_artifacts_warm_hit"
    sc.setJobGroup(group, "warm artifact hit")
    try:
        assert _hash_feats(spark, d) is feats
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0

    _rewrite(path, _docs(sf_dir, 0, 30))
    builds = artifacts.COUNTERS["hash_feats"]["builds"]
    rebuilt = _hash_feats(spark, d)
    assert rebuilt is not feats
    assert artifacts.COUNTERS["hash_feats"]["builds"] == builds + 1
    assert rebuilt.count() == 30
    # the superseded checkpoint's blocks are gone: the session holds
    # as many persisted RDDs as it did after the first build
    now = _persistent_rdds(spark)
    assert not (built & now)
    assert len(now - before) == len(built)

    new_index = _bm25_index_path(spark, d)
    assert new_index != index
    assert os.path.isdir(new_index)
    assert not os.path.exists(index)


def test_app_dirs_removed_at_exit(sf_dir, tmp_path):
    script = f"""
import os, sys
sys.path.insert(0, {REPO!r})
from txf_continuous_data_pipeline_spark.session import get_spark
from txf_continuous_data_pipeline_spark.queries import REGISTRY
from txf_continuous_data_pipeline_spark.queries.text_curation import (
    _jsonl_path,
)
spark = get_spark("test_artifacts_exit", shuffle_partitions=2)
n = REGISTRY["jsonl_roundtrip"][0](spark, {sf_dir!r}).count()
path = _jsonl_path(spark, {sf_dir!r})
assert os.path.isdir(path), path
print("ROWS", n, "PATH", path)
"""
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEMORY="1g",
        PYTHONPATH=REPO,
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(x for x in out.stdout.splitlines() if x.startswith("ROWS"))
    _, rows, _, path = line.split()
    assert int(rows) > 0
    assert path.startswith(str(tmp_path))
    assert glob.glob(str(tmp_path / "spark_graft_*")) == []
