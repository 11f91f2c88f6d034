"""The session artifact store: one memo for every per-corpus derived
artifact the query families reuse across calls (shingle bases, suffix
frames, trained merges, on-disk indexes, the memoized bar pipeline).

An entry is keyed on (name, sf_dir, table, *params) and holds
(applicationId, content stamp, value). A call whose applicationId and
stamp both match returns the stored object itself and starts no Spark
job. Anything else builds anew and releases the superseded value:

- a localCheckpoint'ed frame: its LogicalRDD's RDD is unpersisted
  (DataFrame.unpersist leaves checkpoint blocks pinned);
- a persist()ed frame: unpersist();
- a dict: each value, by the same rules;
- a broadcast: destroy();
- a directory from artifact_dir(): removed;
- anything else (driver values, shared on-disk paths): dropped.

Spark values of another application are only dropped - their context
is gone, and its blocks with it. Each build keeps its own
materialization (eager or lazy localCheckpoint, persist, or an already
materialized result); the store never adds a Spark job.

COUNTERS holds per-name hits, builds and build seconds for the run
records (bench.py diffs it around each query).
"""

from __future__ import annotations

import atexit
import itertools
import os
import re
import shutil
import tempfile
import time

from pyspark import Broadcast
from pyspark.sql import DataFrame

_ENTRIES: dict = {}
COUNTERS: dict = {}
_APP_ROOTS: dict = {}
_DIR_SEQ = itertools.count()


def table_stamp(sf_dir: str, table: str) -> tuple:
    """(relpath, st_mtime_ns, st_size) of every visible data file of
    {table}.parquet - a single file is its own one-element list; in a
    directory, names starting with '_' or '.' are skipped, as Spark's
    file index and sources/io._parquet_footer skip them. os calls only,
    no Spark job. A part file rewritten in place changes the stamp even
    when the directory's own mtime is unchanged."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if not os.path.isdir(path):
        st = os.stat(path)
        return (("", st.st_mtime_ns, st.st_size),)
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue
            full = os.path.join(root, f)
            st = os.stat(full)
            out.append(
                (os.path.relpath(full, path), st.st_mtime_ns, st.st_size)
            )
    return tuple(out)


def get(spark, key: tuple, build):
    """The value `build()` returns for key = (name, sf_dir, table,
    *params), built at most once per (applicationId, stamp of
    `table`)."""
    name, sf_dir, table = key[:3]
    app = spark.sparkContext.applicationId
    stamp = table_stamp(sf_dir, table)
    count = COUNTERS.setdefault(
        name, {"hits": 0, "builds": 0, "build_s": 0.0}
    )
    entry = _ENTRIES.get(key)
    if entry is not None and entry[:2] == (app, stamp):
        count["hits"] += 1
        return entry[2]
    if entry is not None:
        del _ENTRIES[key]
        _release(entry[2], same_app=entry[0] == app)
    t0 = time.perf_counter()
    value = build()
    count["builds"] += 1
    count["build_s"] += time.perf_counter() - t0
    _ENTRIES[key] = (app, stamp, value)
    return value


def artifact_dir(spark, name: str) -> str:
    """A fresh, not yet existing path under this application's root
    ({tempdir}/spark_graft_<appId>). The root is removed when the
    process exits, and a superseded entry's directory when it is
    replaced."""
    app = spark.sparkContext.applicationId
    if app not in _APP_ROOTS:
        if not _APP_ROOTS:
            atexit.register(_remove_app_roots)
        _APP_ROOTS[app] = os.path.join(
            tempfile.gettempdir(),
            "spark_graft_" + re.sub(r"[^A-Za-z0-9_-]", "_", app),
        )
    return os.path.join(_APP_ROOTS[app], f"{name}-{next(_DIR_SEQ)}")


def _release(value, same_app: bool) -> None:
    if isinstance(value, dict):
        for v in value.values():
            _release(v, same_app)
    elif isinstance(value, str):
        if any(
            os.path.dirname(value) == root for root in _APP_ROOTS.values()
        ):
            shutil.rmtree(value, ignore_errors=True)
    elif not same_app:
        return
    elif isinstance(value, DataFrame):
        plan = value._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)
        else:
            value.unpersist()
    elif isinstance(value, Broadcast):
        value.destroy()


def _remove_app_roots() -> None:
    for root in _APP_ROOTS.values():
        shutil.rmtree(root, ignore_errors=True)
