"""Order-insensitive comparison of a query result against its DuckDB
oracle.

Both sides are canonicalized row by row (columns in name order, NaN and
NaT as None, numbers to nine significant digits, temporal values as ISO
strings) and summed into a multiset hash. Equal row counts and equal
hashes mean a match. When the hashes differ, a tolerant sorted compare
(relative 1e-9) decides, so that a float landing on a rounding boundary
is not reported as a mismatch.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def duck_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def canon(v):
    """A hashable, engine-neutral form of one value."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)) or type(v).__module__ == "numpy":
        if hasattr(v, "tolist") and not isinstance(v, (int, float)):
            v = v.tolist()
            if isinstance(v, list):
                return tuple(canon(x) for x in v)
        if isinstance(v, int):
            return v
        f = float(v)
        if math.isnan(f):
            return None
        if f.is_integer() and abs(f) < 2**53:
            return int(f)
        return float(f"{f:.9g}")
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (dt.datetime, dt.date)):
        s = v.isoformat(sep=" ") if isinstance(v, dt.datetime) else v.isoformat()
        return s[:-9] if s.endswith(" 00:00:00") else s
    return v


def canon_rows(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [tuple(canon(r[i]) for i in order) for r in rows]


def multiset_hash(rows: list[tuple]) -> int:
    """Order-insensitive 64-bit hash of canonical rows."""
    h = 0
    for r in rows:
        d = hashlib.blake2b(repr(r).encode(), digest_size=8).digest()
        h = (h + int.from_bytes(d, "little")) % (1 << 64)
    return h


def _close(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not (
        isinstance(a, bool) or isinstance(b, bool)
    ):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare_rows(cols_a: list[str], rows_a, cols_b: list[str], rows_b) -> str | None:
    """None when the two results match, else a one-line reason."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} != {sorted(cols_b)}"
    a, b = canon_rows(cols_a, rows_a), canon_rows(cols_b, rows_b)
    if len(a) != len(b):
        return f"row count {len(a)} != {len(b)}"
    if multiset_hash(a) == multiset_hash(b):
        return None
    key = lambda r: tuple(str(x) for x in r)  # noqa: E731
    for i, (ra, rb) in enumerate(zip(sorted(a, key=key), sorted(b, key=key))):
        if not _close(ra, rb):
            return f"row {i}: {ra!r} != {rb!r}"[:300]
    return None


def compare_with_oracle(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> str | None:
    """Collect `spark_df` and run `sql` on DuckDB; None when they match."""
    s = spark_df.toArrow()
    o = con.sql(sql).arrow()
    return compare_rows(s.column_names, rows_of(s), o.column_names, rows_of(o))


def rows_of(tbl) -> list[tuple]:
    """The rows of an arrow table as tuples."""
    cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    return list(zip(*cols)) if cols else []
