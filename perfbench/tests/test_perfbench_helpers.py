"""Tests of the benchmark's helpers: the percentile rule, the self-time
computation, the oracle comparator and the seeded inputs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
from measure import tail_percentile  # noqa: E402
from oracle import canon, compare_rows, multiset_hash  # noqa: E402
from spans import JOB, Span, outside_jobs, parse_size, self_times, union_length  # noqa: E402


# -- percentile rule ---------------------------------------------------------

def test_p90_needs_ten_samples_beyond_it():
    assert tail_percentile(list(range(1, 101)), 90) == 90.0  # 91..100 lie beyond
    assert tail_percentile(list(range(1, 100)), 90) is None  # only 9 beyond
    assert tail_percentile(list(range(1, 21)), 50) == 10.0


def test_percentile_rule_counts_strictly_greater_samples():
    # ties at the percentile value do not count as lying beyond it
    assert tail_percentile([1.0] * 95 + [2.0] * 5, 90) is None
    assert tail_percentile([], 90) is None


# -- self time -----------------------------------------------------------------

def _span(name, start, end, sid, parent, trace=1):
    return Span(name, start, end, sid, parent, trace)


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert union_length([]) == 0.0


def test_self_times_partition_op_wall():
    spans = [
        _span("op", 0.0, 10.0, 1, None),
        _span("queries.build", 1.0, 4.0, 2, 1),
        _span(JOB, 2.0, 3.0, 3, 2),
        _span(JOB, 2.5, 3.5, 4, 2),  # concurrent with the job above
        _span("queries.exec", 4.0, 9.0, 5, 1),
        _span(JOB, 5.0, 8.0, 6, 5),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(2.0)  # 0-1 and 9-10
    assert st["queries.build"] == pytest.approx(1.5)  # 3 s minus the 1.5 s job union
    assert st["queries.exec"] == pytest.approx(2.0)
    assert st[JOB] == pytest.approx(4.5)
    assert sum(st.values()) == pytest.approx(10.0)
    assert outside_jobs(spans, spans[0]) == pytest.approx(5.5)


def test_self_times_nested_layer_calls():
    spans = [
        _span("tick", 0.0, 6.0, 1, None),
        _span("plans.incremental_run", 0.5, 5.5, 2, 1),
        _span("sources.append_idempotent", 1.0, 5.0, 3, 2),
        _span("sources.sink_watermark", 1.0, 2.0, 4, 3),
        _span(JOB, 1.2, 1.8, 5, 4),
        _span(JOB, 2.0, 4.0, 6, 3),
    ]
    st = self_times(spans)
    assert st["tick"] == pytest.approx(1.0)
    assert st["plans.incremental_run"] == pytest.approx(1.0)
    assert st["sources.append_idempotent"] == pytest.approx(1.0)
    assert st["sources.sink_watermark"] == pytest.approx(0.4)
    assert st[JOB] == pytest.approx(2.6)
    assert sum(st.values()) == pytest.approx(6.0)


def test_parse_size_reads_plain_and_summary_values():
    assert parse_size("3.0 MiB") == 3 * 1024**2
    summary = "total (min, med, max (stageId: taskId))\n78.5 KiB (26.2 KiB, 26.2 KiB)"
    assert parse_size(summary) == pytest.approx(78.5 * 1024)
    assert parse_size("n/a") == 0.0


# -- oracle comparator -------------------------------------------------------------

COLS = ["b", "a"]


def test_compare_ignores_row_and_column_order():
    rows = [(1, "x"), (2, "y"), (3, None)]
    other_cols = ["a", "b"]
    other = [("y", 2), (None, 3), ("x", 1)]
    assert compare_rows(COLS, rows, other_cols, other) is None


def test_compare_reports_count_value_and_column_mismatches():
    assert "row count" in compare_rows(COLS, [(1, "x")], COLS, [(1, "x"), (1, "x")])
    assert compare_rows(COLS, [(1, "x")], COLS, [(2, "x")]) is not None
    assert "columns" in compare_rows(COLS, [(1, "x")], ["b", "c"], [(1, "x")])
    # a duplicated row is not the same multiset as two distinct rows
    assert compare_rows(COLS, [(1, "x"), (1, "x")], COLS, [(1, "x"), (2, "x")]) is not None


def test_compare_tolerates_float_noise_and_rounding_boundaries():
    a = [(0.1 + 0.2, "x")]
    b = [(0.3, "x")]
    assert compare_rows(COLS, a, COLS, b) is None
    # rounds to different nine-digit forms, but agrees within 1e-9
    c = [(0.12345678949999, "x")]
    d = [(0.12345678950001, "x")]
    assert multiset_hash([canon(c[0])]) != multiset_hash([canon(d[0])])
    assert compare_rows(COLS, c, COLS, d) is None
    assert compare_rows(COLS, [(1.0, "x")], COLS, [(1.001, "x")]) is not None


def test_canon_unifies_engine_representations():
    assert canon(float("nan")) is None
    assert canon(3.0) == canon(3) == 3
    utc = dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc)
    assert canon(utc) == canon(dt.datetime(2024, 1, 2, 3, 4, 5))
    assert canon(dt.datetime(2024, 1, 2)) == canon(dt.date(2024, 1, 2))
    assert canon([1.0, 2.5]) == (1, 2.5)


# -- seeded inputs ---------------------------------------------------------------

def test_same_seed_gives_same_inputs(tmp_path):
    a = datagen.write_tables(str(tmp_path / "a"), 7, 0.001)
    b = datagen.write_tables(str(tmp_path / "b"), 7, 0.001)
    c = datagen.write_tables(str(tmp_path / "c"), 8, 0.001)
    for t in ("lineitem", "events", "documents", "embeddings"):
        ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
        assert ta.equals(pq.read_table(os.path.join(b, f"{t}.parquet")))
        assert not ta.equals(pq.read_table(os.path.join(c, f"{t}.parquet")))


def test_events_are_time_ordered_and_distinct():
    ev = datagen.events_table(3, 5000, 50)
    ts = ev.column("ts").to_pylist()
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    assert ev.column("event_id").to_pylist() == list(range(5000))
