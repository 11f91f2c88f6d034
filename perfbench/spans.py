"""Spans and per-layer accounting, taken from outside the program.

A span has a name, a start, an end, a parent and a trace id; one trace
is one benchmark op. The levels are op -> layer call -> Spark job. Op
and layer-call spans are timed here around calls into the program's
public functions. With Spark instrumentation on (the traced run), each
layer call also runs under a job group of its own, and after each op the
op's jobs become child spans, with their start and end taken from the
Spark status REST API; the jobs' stage and SQL metrics are added to the
op's counters. Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import http.client
import json
import re
import time
import urllib.parse
from collections import Counter
from dataclasses import asdict, dataclass, field

JOB = "spark.job"


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    trace_id: int
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Total length covered by `intervals`, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds of self time per span name, summed over all spans.

    A span's self time is its duration minus the part of its interval
    that its children cover. Spark jobs are leaves and may run
    concurrently, so the jobs under one parent count once, as the length
    of their union."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: Counter = Counter()
    for s in spans:
        if s.name == JOB:
            continue
        kids = children.get(s.span_id, [])
        covered = union_length([(k.start, k.end) for k in kids], s.start, s.end)
        out[s.name] += s.duration - covered
        jobs = [(k.start, k.end) for k in kids if k.name == JOB]
        if jobs:
            out[JOB] += union_length(jobs)
    return dict(out)


def outside_jobs(spans: list[Span], op: Span) -> float:
    """Seconds of `op` during which none of its Spark jobs ran."""
    jobs = [(s.start, s.end) for s in spans if s.trace_id == op.trace_id and s.name == JOB]
    return op.duration - union_length(jobs, op.start, op.end)


def _rest_time(value: str | None) -> float | None:
    """Epoch seconds of a status-API timestamp like
    '2026-01-02T03:04:05.678GMT'."""
    if not value:
        return None
    t = dt.datetime.strptime(value.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def parse_size(value: str) -> float:
    """Bytes in an SQL metric value: either a plain size ('3.2 MiB') or
    the summary form whose first line is a header and whose second line
    starts with the total."""
    line = value.strip().splitlines()[-1]
    m = re.match(r"\s*([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)", line)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


STAGE_COUNTERS = {
    # stage field -> (counter, scale)
    "numTasks": ("spark.tasks", 1.0),
    "shuffleReadBytes": ("spark.shuffle_read_mb", 1e-6),
    "shuffleWriteBytes": ("spark.shuffle_write_mb", 1e-6),
    "memoryBytesSpilled": ("spark.spill_mb", 1e-6),
    "diskBytesSpilled": ("spark.spill_mb", 1e-6),
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "jvmGcTime": ("spark.gc_s", 1e-3),
}
PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")


class StatusApi:
    """Reader of the Spark status REST API of one application, over one
    kept-alive connection to the local UI."""

    def __init__(self, ui_url: str, app_id: str):
        u = urllib.parse.urlparse(ui_url)
        self._conn = http.client.HTTPConnection(u.hostname, u.port, timeout=30)
        self._base = f"/api/v1/applications/{app_id}/"

    def get(self, path: str):
        try:
            self._conn.request("GET", self._base + path)
            resp = self._conn.getresponse()
        except (http.client.HTTPException, ConnectionError):
            # the UI closes idle kept-alive connections; reconnect once
            self._conn.close()
            self._conn.request("GET", self._base + path)
            resp = self._conn.getresponse()
        body = resp.read()
        if resp.status == 404:
            return None
        if resp.status != 200:
            raise RuntimeError(f"status API {path}: HTTP {resp.status}")
        return json.loads(body)

    def close(self) -> None:
        self._conn.close()


class Tracer:
    """Records spans for ops and layer calls. `spark_on` adds job groups,
    job spans and Spark counters; without it the tracer only times."""

    def __init__(self, spark=None, spark_on: bool = False):
        self.spans: list[Span] = []
        self.counters: Counter = Counter()
        self.bookkeeping_s = 0.0
        self._stack: list[Span] = []
        self._ids = 0
        self._traces = 0
        self._spark_on = spark_on and spark is not None
        self._restore: list = []
        self._unsettled: Span | None = None
        if self._spark_on:
            sc = spark.sparkContext
            self._sc = sc
            self._tracker = sc.statusTracker()
            self._api = StatusApi(sc.uiWebUrl, sc.applicationId)
            self._next_job = self._first_unseen_job(0)
            self._sql_seen = len(self._api.get("sql?details=false") or [])

    # -- spans ---------------------------------------------------------
    def _open(self, name: str, trace_id: int, attrs: dict) -> Span:
        self._ids += 1
        parent = self._stack[-1].span_id if self._stack else None
        span = Span(name, time.time(), 0.0, self._ids, parent, trace_id, attrs)
        self._stack.append(span)
        if self._spark_on:
            self._sc.setJobGroup(f"pb-{span.span_id}", name)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        self._stack.pop()
        self.spans.append(span)
        if self._spark_on and self._stack:
            top = self._stack[-1]
            self._sc.setJobGroup(f"pb-{top.span_id}", top.name)

    @contextlib.contextmanager
    def op(self, name: str, **attrs):
        """One benchmark op: the root span of a new trace."""
        assert not self._stack, "ops do not nest"
        self._traces += 1
        span = self._open(name, self._traces, attrs)
        try:
            yield span
        except BaseException as e:
            span.attrs["error"] = f"{type(e).__name__}: {e}"[:500]
            raise
        finally:
            self._close(span)
            self._unsettled = span

    def settle(self) -> None:
        """After an op, successful or not: attach its Spark jobs and
        counters. Kept out of the op's own span and time."""
        span, self._unsettled = self._unsettled, None
        if span is None or not self._spark_on:
            return
        t0 = time.perf_counter()
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._collect_jobs(span)
        self.bookkeeping_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def call(self, name: str, **attrs):
        """One call into a layer of the program, inside the current op."""
        trace_id = self._stack[-1].trace_id if self._stack else 0
        span = self._open(name, trace_id, attrs)
        try:
            yield span
        finally:
            self._close(span)

    def wrap(self, module, attr: str, name: str) -> None:
        """Time every call of module.attr as a `name` layer call (undone
        by unwrap_all)."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.call(name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._restore.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._restore:
            module, attr, orig = self._restore.pop()
            setattr(module, attr, orig)

    def ops(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

    def calls(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    # -- Spark ---------------------------------------------------------
    def _first_unseen_job(self, start: int) -> int:
        i = start
        while self._tracker.getJobInfo(i) is not None:
            i += 1
        return i

    def _collect_jobs(self, op: Span) -> None:
        """Turn the jobs submitted since the previous op into child spans
        of the layer call whose job group they carry (or, for jobs run by
        Spark's own threads, of the innermost span open when they were
        submitted), and add their stage and SQL counters."""
        end = self._first_unseen_job(self._next_job)
        ids = list(range(self._next_job, end))
        self._next_job = end
        mine = [s for s in self.spans if s.trace_id == op.trace_id]
        by_group = {f"pb-{s.span_id}": s for s in mine}
        job_ids = set(ids)
        for jid in ids:
            job = self._job_when_done(jid)
            start = _rest_time(job.get("submissionTime")) or op.start
            finish = _rest_time(job.get("completionTime")) or start
            parent = by_group.get(job.get("jobGroup") or "")
            if parent is None:
                inside = [s for s in mine if s.start <= start <= s.end]
                parent = max(inside, key=lambda s: s.start) if inside else op
            self._ids += 1
            self.spans.append(
                Span(JOB, start, finish, self._ids, parent.span_id, op.trace_id,
                     {"job_id": jid, "layer": parent.name, "status": job.get("status")})
            )
            self.counters["spark.jobs"] += 1
            for sid in job.get("stageIds", []):
                for attempt in self._api.get(f"stages/{sid}") or []:
                    if attempt.get("status") != "COMPLETE":
                        continue
                    for fld, (counter, scale) in STAGE_COUNTERS.items():
                        self.counters[counter] += attempt.get(fld, 0) * scale
        self._collect_python_bytes(job_ids)

    def _job_when_done(self, jid: int, timeout: float = 5.0) -> dict:
        """The job's status record, once the listener bus has recorded
        its end (the op returns before the status store catches up)."""
        deadline = time.time() + timeout
        while True:
            job = self._api.get(f"jobs/{jid}") or {}
            if job.get("completionTime") or time.time() > deadline:
                return job
            time.sleep(0.02)

    def _collect_python_bytes(self, job_ids: set[int]) -> None:
        execs = self._api.get(
            f"sql?details=true&planDescription=false&offset={self._sql_seen}&length=100000"
        ) or []
        self._sql_seen += len(execs)
        for ex in execs:
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if ran and not ran & job_ids:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") in PYTHON_METRICS:
                        self.counters["spark.python_mb"] += parse_size(m["value"]) / 1e6

    def cached(self) -> tuple[int, float]:
        """(cached RDDs, their MB in memory and on disk) right now."""
        if not self._spark_on:
            return 0, 0.0
        rdds = self._api.get("storage/rdd") or []
        mb = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds) / 1e6
        return len(rdds), mb

    def close(self) -> None:
        self.unwrap_all()
        if self._spark_on:
            self._api.close()

    def dump(self, path: str, context: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"context": context, "spans": [asdict(s) for s in self.spans]}, f
            )
