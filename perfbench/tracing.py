"""Spans, Spark job accounting and the sink footprint walk.

Tracing is recorded from the benchmark's side of the layer boundaries:
:class:`TracedSink` wraps the public ``ParquetSink`` calls the pipeline
makes, and the runner wraps ``process_batch`` and the reader query.
Every span also sets its own Spark job group, so the jobs and tasks a
layer ran are read back from ``SparkContext.statusTracker``.  Spans
stay in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


@dataclass
class Span:
    name: str
    detail: str
    start: float
    end: float
    #: label of the batch (or batch phase) the span belongs to
    batch: str | None
    #: the span's own Spark job group, and the group of the span that
    #: was open in the same thread when it started (None at top level)
    group: str
    parent: str | None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder; off (a pass-through) until enabled."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.enabled = False
        self.batch: str | None = None
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._seq = 0
        self._open = threading.local()

    @contextmanager
    def span(self, name: str, detail: str = ""):
        if not self.enabled:
            yield
            return
        with self._lock:
            self._seq += 1
            group = f"pb{self._seq}:{self.batch}:{name}"
        stack = self._open.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(group)
        sc = self.sc
        prev = (sc.getLocalProperty(_GROUP), sc.getLocalProperty(_DESC))
        sc.setJobGroup(group, f"{name} {detail}".strip())
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            sc.setLocalProperty(_GROUP, prev[0])
            sc.setLocalProperty(_DESC, prev[1])
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(name, detail, start, end, self.batch, group, parent)
                )


class JobCounter:
    """Spark jobs and completed tasks per job group, from statusTracker.

    Jobs that ran with no group are attributed to whatever window the
    caller is measuring: the loop has a single caller, so nothing else
    runs at the same time."""

    def __init__(self, sc) -> None:
        self.st = sc.statusTracker()
        self._untagged = set(self.st.getJobIdsForGroup(None))

    def new_untagged(self) -> list[int]:
        now = set(self.st.getJobIdsForGroup(None))
        fresh = sorted(now - self._untagged)
        self._untagged |= now
        return fresh

    def jobs(self, groups) -> list[int]:
        out: list[int] = []
        for g in groups:
            out.extend(self.st.getJobIdsForGroup(g))
        return out

    def tasks(self, job_ids) -> int:
        stages: set[int] = set()
        for j in job_ids:
            info = self.st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        n = 0
        for s in stages:
            info = self.st.getStageInfo(s)
            if info is not None:
                n += info.numCompletedTasks
        return n


class TracedSink(ParquetSink):
    """ParquetSink whose public calls record spans when tracing is on."""

    def __init__(self, *args, tracer: Tracer, **kw) -> None:
        self.tracer = tracer
        super().__init__(*args, **kw)

    def apply_changeset(self, db, table, changes):
        with self.tracer.span("sink.apply", f"{db}.{table}"):
            return super().apply_changeset(db, table, changes)

    def read_table(self, spark, db, table, *args, **kw):
        with self.tracer.span("sink.read_table", f"{db}.{table}"):
            return super().read_table(spark, db, table, *args, **kw)

    def analyze(self, db, table, *args, **kw):
        with self.tracer.span("sink.analyze", f"{db}.{table}"):
            return super().analyze(db, table, *args, **kw)

    def expire_tombstones(self, db, table, before_ts_ms):
        with self.tracer.span("sink.expire", f"{db}.{table}"):
            return super().expire_tombstones(db, table, before_ts_ms)


def write_spans(spans: list[Span], path: str) -> None:
    """Spans as JSON lines, times in ms from the first span's start."""
    t0 = min((s.start for s in spans), default=0.0)
    with open(path, "w") as f:
        for s in spans:
            rec = {
                "name": s.name,
                "detail": s.detail,
                "batch": s.batch,
                "group": s.group,
                "parent": s.parent,
                "start_ms": (s.start - t0) * 1000.0,
                "end_ms": (s.end - t0) * 1000.0,
            }
            f.write(json.dumps(rec) + "\n")


def covered(intervals) -> float:
    """Seconds of the union of (start, end) intervals."""
    total = 0.0
    end = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


# -- sink footprint: a directory walk, no Spark jobs --------------------------
def version_files(sink: ParquetSink, db: str, table: str) -> dict:
    """{(dev, inode): bytes} of the data files of the newest version
    directory (``<root>/<db>/<table>/v<N>``)."""
    out: dict = {}
    versions = sink.versions(db, table)
    if not versions:
        return out
    top = os.path.join(sink.root, db, table, f"v{versions[-1]}")
    for dirpath, _dirs, files in os.walk(top):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, f))
                out[(st.st_dev, st.st_ino)] = st.st_size
    return out


def committed(before: dict, after: dict) -> tuple[int, int]:
    """Files and bytes in ``after`` that are not hard links of ``before``."""
    fresh = [b for k, b in after.items() if k not in before]
    return len(fresh), sum(fresh)


def state_footprint(root: str) -> tuple[int, int]:
    """(bytes, versions) under a sink root: distinct inodes, so a
    partition hard-linked forward counts once."""
    seen: set = set()
    nbytes = 0
    versions = 0
    for dirpath, dirs, files in os.walk(root):
        versions += sum(
            1 for d in dirs if d.startswith("v") and d[1:].isdigit()
        )
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                nbytes += st.st_size
    return nbytes, versions
