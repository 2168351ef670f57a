"""Spans recorded from the benchmark's side and the Spark event log.

A traced run wraps the engine's public calls (``CDCRunner.run``,
``merge_batch`` as the runner calls it, ``LakeTable.overwrite_buckets``,
``LakeTable.read_changes``, ``TableReplicator.sync``) and the query
build/sink steps. Each span sets its own Spark job group, so every job
the event log records can be attributed to exactly one span. After the
session stops, the event log is parsed for the jobs of each group:
their intervals, shuffle, fetch wait, spill and the Python-worker
metrics Spark reports for Arrow/pandas UDF operators.

Untraced runs install none of this.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"
_INTERRUPT = "spark.job.interruptOnCancel"

# SQL metric names of Spark's Python-worker operators (ArrowEvalPython,
# MapInArrow, ...), as they appear in task-end accumulables.
PY_RUN = "time to run Python workers"
PY_INIT = "time to initialize Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
_PY_METRICS = (PY_RUN, PY_INIT, PY_START, PY_SENT, PY_RECV)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: str
    start: float
    phase: str = ""
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; each span owns one Spark job group and
    is tagged with the workload phase current when it started."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.phase = ""
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sc = self.sc
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, parent, f"perfbench-{sid}", time.time(), self.phase, attrs=attrs)
        prev = {k: sc.getLocalProperty(k) for k in (_GROUP, _DESC, _INTERRUPT)}
        sc.setJobGroup(sp.group, name)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            for k, v in prev.items():
                sc.setLocalProperty(k, v)

    # ------------------------------------------------------- structure

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def ancestors(self, sp: Span) -> list[Span]:
        out, p = [], sp.parent
        while p is not None:
            out.append(self.spans[p])
            p = self.spans[p].parent
        return out

    def named(self, name: str, phase: str | None = None) -> list[Span]:
        return [
            s for s in self.spans if s.name == name and (phase is None or s.phase == phase)
        ]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        return sp.wall - union_length(
            [(c.start, c.end) for c in self.children(sp)], sp.start, sp.end
        )


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ------------------------------------------------------ engine wrappers


@contextmanager
def instrument_engine(tracer: Tracer, phase: str):
    """Wrap the engine's public CDC calls in spans tagged ``phase`` for
    the duration of the block; the originals are restored on exit."""
    from dbp_etl_spark.cdc import replicate, runner
    from dbp_etl_spark.lake.table import LakeTable

    orig = {
        "run": runner.CDCRunner.run,
        "merge_batch": runner.merge_batch,
        "overwrite_buckets": LakeTable.overwrite_buckets,
        "read_changes": LakeTable.read_changes,
        "sync": replicate.TableReplicator.sync,
    }

    def run(self, *a, **kw):
        with tracer.span("cdc.runner"):
            return orig["run"](self, *a, **kw)

    def merge_batch(*a, **kw):
        with tracer.span("cdc.merge"):
            return orig["merge_batch"](*a, **kw)

    def overwrite_buckets(self, *a, **kw):
        with tracer.span("lake.write", root=self.root) as sp:
            before = {f["path"] for f in self.manifest["files"]}
            out = orig["overwrite_buckets"](self, *a, **kw)
            m = self.manifest
            sp.attrs["new_files"] = [
                f["path"] for f in m["files"] if f["path"] not in before
            ]
            summary = m.get("summary") or {}
            sp.attrs["changelog_files"] = list(summary.get("changelog_files") or [])
            sp.attrs["summary"] = summary
            sp.attrs["snapshot_id"] = m["snapshot_id"]
            return out

    def read_changes(self, *a, **kw):
        with tracer.span("lake.read_changes") as sp:
            df = orig["read_changes"](self, *a, **kw)
            files = df.inputFiles()
            sp.attrs["bytes_scanned"] = sum(_file_size(p) for p in files)
            return df

    def sync(self, *a, **kw):
        with tracer.span("cdc.replicate") as sp:
            res = orig["sync"](self, *a, **kw)
            sp.attrs["rows_applied"] = sum(
                int(res.counts.get(k, 0)) for k in ("upsert", "delete")
            )
            return res

    tracer.phase = phase
    runner.CDCRunner.run = run
    runner.merge_batch = merge_batch
    LakeTable.overwrite_buckets = overwrite_buckets
    LakeTable.read_changes = read_changes
    replicate.TableReplicator.sync = sync
    try:
        yield
    finally:
        tracer.phase = ""
        runner.CDCRunner.run = orig["run"]
        runner.merge_batch = orig["merge_batch"]
        LakeTable.overwrite_buckets = orig["overwrite_buckets"]
        LakeTable.read_changes = orig["read_changes"]
        replicate.TableReplicator.sync = orig["sync"]


def _file_size(uri: str) -> int:
    path = uri[len("file:") :] if uri.startswith("file:") else uri
    while path.startswith("//"):
        path = path[1:]
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


# ---------------------------------------------------------- event log


@dataclass
class GroupStats:
    jobs: int = 0
    intervals: list = field(default_factory=list)
    shuffle_write_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    py: dict = field(default_factory=dict)

    def add(self, other: "GroupStats") -> None:
        self.jobs += other.jobs
        self.intervals += other.intervals
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.fetch_wait_s += other.fetch_wait_s
        self.spill_bytes += other.spill_bytes
        for k, v in other.py.items():
            self.py[k] = self.py.get(k, 0) + v


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: job count and intervals, shuffle bytes written,
    fetch wait, spill and the Python-worker SQL metrics (summed raw)."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    groups: dict[str, GroupStats] = {}
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get(_GROUP)
                if g is None:
                    continue
                jid = e["Job ID"]
                job_group[jid] = g
                job_start[jid] = e["Submission Time"] / 1000.0
                for sid in e.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
                groups.setdefault(g, GroupStats()).jobs += 1
            elif kind == "SparkListenerJobEnd":
                jid = e["Job ID"]
                if jid in job_group:
                    groups[job_group[jid]].intervals.append(
                        (job_start[jid], e["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(e["Stage ID"])
                tm = e.get("Task Metrics")
                if g is None or tm is None:
                    continue
                st = groups[g]
                st.shuffle_write_bytes += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                st.fetch_wait_s += tm["Shuffle Read Metrics"]["Fetch Wait Time"] / 1000.0
                st.spill_bytes += tm["Disk Bytes Spilled"]
                for acc in e["Task Info"].get("Accumulables", []):
                    name = acc.get("Name")
                    if name in _PY_METRICS and acc.get("Update") is not None:
                        st.py[name] = st.py.get(name, 0) + int(acc["Update"])
    return groups


def merged(groups: dict[str, GroupStats], spans) -> GroupStats:
    out = GroupStats()
    for s in spans:
        if s.group in groups:
            out.add(groups[s.group])
    return out
