"""Per-layer metrics of a traced run.

Layers are named after the engine's modules. ``PER_LAYER`` lists every
metric with its unit, which direction is better, and the end-to-end
metric (and workload) it is expected to move. ``compute`` turns the
spans of the traced pass and the parsed event log into values. A layer a
workload does not exercise reports 0.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from query_suite import BENCH_QUERIES
from tracing import PY_INIT, PY_RECV, PY_RUN, PY_SENT, PY_START, merged, union_length

_W = "backfill_trickle"
_LAT = f"batch_latency_p50_s/tail_s @ {_W}"
_LAG = f"replica_lag_p50_s/tail_s @ {_W}"
_EPS = f"events_per_s @ {_W}"
_SUITE = "suite_wall_s @ query_suite"

# CDC-layer metrics of one phase: (name, unit, better, what the trickle
# phase's value should move). The backfill phase reports the same list
# under a "backfill." prefix, and every one of those should move
# events_per_s.
_CDC: list[tuple[str, str, str, str]] = [
    ("cdc.runner.self_s", "s", "lower", _LAT),
    ("cdc.runner.jobs", "count", "lower", _LAT),
    ("cdc.merge.self_s", "s", "lower", _LAT),
    ("cdc.merge.jobs", "count", "lower", _LAT),
    ("cdc.merge.jobs_per_merge", "count", "lower", _LAT),
    ("cdc.merge.driver_gap_s", "s", "lower", _LAT),
    ("cdc.merge.driver_gap_per_batch_s", "s", "lower", _LAT),
    ("cdc.merge.shuffle_bytes", "bytes", "lower", f"{_LAT} (barely)"),
    ("cdc.merge.fetch_wait_s", "s", "lower", f"{_LAT} (barely)"),
    ("cdc.merge.spill_bytes", "bytes", "lower", f"{_LAT} (barely)"),
    ("functions.extract.python_run_s", "s", "lower", f"{_LAT} (barely)"),
    ("functions.extract.python_init_s", "s", "lower", f"{_LAT} (barely)"),
    ("functions.extract.bytes_to_python", "bytes", "lower", f"{_LAT} (barely)"),
    ("functions.extract.bytes_from_python", "bytes", "lower", f"{_LAT} (barely)"),
    ("lake.write.wall_s", "s", "lower", _LAT),
    ("lake.write.jobs", "count", "lower", _LAT),
    ("lake.write.bytes_written", "bytes", "lower", _LAT),
    ("lake.write.files_written", "count", "lower", _LAT),
    ("lake.write.amplification", "ratio", "lower", f"lake.bytes_written_per_event; {_LAT}"),
    ("lake.dirty_bucket_ratio", "ratio", "lower", f"lake.bytes_written_per_event; {_LAT}"),
    ("lake.bytes_written_per_event", "bytes/event", "lower", _LAT),
]

# (name, unit, better, what it should move)
PER_LAYER: list[tuple[str, str, str, str]] = [
    ("session.start_s", "s", "lower", "setup_s @ all"),
    ("sources.stage_s", "s", "lower", "setup_s @ all"),
    ("sources.staged_bytes", "bytes", "lower", "setup_s @ all"),
    *_CDC,
    ("lake.manifest_bytes", "bytes", "lower", f"batch_latency_tail_s @ {_W}"),
    ("lake.read_changes.wall_s", "s", "lower", _LAG),
    ("lake.read_changes.bytes_scanned", "bytes", "lower", _LAG),
    ("cdc.replicate.sync_s", "s", "lower", _LAG),
    ("cdc.replicate.jobs", "count", "lower", _LAG),
    ("cdc.replicate.rows_applied", "count", "higher", _LAG),
    *[(f"backfill.{n}", u, b, _EPS) for n, u, b, _ in _CDC],
    *[(f"queries.{q}.wall_s", "s", "lower", _SUITE) for q in BENCH_QUERIES],
    ("queries.plan_s", "s", "lower", _SUITE),
    ("queries.jobs", "count", "lower", _SUITE),
    ("queries.shuffle_bytes", "bytes", "lower", _SUITE),
    ("queries.python_run_s", "s", "lower", _SUITE),
    ("queries.leaked_persists", "count", "lower", f"{_SUITE}; peak_rss_mb @ query_suite"),
    ("trace.overhead_s", "s", "lower", "none: spans and job groups, traced minus untraced twin pass @ all"),
]

# Spark reports the Python-worker timings in milliseconds
_MS = 1e-3


def _size(root: str, rel: str) -> int:
    return os.path.getsize(os.path.join(root, rel))


def _gap(tracer, groups, sp) -> float:
    """Span wall minus the union of the intervals of the jobs run by the
    span and its descendants: driver time with no job running."""
    ivs = merged(groups, tracer.subtree(sp)).intervals
    return sp.wall - union_length(ivs, sp.start, sp.end)


def _cdc_phase(tracer, groups, phase: str, events: int) -> dict[str, float]:
    """The _CDC metrics over the spans of one workload phase."""
    out = {name: 0.0 for name, *_ in _CDC}
    runs, merges = tracer.named("cdc.runner", phase), tracer.named("cdc.merge", phase)
    writes = [
        w for w in tracer.named("lake.write", phase)
        if any(a.name == "cdc.merge" for a in tracer.ancestors(w))
    ]
    if runs:
        out["cdc.runner.self_s"] = sum(tracer.self_time(r) for r in runs)
        out["cdc.runner.jobs"] = merged(groups, runs).jobs
    if merges:
        whole = merged(groups, [s for m in merges for s in tracer.subtree(m)])
        gap = sum(_gap(tracer, groups, m) for m in merges)
        out["cdc.merge.self_s"] = sum(tracer.self_time(m) for m in merges)
        out["cdc.merge.jobs"] = merged(groups, merges).jobs
        out["cdc.merge.jobs_per_merge"] = whole.jobs / len(merges)
        out["cdc.merge.driver_gap_s"] = gap
        out["cdc.merge.driver_gap_per_batch_s"] = gap / len(merges)
        out["cdc.merge.shuffle_bytes"] = whole.shuffle_write_bytes
        out["cdc.merge.fetch_wait_s"] = whole.fetch_wait_s
        out["cdc.merge.spill_bytes"] = whole.spill_bytes
        out["functions.extract.python_run_s"] = whole.py.get(PY_RUN, 0) * _MS
        out["functions.extract.python_init_s"] = (
            whole.py.get(PY_START, 0) + whole.py.get(PY_INIT, 0)
        ) * _MS
        out["functions.extract.bytes_to_python"] = whole.py.get(PY_SENT, 0)
        out["functions.extract.bytes_from_python"] = whole.py.get(PY_RECV, 0)
    if writes:
        new_bytes = files = rewritten = changed = dirty = cand = 0
        for w in writes:
            root = w.attrs["root"]
            new = w.attrs["new_files"]
            logs = w.attrs["changelog_files"]
            new_bytes += sum(_size(root, p) for p in new + logs)
            files += len(new) + len(logs)
            rewritten += sum(pq.read_metadata(os.path.join(root, p)).num_rows for p in new)
            summary = w.attrs["summary"]
            counts = summary.get("counts") or {}
            changed += sum(int(counts.get(k, 0)) for k in ("insert", "update", "delete"))
            dirty += len(summary.get("dirty_buckets") or [])
            cand += len(summary.get("candidate_buckets") or [])
        out["lake.write.wall_s"] = sum(w.wall for w in writes)
        out["lake.write.jobs"] = merged(groups, writes).jobs
        out["lake.write.bytes_written"] = new_bytes
        out["lake.write.files_written"] = files
        out["lake.write.amplification"] = rewritten / changed if changed else 0.0
        out["lake.dirty_bucket_ratio"] = dirty / cand if cand else 0.0
        out["lake.bytes_written_per_event"] = new_bytes / events
    return out


def compute(tracer, groups, res: dict) -> dict[str, float]:
    out = {name: 0.0 for name, *_ in PER_LAYER}
    out["session.start_s"] = res["session_start_s"]
    out["sources.stage_s"] = res["stage_s"]
    out["sources.staged_bytes"] = res["staged_bytes"]
    if res.get("overhead_base_wall") is not None:
        out["trace.overhead_s"] = res["traced_wall"] - res["overhead_base_wall"]

    events = res.get("events") or {}
    if "trickle" in events:
        out.update(_cdc_phase(tracer, groups, "trickle", events["trickle"]))
        backfill = _cdc_phase(tracer, groups, "backfill", events["backfill"])
        out.update({f"backfill.{k}": v for k, v in backfill.items()})
        writes = tracer.named("lake.write", "trickle")
        last = max(
            (w for w in writes if any(a.name == "cdc.merge" for a in tracer.ancestors(w))),
            key=lambda w: w.attrs["snapshot_id"],
        )
        out["lake.manifest_bytes"] = _size(
            last.attrs["root"], os.path.join("_meta", f"v{last.attrs['snapshot_id']}.json")
        )
        rcs, syncs = tracer.named("lake.read_changes"), tracer.named("cdc.replicate")
        out["lake.read_changes.wall_s"] = sum(s.wall for s in rcs)
        out["lake.read_changes.bytes_scanned"] = sum(s.attrs["bytes_scanned"] for s in rcs)
        out["cdc.replicate.sync_s"] = sum(s.wall for s in syncs)
        out["cdc.replicate.jobs"] = merged(
            groups, [x for s in syncs for x in tracer.subtree(s)]
        ).jobs
        out["cdc.replicate.rows_applied"] = sum(s.attrs["rows_applied"] for s in syncs)

    builds, sinks = tracer.named("queries.build"), tracer.named("queries.sink")
    if builds:
        q = merged(groups, builds + sinks)
        for name, wall in res["traced_pass"]["walls"].items():
            out[f"queries.{name}.wall_s"] = wall
        out["queries.plan_s"] = sum(s.wall for s in builds)
        out["queries.jobs"] = q.jobs
        out["queries.shuffle_bytes"] = q.shuffle_write_bytes
        out["queries.python_run_s"] = q.py.get(PY_RUN, 0) * _MS
        out["queries.leaked_persists"] = res["traced_pass"]["leaked"]
    return out
