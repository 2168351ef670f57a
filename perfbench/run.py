"""Benchmark of the CDC engine, end to end and per layer.

    python3 perfbench/run.py --workload <backfill_trickle|query_suite>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Every input is generated from --seed
inside ``.perfbench_work/`` under the checkout, which is removed at the
end. Prints every metric by name with its unit, the set-up breakdown,
the CPU-quota probes and the correctness checks, and as its last line
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` a separate traced pass reports the per-layer ones.

See perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (name, unit, better)
END_TO_END = [
    ("events_per_s", "1/s", "higher"),
    ("batch_latency_p50_s", "s", "lower"),
    ("batch_latency_tail_s", "s", "lower"),
    ("replica_lag_p50_s", "s", "lower"),
    ("replica_lag_tail_s", "s", "lower"),
    ("suite_wall_s", "s", "lower"),
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    tracer: object
    cores: int
    rss: object  # harness.RssSampler; workloads open it around measured work

    def traced(self, phase: str):
        """Instrument the engine's CDC calls, in a traced run only."""
        if not self.trace:
            return nullcontext()
        from tracing import instrument_engine

        return instrument_engine(self.tracer, phase)


def cpu_probe(procs: int, iters: int = 3_000_000) -> float:
    """Wall seconds for ``procs`` interpreter processes to each run the
    same loop. Near the one-process time on an unthrottled host; a CPU
    quota clamped by the host reads as a multiple of it."""
    code = f"s = 0\nfor i in range({iters}):\n    s += i\n"
    t0 = time.perf_counter()
    children = [subprocess.Popen([sys.executable, "-I", "-c", code]) for _ in range(procs)]
    for c in children:
        c.wait()
    return time.perf_counter() - t0


@contextmanager
def spark_process(work: str, cores: int, event_log: str | None):
    """Start the session; on exit stop it, then stop the JVM and wait for
    it and every process under it to end."""
    import harness
    from pyspark import SparkContext

    spark = harness.start_session(work, cores, event_log)
    try:
        yield spark
    finally:
        procs = harness.descendants(os.getpid())
        spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        harness.wait_gone(procs)


def run_workload(name: str, ctx: Ctx) -> dict:
    if name == "query_suite":
        import query_suite

        return query_suite.run(ctx)
    import cdc_workloads

    return cdc_workloads.backfill_trickle(ctx)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["backfill_trickle", "query_suite"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # the engine is imported from the checkout root, by this process and
    # by the Python workers Spark starts; the oracle gate's value hash
    # comes from its scripts/
    sys.path.insert(0, ROOT)
    sys.path.append(os.path.join(ROOT, "scripts"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        import dbp_etl_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    import harness

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["MALLOC_ARENA_MAX"] = "2"
    cores = harness.host_cores()
    try:
        return measure(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


def measure(args, work: str, cores: int) -> int:
    import harness
    import layers

    probe_before = cpu_probe(cores)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    rss = harness.RssSampler()
    t_session = time.perf_counter()
    with spark_process(work, cores, event_log) as spark:
        session_start_s = time.perf_counter() - t_session
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark.sparkContext)
        ctx = Ctx(spark, work, args.seed, args.seconds, bool(args.trace), tracer, cores, rss)
        res = run_workload(args.workload, ctx)
    probe_after = cpu_probe(cores)
    res["session_start_s"] = session_start_s

    setup_s = session_start_s + sum(res["setup_parts"].values())
    e2e = dict(res["e2e"], setup_s=setup_s, peak_rss_mb=rss.peak_mb)
    units = {n: u for n, u, _ in END_TO_END}
    lines = [f"{n:<24} {harness.fmt_value(e2e[n]):>14} {units[n]}" for n, *_ in END_TO_END]
    failed_ratio = harness.fmt_value(res["failed"] / res["attempted"])
    lines.append(f"{'ops_failed_ratio':<24} {failed_ratio:>14} ratio")
    if args.trace:
        from tracing import parse_event_log

        values = layers.compute(tracer, parse_event_log(event_log), res)
        metrics = {n: {"value": values[n], "unit": u} for n, u, *_ in layers.PER_LAYER}
        lines += [
            f"{n:<40} {harness.fmt_value(values[n]):>14} {u:<11} moves {moves}"
            for n, u, _b, moves in layers.PER_LAYER
        ]
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u, _ in END_TO_END}

    print(f"workload {args.workload} seed {args.seed} cores {cores} "
          f"driver heap {harness.driver_heap_mb()}m trace {args.trace}")
    print(f"cpu probe ({cores} procs): before {probe_before:.3f} s, after {probe_after:.3f} s")
    setup = {"session_start_s": session_start_s, **res["setup_parts"]}
    print("setup: " + ", ".join(f"{k} {v:.3f}" for k, v in setup.items()))
    for k, v in res["notes"].items():
        print(f"{k}: {v}")
    print("\n".join(lines))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
