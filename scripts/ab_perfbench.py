"""Interleaved A/B of perfbench between a base revision and the working tree.

    python3 scripts/ab_perfbench.py --base <rev> [--pairs 10]
        [--workloads backfill_trickle,query_suite] [--seeds 42,7]
        [--seconds 10] [--workdir DIR] [--out runs.json]

Exports ``<rev>`` with ``git archive`` into ``--workdir/base`` (reused when
it already holds that commit; no ``git worktree`` metadata is added to the
repository) and copies the working tree's tracked and untracked-but-not-ignored
files into a fresh ``--workdir/change`` on every invocation, so both sides run
from sibling copies of the same shape. It then runs ``perfbench/run.py`` in
the two copies for each pair, one process at a time. The side that runs
first alternates from pair to pair, and pair ``i`` uses seed
``seeds[i % len(seeds)]`` on both sides, so host drift hits both sides
alike.

For each workload it prints, per end-to-end metric of BENCHMARK.json,
each side's median and quartiles, the change's median relative to the
base, the number of pairs the change won (ties count for neither side)
and a verdict:

* ``gain``: the change won at least nine tenths of the pairs and the
  medians differ, in the better direction, by more than the base's
  interquartile range;
* ``worse>bound``: the change's median is worse than the base's by
  more than the metric's bound;
* ``flat``: neither.

It also prints each side's failed-operation ratio and any run whose
checks did not pass. Exit status is 1 when a run failed or was
incorrect, else 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_base(rev: str, dest: str) -> str:
    """Extract ``rev``'s committed files into ``dest``; return its hash."""
    sha = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "--verify", f"{rev}^{{commit}}"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    marker = os.path.join(dest, ".ab_base_rev")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == sha:
                return sha
        raise SystemExit(f"{dest} holds another revision; pass a fresh --workdir")
    os.makedirs(dest, exist_ok=True)
    with tempfile.TemporaryFile() as tar:
        subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", sha], check=True, stdout=tar)
        tar.seek(0)
        with tarfile.open(fileobj=tar) as tf:
            tf.extractall(dest, filter="data")
    with open(marker, "w") as f:
        f.write(sha)
    return sha


def copy_change(dest: str) -> None:
    """Copy the working tree's tracked and unignored files into a fresh ``dest``."""
    files = subprocess.run(
        ["git", "-C", ROOT, "ls-files", "-z", "-co", "--exclude-standard"],
        check=True, capture_output=True, text=True,
    ).stdout.split("\0")
    shutil.rmtree(dest, ignore_errors=True)
    for rel in files:
        src = os.path.join(ROOT, rel)
        if not rel or not os.path.isfile(src):  # deleted but still in the index
            continue
        os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
        shutil.copy2(src, os.path.join(dest, rel))


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One perfbench process; returns its closing JSON object."""
    try:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=tree, capture_output=True, text=True, timeout=1800,
        )
    except subprocess.TimeoutExpired:
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}, "error": "timeout"}
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        tail = (proc.stderr or proc.stdout)[-2000:]
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}, "error": tail}
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(base: list[float], change: list[float], better: str, bound: float) -> dict:
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for b, c in zip(base, change) if sign * (c - b) > 0)
    bq1, bmed, bq3 = quartiles(base)
    cq1, cmed, cq3 = quartiles(change)
    rel = (cmed - bmed) / bmed if bmed else 0.0
    if wins >= 0.9 * len(base) and sign * (cmed - bmed) > (bq3 - bq1):
        v = "gain"
    elif -sign * rel > bound:
        v = "worse>bound"
    else:
        v = "flat"
    return {
        "base": (bq1, bmed, bq3), "change": (cq1, cmed, cq3),
        "rel": rel, "wins": wins, "pairs": len(base), "verdict": v,
    }


def report(workload: str, runs: list[dict], spec: list[dict]) -> bool:
    """Print one workload's table; return True when every run was ok."""
    ok = True
    for r in runs:
        for side in ("base", "change"):
            res = r[side]
            if not res["correct"] or res["failed"]:
                ok = False
                print(f"  pair {r['pair']} {side} seed {r['seed']}: correct={res['correct']} "
                      f"failed={res['failed']} {res.get('error', '')}")
    good = [r for r in runs if r["base"]["metrics"] and r["change"]["metrics"]]
    print(f"{workload}: {len(good)} pairs, seeds {sorted({r['seed'] for r in runs})}")
    print(f"  {'metric':<22} {'base q1/med/q3':>26} {'change q1/med/q3':>26} "
          f"{'change':>8} {'wins':>6}  verdict")
    for m in spec:
        name = m["name"]
        base = [r["base"]["metrics"][name]["value"] for r in good if name in r["base"]["metrics"]]
        change = [r["change"]["metrics"][name]["value"] for r in good if name in r["change"]["metrics"]]
        if not base or len(base) != len(change):
            continue
        v = verdict(base, change, m["better"], m["bound"])
        fmt = "{:.4g}/{:.4g}/{:.4g}"
        print(f"  {name:<22} {fmt.format(*v['base']):>26} {fmt.format(*v['change']):>26} "
              f"{v['rel']:>+8.1%} {v['wins']:>3}/{v['pairs']:<2}  {v['verdict']}")
    for side in ("base", "change"):
        att = sum(r[side]["attempted"] for r in runs)
        fail = sum(r[side]["failed"] for r in runs)
        print(f"  ops_failed_ratio {side}: {fail}/{att}")
    return ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default="backfill_trickle,query_suite")
    ap.add_argument("--seeds", default="42,7", help="comma-separated; pair i uses seed i mod n")
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--workdir", default=os.path.join(tempfile.gettempdir(), "ab_perfbench"),
                    help="where the base revision is exported and the working tree copied")
    ap.add_argument("--out", help="write every run's JSON here")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["end_to_end"]
    seeds = [int(s) for s in args.seeds.split(",")]
    base_tree = os.path.join(args.workdir, "base")
    change_tree = os.path.join(args.workdir, "change")
    sha = export_base(args.base, base_tree)
    copy_change(change_tree)
    print(f"base {sha[:12]} at {base_tree}; change = working tree of {ROOT} "
          f"copied to {change_tree}", flush=True)

    all_runs: dict[str, list[dict]] = {}
    for workload in args.workloads.split(","):
        runs = all_runs.setdefault(workload, [])
        for i in range(args.pairs):
            seed = seeds[i % len(seeds)]
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {"pair": i, "seed": seed, "first": order[0]}
            for side in order:
                tree = base_tree if side == "base" else change_tree
                pair[side] = run_once(tree, workload, seed, args.seconds)
            runs.append(pair)
            print(f"{workload} pair {i} seed {seed} first {order[0]} done", flush=True)
            if args.out:
                with open(args.out, "w") as f:
                    json.dump({"base": sha, "runs": all_runs}, f, indent=1)

    ok = True
    for workload, runs in all_runs.items():
        ok = report(workload, runs, spec) and ok
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
