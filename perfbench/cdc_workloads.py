"""The CDC workload, backfill_trickle: a bulk backfill into an empty
table (throughput), then a closed-loop trickle of small batches on the
backfilled table with a replica kept in sync (latency).

It drives the engine only through ``generate_changes``,
``CDCRunner.stage_by_batch``/``run``, ``LakeTable`` and
``TableReplicator.sync``, with the runner's shipped defaults.
"""

from __future__ import annotations

import os
import statistics
import time

import harness

# the backfill: BULK_EVENTS change events over BULK_URLS urls in two
# batches, 20% of them on 4 hot urls, into an empty 32-bucket table
BULK_EVENTS = 60_000
BULK_URLS = 15_000
BULK_BATCHES = 2
BULK_BUCKETS = 32
# state hash after the backfill for seed 42 at the sizes above
BULK_SEED42_HASH = "13639:-757772253866239298744"
# the backfill's untimed warm-up: the same shape at a tenth of the size,
# into a throwaway table, so the measured backfill runs on a warm engine
# (compiled code paths, Python workers started); a cold backfill's wall
# varied by about a fifth from run to run
BULK_WARMUP_SHARE = 10

# the trickle: TRICKLE_BATCH-event batches (about 1% of the table; 85%
# updates, 10% deletes, no hot keys), every event newer than the backfill
TRICKLE_BATCH = 150
TRICKLE_PASS = 2  # batches per measured pass
TRICKLE_MAX_PASSES = 4
# untimed tail batches (apply + sync) before the first measured pass:
# the first small merge after the backfill runs slower than the steady state
TRICKLE_WARMUP = 1
TRICKLE_TS_SHIFT_S = 10_000_000

SETUP_REPEATS = 2


def page_schema():
    from pyspark.sql import types as T

    from dbp_etl_spark.lake import TableSchema

    return TableSchema.from_struct(
        T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("html", T.BinaryType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
            ]
        )
    )


def _new_table(spark, path: str, **options):
    from dbp_etl_spark.lake import LakeTable

    return LakeTable.create(
        spark, path, page_schema(), key="url", num_buckets=BULK_BUCKETS, **options
    )


def _stage(changes, base: str, repeats: int = 1):
    """Stage the change log ``repeats`` times. Returns the last staged
    copy read back, its bytes, and the median staging time."""
    from dbp_etl_spark.cdc import CDCRunner

    times = []
    for i in range(repeats):
        path = f"{base}-{i}"
        t0 = time.perf_counter()
        staged = CDCRunner.stage_by_batch(changes, path)
        times.append(time.perf_counter() - t0)
    return staged, harness.dir_bytes(path), statistics.median(times)


def backfill_trickle(ctx) -> dict:
    from pyspark.sql import functions as F

    from dbp_etl_spark.cdc import CDCRunner, generate_changes
    from dbp_etl_spark.cdc.replicate import TableReplicator

    spark, work = ctx.spark, ctx.work
    # warm-up batches, the measured passes and a traced run's untraced twin
    n_tail = TRICKLE_WARMUP + TRICKLE_PASS * (TRICKLE_MAX_PASSES + 1)

    # set-up: stage the backfill log (repeated; the median is reported)
    # and the tail (batch ids after the backfill's, every event newer
    # than it)
    log, log_bytes, stage_log_s = _stage(
        generate_changes(
            spark, BULK_EVENTS, BULK_URLS, n_batches=BULK_BATCHES,
            hot_fraction_pct=20, hot_urls=4, seed=ctx.seed,
        ),
        os.path.join(work, "log"),
        repeats=SETUP_REPEATS,
    )
    tail, tail_bytes, stage_tail_s = _stage(
        generate_changes(
            spark, n_tail * TRICKLE_BATCH, BULK_URLS, n_batches=n_tail,
            update_pct=85, delete_pct=10, hot_fraction_pct=0, seed=ctx.seed + 1,
        ).select(
            "url",
            (F.col("warc_ts") + F.expr(f"INTERVAL {TRICKLE_TS_SHIFT_S} SECONDS")).alias("warc_ts"),
            "html",
            "op",
            (F.col("batch_id") + BULK_BATCHES).alias("batch_id"),
        ),
        os.path.join(work, "tail"),
    )
    first_tail = BULK_BATCHES
    batches = [tail.filter(F.col("batch_id") == first_tail + i) for i in range(n_tail)]

    # untimed warm-up of the backfill (see BULK_WARMUP_SHARE)
    t0 = time.perf_counter()
    warm_log = CDCRunner.stage_by_batch(
        generate_changes(
            spark, BULK_EVENTS // BULK_WARMUP_SHARE, BULK_URLS // BULK_WARMUP_SHARE,
            n_batches=BULK_BATCHES, hot_fraction_pct=20, hot_urls=4, seed=ctx.seed + 2,
        ),
        os.path.join(work, "warm-log"),
    )
    CDCRunner(_new_table(spark, os.path.join(work, "warm"), changelog=True)).run(warm_log)
    warmup_s = time.perf_counter() - t0

    # measured: the backfill into an empty table
    source = _new_table(spark, os.path.join(work, "source"), changelog=True)
    runner = CDCRunner(source)
    with ctx.rss:
        t0 = time.perf_counter()
        with ctx.traced("backfill"):
            runner.run(log)
        backfill_wall = time.perf_counter() - t0
    checks = []
    if ctx.seed == 42:
        got = runner.table.state_hash()
        if got != BULK_SEED42_HASH:
            checks.append(f"seed 42 backfill {got} != pinned {BULK_SEED42_HASH}")

    # the trickle: closed loop, one client, on the backfilled table; its
    # untimed warm-up is the bootstrap of the replica and the first
    # TRICKLE_WARMUP batches (below)
    t0 = time.perf_counter()
    repl = TableReplicator(runner.table, _new_table(spark, os.path.join(work, "replica")))
    repl.sync()
    applied = 0

    def cycle() -> tuple[float, float]:
        nonlocal applied
        t0 = time.perf_counter()
        runner.run(batches[applied])
        t1 = time.perf_counter()
        repl.sync()
        applied += 1
        return t1 - t0, time.perf_counter() - t0

    def one_pass() -> dict:
        apply, lag = [], []
        for _ in range(TRICKLE_PASS):
            a, l_ = cycle()
            apply.append(a)
            lag.append(l_)
        return {"apply": apply, "lag": lag}

    warmup_lag = [cycle()[1] for _ in range(TRICKLE_WARMUP)]
    warmup_s += time.perf_counter() - t0

    # a traced run measures exactly one pass, with the engine instrumented
    with ctx.rss, ctx.traced("trickle"):
        passes = harness.run_passes(ctx.seconds, one_pass, ctx.trace, TRICKLE_MAX_PASSES)
    # a traced run follows its traced pass with an untraced twin in the
    # same session, event log on; the difference is the cost of the spans
    # and job groups (the twin is the warmer, so it reads high if at all)
    overhead_base = sum(one_pass()["lag"]) if ctx.trace else None

    # checks: replica == source == one fused group commit of the whole
    # log (backfill and every tail batch applied) onto a clone of the
    # table's empty first snapshot
    src_hash = runner.table.state_hash()
    rep_hash = repl.target.state_hash()
    if rep_hash != src_hash:
        checks.append(f"replica {rep_hash} != source {src_hash}")
    clone = runner.table.clone_to(os.path.join(work, "clone"), snapshot_id=0)
    n_applied = BULK_BATCHES + applied
    CDCRunner(clone).run(
        log.unionByName(tail).filter(F.col("batch_id") < n_applied), fuse=n_applied
    )
    fused_hash = clone.state_hash()
    if fused_hash != src_hash:
        checks.append(f"fused apply {fused_hash} != source {src_hash}")

    apply = [a for p in passes for a in p["apply"]]
    lag = [x for p in passes for x in p["lag"]]
    a_s, l_s = harness.summarize(apply), harness.summarize(lag)
    # each measured trickle batch is one apply and one sync
    trickle_ops = 2 * len(apply)
    return {
        "e2e": {
            "events_per_s": BULK_EVENTS / backfill_wall,
            "batch_latency_p50_s": a_s["p50"],
            "batch_latency_tail_s": a_s["tail"],
            "replica_lag_p50_s": l_s["p50"],
            "replica_lag_tail_s": l_s["tail"],
            "suite_wall_s": backfill_wall + statistics.median(p["wall"] for p in passes),
        },
        "notes": {
            "backfill_wall_s": backfill_wall,
            "trickle_warmup_lag_s": [round(x, 3) for x in warmup_lag],
            "trickle_passes": len(passes),
            "trickle_batches_timed": len(apply),
            "tail_percentile": a_s["tail_pct"],
            "checks": checks or "replica == source == fused apply of the whole log",
        },
        "setup_parts": {"stage_s": stage_log_s + stage_tail_s, "warmup_s": warmup_s},
        "stage_s": stage_log_s + stage_tail_s,
        "staged_bytes": log_bytes + tail_bytes,
        "events": {"backfill": BULK_EVENTS, "trickle": TRICKLE_BATCH * TRICKLE_PASS},
        "attempted": BULK_BATCHES + trickle_ops,
        "failed": BULK_BATCHES + trickle_ops if checks else 0,
        "correct": not checks,
        "overhead_base_wall": overhead_base,
        "traced_wall": sum(passes[-1]["lag"]),
    }
