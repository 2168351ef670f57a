"""SCD2 state-lookup A/B: plain is_current scan vs frontier pruning.

The design-point shape: a SMALL batch against a LARGE existing
history. Plain mode must scan the history's is_current slice to find
open rows; frontier mode does two bucket-pruned reads. Both runners
then apply identical merges, so the wall delta isolates the lookup.

Usage: python scripts/scd2_frontier_bench.py [n_entities] [batch_events] [--out path]
"""

from __future__ import annotations

import json
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from dbp_etl_spark.cdc.scd import SCD2Runner, frontier_schema, scd2_schema  # noqa: E402
from dbp_etl_spark.lake import LakeTable  # noqa: E402
from dbp_etl_spark.session import get_spark  # noqa: E402


def mk_events(spark, n, n_entities, ts_base, batch_id, payload_bytes=0):
    # payload_bytes pads html toward a realistic page size: the plain
    # mode's per-batch cost is a full history scan INCLUDING payloads
    # (the open-row semi-join can't push entity predicates into the
    # scan), so benching with 10-byte pages understates exactly the
    # cost the frontier exists to avoid (r4 bench shape; Common-Crawl
    # pages are tens of KB). The pad is a per-row md5 chain — hex is
    # ~2x snappy-compressible, close to real HTML's 3-5x, where an
    # 'x'-repeat would RLE away to nothing and rig the bench the other
    # way.
    rid = F.col("id")
    pad = (
        F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(0), F.lit(int(payload_bytes) // 32 - 1)),
                lambda k: F.md5(
                    F.concat(rid.cast("string"), F.lit(":"), k.cast("string"))
                ),
            ),
        )
        if payload_bytes >= 32
        else F.lit("")
    )
    return spark.range(n).select(
        F.concat(F.lit("https://host"), (rid % 97).cast("string"),
                 F.lit(".example/p"), (rid % n_entities).cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(ts_base) + rid).alias("warc_ts"),
        F.encode(F.concat(F.lit("<p>v"), rid.cast("string"), pad, F.lit("</p>")), "utf-8").alias("html"),
        F.lit("update").alias("op"),
        F.lit(batch_id).alias("batch_id"),
    )


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    out_path = sys.argv[sys.argv.index("--out") + 1] if "--out" in sys.argv else None
    n_entities = int(args[0]) if args else 400_000
    batch_n = int(args[1]) if len(args) > 1 else 20_000
    versions = int(args[2]) if len(args) > 2 else 3
    payload_bytes = int(args[3]) if len(args) > 3 else 0

    spark = get_spark(app_name="scd2-frontier-bench", cores=16, shuffle_partitions=32)
    root = tempfile.mkdtemp(prefix="scd2_fb_")
    seeds = [
        mk_events(spark, n_entities, n_entities, 1_700_000_000 + i * 3_000_000, i,
                  payload_bytes)
        for i in range(versions)
    ]
    small1 = mk_events(spark, batch_n, n_entities, 1_800_000_000, versions + 10,
                       payload_bytes)
    small2 = mk_events(spark, batch_n, n_entities, 1_810_000_000, versions + 11,
                       payload_bytes)

    def seeded(name, frontier):
        # merge-on-read history in BOTH modes: the history MERGE's
        # copy-on-write bucket rewrite is identical A/B noise at this
        # scale and drowns the lookup being measured
        hist = LakeTable.create(
            spark, f"{root}/{name}_hist", scd2_schema({}), key="url",
            num_buckets=64, merge_on_read=True,
        )
        fr = None
        if frontier:
            # merge-on-read: the frontier is touched on EVERY batch, so
            # its writes must be O(churn) deltas, not O(frontier-dirty-
            # bucket) rewrites — copy-on-write here measurably erases
            # the lookup win (first bench revision recorded 0.69x)
            fr = LakeTable.create(
                spark, f"{root}/{name}_fr", frontier_schema(), key="url",
                num_buckets=64, merge_on_read=True, max_delta_commits=16,
            )
        runner = SCD2Runner(hist, frontier=fr)
        for b, df in enumerate(seeds):
            runner.run(df)  # deep history: several versions per entity
        # post-seed maintenance: fold the seed churn so timed batches
        # read compacted bases
        runner.hist = runner.hist.compact(batch_id=f"{name}-seed-compact")
        if fr is not None:
            runner.frontier = runner.frontier.compact(batch_id=f"{name}-fr-compact")
        return runner

    def apply_small(runner, df):
        t0 = time.time()
        runner.run(df)
        return time.time() - t0

    # interleaved A/B on shared seeds: two timed small batches per mode
    plain = seeded("plain", False)
    front = seeded("front", True)
    t_plain_a = apply_small(plain, small1)
    t_front_a = apply_small(front, small1)
    t_front_b = apply_small(front, small2)
    t_plain_b = apply_small(plain, small2)

    def state(t):
        # project + hash distributed-side: never collect payload columns
        return t.read().select(
            F.md5(F.concat_ws("|", "entity_url", F.col("valid_from").cast("string"),
                              F.col("is_current").cast("string"))).alias("h")
        ).agg(F.count("*").alias("n"), F.sum(F.conv(F.substring("h", 1, 15), 16, 10)
                                             .cast("decimal(38,0)")).alias("s")).collect()[0]

    h1, h2 = state(plain.hist), state(front.hist)
    h1, h2 = (h1["n"], str(h1["s"])), (h2["n"], str(h2["s"]))
    res = {
        "n_entities": n_entities,
        "batch_events": batch_n,
        "history_versions": versions,
        "payload_bytes": payload_bytes,
        "history_data_bytes": front.hist.data_bytes()
        if hasattr(front.hist, "data_bytes") else None,
        "plain_lookup_apply_sec": round(min(t_plain_a, t_plain_b), 2),
        "frontier_lookup_apply_sec": round(min(t_front_a, t_front_b), 2),
        "speedup": round(min(t_plain_a, t_plain_b) / min(t_front_a, t_front_b), 2),
        "state_identical": h1 == h2,
        "raw": {"plain": [round(t_plain_a, 2), round(t_plain_b, 2)],
                "frontier": [round(t_front_a, 2), round(t_front_b, 2)]},
    }
    print(json.dumps(res))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(res, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
