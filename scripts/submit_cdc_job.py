"""spark-submit entry point for the CDC apply job.

Usage (the north-rule invocation shape):

    python -m zipfile -c /tmp/dbp_etl_spark.zip dbp_etl_spark
    spark-submit --master <cluster> --py-files /tmp/dbp_etl_spark.zip \
        scripts/submit_cdc_job.py \
        --table /data/pages --events /data/changes [--create] \
        [--salt-buckets 32] [--lineage-path DIR] [--fuse N] \
        [--synthetic N --urls M --batches K]

Tails the change-event parquet at --events (or generates a
deterministic synthetic log with --synthetic) and applies it to the
lake table at --table with exactly-once MERGE semantics. Prints one
JSON line with throughput + final state hash.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--table", required=True, help="lake table root")
    p.add_argument("--events", help="parquet change-event directory")
    p.add_argument("--create", action="store_true", help="create the table if absent")
    p.add_argument(
        "--changelog",
        action="store_true",
        help="with --create: materialize row-level changes per commit "
        "(read_changes fast path + the lake_cdf streaming source)",
    )
    p.add_argument("--num-buckets", type=int, default=32)
    p.add_argument("--salt-buckets", type=int, default=32)
    p.add_argument("--errors-path")
    p.add_argument("--lineage-path")
    p.add_argument("--synthetic", type=int, help="generate N synthetic events instead of --events")
    p.add_argument("--urls", type=int, default=100000)
    p.add_argument("--batches", type=int, default=4)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument(
        "--fuse",
        type=int,
        default=1,
        help="group up to N consecutive uncommitted batches per MERGE (group commit)",
    )
    p.add_argument(
        "--snapshot",
        action="store_true",
        help="treat --events as a FULL dimension snapshot: value diff with "
        "inferred deletes (snapshot-compare mode); --snapshot-id names the batch",
    )
    p.add_argument("--snapshot-id", default="snapshot")
    p.add_argument(
        "--patch-ops",
        action="store_true",
        help="accept sparse op='patch' events (NULL payload column = unchanged)",
    )
    p.add_argument(
        "--retry-conflicts",
        type=int,
        default=0,
        help="multi-writer mode: retry CommitConflict N times with a fresh handle",
    )
    args = p.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import types as T

    # on a cluster, master/conf come from spark-submit; local fallback
    spark = SparkSession.builder.appName("cdc-apply").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from dbp_etl_spark.cdc import CDCRunner, generate_changes
    from dbp_etl_spark.lake import LakeTable, TableSchema

    if LakeTable.exists(args.table):
        table = LakeTable.load(spark, args.table)
    elif args.create:
        schema = TableSchema.from_struct(
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
        table = LakeTable.create(
            spark,
            args.table,
            schema,
            key="url",
            num_buckets=args.num_buckets,
            changelog=args.changelog,
        )
    else:
        print(json.dumps({"error": f"table {args.table} does not exist (use --create)"}))
        return 2

    if args.synthetic:
        changes = generate_changes(
            spark, args.synthetic, args.urls, n_batches=args.batches, seed=args.seed
        )
        n_events = args.synthetic
    elif args.events:
        changes = spark.read.parquet(args.events)
        n_events = changes.count()
    else:
        print(json.dumps({"error": "need --events or --synthetic"}))
        return 2

    runner = CDCRunner(
        table,
        errors_path=args.errors_path,
        lineage_path=args.lineage_path,
        salt_buckets=args.salt_buckets,
        patch_ops=args.patch_ops,
        retry_conflicts=args.retry_conflicts,
    )
    t0 = time.time()
    if args.snapshot:
        res = runner.apply_snapshot(changes.drop("op", "batch_id"), args.snapshot_id)
        wall = time.time() - t0
        out = {
            "events": n_events,
            "mode": "snapshot_compare",
            "skipped": int(res.skipped),
            "wall_sec": round(wall, 3),
            "counts": res.counts,
            "snapshot_id": table.snapshot_id,
            "state_hash": table.state_hash(),
        }
    else:
        report = runner.run(changes, fuse=args.fuse)
        wall = time.time() - t0
        out = {
            "events": n_events,
            "batches": report.n_batches,
            "skipped": report.n_skipped,
            "wall_sec": round(wall, 3),
            "events_per_sec": round(n_events / wall, 1),
            "counts": report.total_counts(),
            "snapshot_id": table.snapshot_id,
            "state_hash": table.state_hash(),
        }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
