"""The query_suite workload: the 23 headline queries of the frozen
``bench.py``, in its order, in one session, each materialized through
the ``noop`` sink. The cache is never cleared between queries, so
anything a query leaves persisted stays visible.

The tables come from the repo's own generator, ``scripts/make_sf_scaled.py``,
whose schemas and value distributions were matched to the engine's sf0.1
fixtures. It draws from a fixed seed, so these inputs do not vary with
``--seed``.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq

import harness

BENCH_QUERIES = [
    "cdc_latest_state",
    "cdc_apply_with_deletes",
    "cdc_changeset_classify",
    "pricing_summary",
    "revenue_by_region",
    "top3_orders_per_customer",
    "session_gaps",
    "activity_islands",
    "user_segment_classifier",
    "scalar_gauntlet",
    "doc_token_stats",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "doc_filter_pipeline",
    "line_dedup_ccnet",
    "dup_span_dedup",
    "semdedup_prune",
    "boilerplate_block_filter",
    "weighted_sample_es",
    "containment_neardup",
    "pmi_collocations",
    "winnow_fingerprint_profile",
    "content_chunk_dedup",
]

SETUP_REPEATS = 3
# make_sf_scaled.py's size multiplier relative to sf0.1: sf0.005, e.g.
# 30k lineitem, 5k events, 250 documents and 329 embeddings
SCALE = 0.05
GENERATOR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "make_sf_scaled.py"
)


def write_tables(out_dir: str) -> dict[str, int]:
    """Generate the tables into ``out_dir``. Returns rows per file name."""
    subprocess.run(
        [sys.executable, GENERATOR, out_dir, str(SCALE)], check=True, stdout=subprocess.DEVNULL
    )
    return {
        f: pq.read_metadata(os.path.join(out_dir, f)).num_rows
        for f in os.listdir(out_dir)
        if f.endswith(".parquet")
    }


def _signature(cols: list[str], rows: list[tuple]) -> tuple:
    """Row count, column names and the order-insensitive value hash the
    engine's oracle gate compares (scripts/check_oracle.py)."""
    from check_oracle import value_hash

    return (len(rows), tuple(sorted(cols)), value_hash(cols, rows))


def oracle_signatures(data_dir: str) -> dict[str, tuple]:
    """Each query's expected result, from its DuckDB oracle SQL."""
    import duckdb

    from dbp_etl_spark.queries import ORACLE

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in BENCH_QUERIES:
            cur = con.execute(ORACLE[name])
            out[name] = _signature([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def _leaked_persists(spark) -> int:
    """Persisted RDDs left in the session: nothing here persists, so
    each one was left behind by a query."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def run(ctx) -> dict:
    from dbp_etl_spark.queries import QUERIES

    spark = ctx.spark
    data_dir = os.path.join(ctx.work, "tables")

    # set-up: generate the tables (repeated; the median is reported)
    gen_times = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        table_rows = write_tables(data_dir)
        gen_times.append(time.perf_counter() - t0)
    stage_s = statistics.median(gen_times)
    staged_bytes = harness.dir_bytes(data_dir)

    # correctness reference, outside every timer
    expected = oracle_signatures(data_dir)

    # warm-up: every query once, collected and checked against its
    # oracle; run concurrently because it is untimed and mostly
    # one-time planning and code generation. The peak RSS is sampled
    # around the measured passes only, so the warm-up does not set it.
    t0 = time.perf_counter()

    def collect(name):
        df = QUERIES[name](spark, data_dir)
        rows = sum(table_rows.get(os.path.basename(f), 0) for f in df.inputFiles())
        return _signature(df.columns, [tuple(r) for r in df.collect()]), rows

    bad: dict[str, str] = {}  # query -> why it counts as failed
    rows_read: dict[str, int] = {}  # query -> rows of the tables it scans
    with ThreadPoolExecutor(max_workers=ctx.cores) as pool:
        futures = {n: pool.submit(collect, n) for n in BENCH_QUERIES}
        for name, fut in futures.items():
            try:
                got, rows_read[name] = fut.result()
            except Exception as e:  # a query that raises counts as failed
                bad[name] = f"raised {type(e).__name__}: {str(e)[:200]}"
                continue
            if got != expected[name]:
                bad[name] = f"result {got} != oracle {expected[name]}"
    warmup_s = time.perf_counter() - t0

    def one_pass(tracer=None) -> dict:
        walls = {}
        for name in BENCH_QUERIES:
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    QUERIES[name](spark, data_dir).write.format("noop").mode("overwrite").save()
                else:
                    with tracer.span(f"queries.{name}"):
                        with tracer.span("queries.build"):
                            df = QUERIES[name](spark, data_dir)
                        with tracer.span("queries.sink"):
                            df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                bad.setdefault(name, f"raised {type(e).__name__}: {str(e)[:200]}")
                continue
            walls[name] = time.perf_counter() - t0
        return {"walls": walls, "leaked": _leaked_persists(spark)}

    # a traced run measures exactly one pass, with each query's build and
    # sink in spans
    with ctx.rss:
        passes = harness.run_passes(ctx.seconds, lambda: one_pass(ctx.tracer), ctx.trace)

    # a traced run follows its traced pass with an untraced twin in the
    # same session, event log on; the difference is the cost of the spans
    # and job groups (the twin is the warmer, so it reads high if at all)
    overhead_pass = one_pass() if ctx.trace else None

    walls = [w for p in passes for w in p["walls"].values()]
    lat = harness.summarize(walls)
    suite = statistics.median(sum(p["walls"].values()) for p in passes)
    total_rows = sum(rows_read.values())
    eps = statistics.median(total_rows / sum(p["walls"].values()) for p in passes)
    return {
        "e2e": {
            "events_per_s": eps,
            "batch_latency_p50_s": lat["p50"],
            "batch_latency_tail_s": lat["tail"],
            "replica_lag_p50_s": lat["p50"],
            "replica_lag_tail_s": lat["tail"],
            "suite_wall_s": suite,
        },
        "notes": {
            "passes": len(passes),
            "queries_timed": lat["n"],
            "tail_percentile": lat["tail_pct"],
            "checks": bad or "all 23 queries match their DuckDB oracle",
        },
        "setup_parts": {"stage_s": stage_s, "warmup_s": warmup_s},
        "stage_s": stage_s,
        "staged_bytes": staged_bytes,
        # a query that raised, or mismatched its oracle, fails in every pass
        "attempted": len(BENCH_QUERIES) * len(passes),
        "failed": len(bad) * len(passes),
        "correct": not bad,
        "traced_pass": passes[-1],
        "traced_wall": sum(passes[-1]["walls"].values()),
        "overhead_base_wall": (
            sum(overhead_pass["walls"].values()) if overhead_pass else None
        ),
    }
