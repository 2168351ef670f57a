"""Query registry: named (Spark DataFrame, DuckDB oracle SQL) pairs.

Each query exercises operators from SURVEY.md §2 against the driver's
test tables (region nation customer supplier part orders lineitem
events documents embeddings). Conventions enforced for the driver's
order-insensitive value-hash compare:

* every computed column is aliased identically in Spark and SQL;
* timestamps/dates are rendered to strings with matching patterns;
* floating aggregates are rounded (per-row float math is bit-identical
  between engines; only cross-row accumulation order is not);
* integer-valued computed columns are cast to BIGINT on both sides.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbp_etl_spark.session import local_frame

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Restore scan parallelism for compute-dense lanes (r6, guide
    §2.5 "input skew"): the bench fixtures are single-row-group
    parquet files, so a scan plans ONE task and any per-row-heavy
    map-side lane above it (per-character hashing, shingle explode)
    runs on one core of the machine. A round-robin repartition to
    cluster parallelism spreads the rows first; it is a no-op
    (returns ``df``) whenever the scan already has at least as many
    partitions as cores, so production-shaped inputs (many files /
    row groups) never pay the extra exchange. Row-preserving: no
    query result depends on physical partitioning."""
    p = spark.sparkContext.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n >= p:
        return df
    return df.repartition(2 * p)


def q(name: str, sql: str | None = None):
    def deco(fn):
        @functools.wraps(fn)
        def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(spark, sf_dir)

        QUERIES[name] = wrapper
        if sql is not None:
            ORACLE[name] = sql
        return wrapper

    return deco


# =====================================================================
# CDC core semantics expressed over the `events` stream table
# =====================================================================


@q(
    "cdc_latest_state",
    """
    WITH ranked AS (
      SELECT user_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_type AS last_type, round(value, 2) AS last_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM ranked WHERE rn = 1
    """,
)
def cdc_latest_state(spark, sf_dir):
    """W1/ST2 (reference: /root/reference/load/FilenameReducer.py:99-120):
    latest event per key wins — the microbatch dedup rule."""
    # r6 (guide §2.3 "aggregate before you shuffle"): the rn=1 window
    # is realized as groupBy + max(struct) — the same winner (max ts,
    # tie -> max event_id; event_id is unique so trailing fields never
    # decide) with map-side partial aggregation instead of a
    # sort-based window: the shuffle carries ~one row per user, not
    # every event, and no sort runs. Same agg-for-window swap the CDC
    # hot path landed in r5 (cdc/dedup.py dedup_latest_cdc).
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias("_w")
    )
    return agg.select(
        "user_id",
        F.col("_w.event_type").alias("last_type"),
        F.round("_w.value", 2).alias("last_value"),
        F.date_format("_w.ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


@q(
    "cdc_apply_with_deletes",
    """
    WITH ranked AS (
      SELECT user_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, round(value, 2) AS current_value
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
)
def cdc_apply_with_deletes(spark, sf_dir):
    """Flagship semantic: apply a change log; keys whose latest event is
    a tombstone ('error' stands in for op='delete') are absent from the
    final state (reference: leftover-key deletes,
    /root/reference/load/UpdateDBPTextFilesets.py:132-134)."""
    # r6: same agg-for-window swap as cdc_latest_state (one map-side-
    # combined shuffle of ~users rows, no sort); the tombstone filter
    # applies to the WINNING row after aggregation, exactly as rn=1
    # then event_type<>'error' did.
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias("_w")
    )
    return agg.where(F.col("_w.event_type") != "error").select(
        "user_id", F.round("_w.value", 2).alias("current_value")
    )


@q(
    "cdc_changeset_classify",
    """
    WITH ranked_old AS (
      SELECT user_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
    old AS (SELECT * FROM ranked_old WHERE rn = 1),
    ranked_new AS (
      SELECT user_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    newest AS (SELECT * FROM ranked_new WHERE rn = 1)
    SELECT coalesce(o.user_id, n.user_id) AS user_id,
           CASE WHEN o.user_id IS NULL THEN 'insert'
                WHEN n.ts > o.ts THEN 'update'
                ELSE 'noop' END AS action
    FROM old o FULL OUTER JOIN newest n ON o.user_id = n.user_id
    """,
)
def cdc_changeset_classify(spark, sf_dir):
    """J2 — the merge-key full-outer diff (the CDC heart; reference:
    /root/reference/load/UpdateDBPFilesetTables.py:306-377): snapshot
    at a cutoff vs. final snapshot, rows classified insert/update/noop."""
    # r6 (guide §2.4): both snapshots are frontiers of the SAME event
    # scan keyed by user_id, so one groupBy computes them together —
    # a conditional max(struct) is the pre-cutoff frontier, max(struct)
    # the final one. Replaces two window sorts + a full-outer
    # sort-merge join (3 exchanges + 3 sorts) with ONE map-side-
    # combined aggregation and no join at all; equivalence: old keys
    # are a subset of newest keys (the old side filters the same
    # events), so the full-outer join never had an old-only row, and
    # the classification uses only the two frontier timestamps.
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id")).alias("_n"),
        F.max(
            F.when(F.col("ts") < "2024-01-16 00:00:00", F.struct("ts", "event_id"))
        ).alias("_o"),
    )
    return agg.select(
        "user_id",
        F.when(F.col("_o").isNull(), "insert")
        .when(F.col("_n.ts") > F.col("_o.ts"), "update")
        .otherwise("noop")
        .alias("action"),
    )


@q(
    "op_rollup",
    """
    SELECT event_type AS op, count(*) AS n, round(sum(value), 2) AS total
    FROM events GROUP BY event_type
    """,
)
def op_rollup(spark, sf_dir):
    """A5/A7 — per-op metrics rollup (reference:
    /root/reference/load/SQLBatchExec.py:146-160)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("op"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


# =====================================================================
# Joins (J1-J6)
# =====================================================================


@q(
    "revenue_by_region",
    """
    SELECT r_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def revenue_by_region(spark, sf_dir):
    """J1/J6 — broadcast dimension chain (reference: dict-probe maps,
    /root/reference/load/FilenameParser.py:279-283). nation/region are
    tiny: forced broadcast, no shuffle on the dim side."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
    )


@q(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
    """,
)
def customers_without_orders(spark, sf_dir):
    """J3/SO3 — anti join = delete detection (reference leftover-key
    deletes: /root/reference/load/UpdateDBPFilesetTables.py:460-466):
    customers with no high-value order."""
    customer = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@q(
    "customers_with_bigticket",
    """
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
)
def customers_with_bigticket(spark, sf_dir):
    """J4 — semi join existence guard (reference:
    /root/reference/load/UpdateDBPLPTSTable.py:161-175)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 200000)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


@q(
    "lang_fallback_resolution",
    """
    WITH dim1(lang, source, lang_label) AS (
      VALUES ('en','src0','english-src0'), ('de','src1','german-src1'), ('fr','src2','french-src2')),
    dim2(lang, lang_label) AS (
      VALUES ('en','english'), ('de','german'), ('fr','french'), ('es','spanish'))
    SELECT d.doc_id, coalesce(d1.lang_label, d2.lang_label, 'unknown') AS lang_label
    FROM documents d
    LEFT JOIN dim1 d1 ON d.lang = d1.lang AND d.source = d1.source
    LEFT JOIN dim2 d2 ON d.lang = d2.lang
    """,
)
def lang_fallback_resolution(spark, sf_dir):
    """J5 — multi-level fallback join: most-specific probe wins, then
    coarser, then default (reference language-resolution ladder:
    /root/reference/load/UpdateDBPBiblesTable.py:138-189)."""
    docs = _t(spark, sf_dir, "documents")
    dim1 = local_frame(
        spark,
        [("en", "src0", "english-src0"), ("de", "src1", "german-src1"), ("fr", "src2", "french-src2")],
        "lang string, source string, lang_label string",
    )
    dim2 = local_frame(
        spark,
        [("en", "english"), ("de", "german"), ("fr", "french"), ("es", "spanish")],
        "lang string, lang_label string",
    )
    d1 = F.broadcast(dim1.withColumnRenamed("lang_label", "l1"))
    d2 = F.broadcast(dim2.withColumnRenamed("lang_label", "l2"))
    return (
        docs.join(d1, ["lang", "source"], "left")
        .join(d2, ["lang"], "left")
        .select("doc_id", F.coalesce("l1", "l2", F.lit("unknown")).alias("lang_label"))
    )


# =====================================================================
# Aggregations (A1-A9)
# =====================================================================


@q(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark, sf_dir):
    """A-family headline aggregate (TPC-H Q1 shape): map-side partial
    aggregation, 6 output groups — the scan dominates, as it should."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@q(
    "user_day_completeness",
    """
    SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) AS n, CAST(count(*) = 1 AS BIGINT) AS is_single
    FROM events GROUP BY 1, 2
    """,
)
def user_day_completeness(spark, sf_dir):
    """A2 — group-count completeness flag (reference
    is_complete_chapter: /root/reference/load/UpdateDBPFilesetTables.py:470-488)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("is_single", (F.col("n") == 1).cast("long"))
    )


@q(
    "max_per_user",
    """
    SELECT user_id, strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
           round(max(value), 2) AS max_value
    FROM events GROUP BY user_id
    """,
)
def max_per_user(spark, sf_dir):
    """A3 — max per group (reference maxChapterByBook:
    /root/reference/load/FilenameReducer.py:144-167)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
    )


@q(
    "user_segment_classifier",
    """
    SELECT user_id,
           CASE WHEN has_purchase AND has_signup THEN 'FULL'
                WHEN has_purchase THEN 'BUYER'
                WHEN has_signup THEN 'MEMBER'
                ELSE 'VISITOR' END AS segment
    FROM (SELECT user_id,
                 bool_or(event_type = 'purchase') AS has_purchase,
                 bool_or(event_type = 'signup') AS has_signup
          FROM events GROUP BY user_id)
    """,
)
def user_segment_classifier(spark, sf_dir):
    """A4/F13 — set-membership aggregate + CASE ladder classifier
    (reference size-code classifier:
    /root/reference/load/UpdateDBPFilesetTables.py:35-60,214-222)."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("boolean")).alias("has_purchase"),
        F.max((F.col("event_type") == "signup").cast("boolean")).alias("has_signup"),
    )
    return agg.select(
        "user_id",
        F.when(F.col("has_purchase") & F.col("has_signup"), "FULL")
        .when(F.col("has_purchase"), "BUYER")
        .when(F.col("has_signup"), "MEMBER")
        .otherwise("VISITOR")
        .alias("segment"),
    )


@q("distinct_event_types", "SELECT DISTINCT event_type FROM events")
def distinct_event_types(spark, sf_dir):
    """A6 — distinct (reference: SELECT DISTINCT code,
    /root/reference/load/UpdateDBPFilesetTables.py:204)."""
    return _t(spark, sf_dir, "events").select("event_type").distinct()


@q(
    "user_active_days_list",
    """
    SELECT user_id,
           string_agg(DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d'), ','
                      ORDER BY strftime(date_trunc('day', ts), '%Y-%m-%d')) AS days
    FROM events GROUP BY user_id
    """,
)
def user_active_days_list(spark, sf_dir):
    """A1 — group-by collect into an ordered list (reference
    book→chapters map: /root/reference/load/FilenameParser.py:457-466);
    rendered as a joined string for engine-neutral comparison."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.sort_array(F.collect_set(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))),
            ",",
        ).alias("days")
    )


# =====================================================================
# Windows (W1-W6), sorts/top-k (O1-O4)
# =====================================================================


@q(
    "top3_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, rnk FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders) WHERE rnk <= 3
    """,
)
def top3_orders_per_customer(spark, sf_dir):
    """O4/W — top-k per group via rank window (reference max/min top-1:
    /root/reference/load/FilenameReducer.py:99-120)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", F.col("rnk").cast("long").alias("rnk"))
    )


@q(
    "missing_days_per_user",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(EXTRACT(day FROM ts) AS BIGINT) AS d
      FROM events WHERE ts < TIMESTAMP '2024-01-29 00:00:00'),
    mx AS (SELECT user_id, max(d) AS mxd FROM ud GROUP BY user_id),
    alld AS (SELECT user_id, UNNEST(generate_series(1, mxd)) AS d FROM mx)
    SELECT a.user_id, a.d AS missing_day
    FROM alld a LEFT JOIN ud p ON a.user_id = p.user_id AND a.d = p.d
    WHERE p.user_id IS NULL
    """,
)
def missing_days_per_user(spark, sf_dir):
    """W2 — sequential gap detection via sequence+explode+anti
    (reference missing-chapters: /root/reference/load/FilenameParser.py:457-477)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("ts") < "2024-01-29 00:00:00")
    ud = ev.select("user_id", F.dayofmonth("ts").cast("long").alias("d")).distinct()
    alld = (
        ud.groupBy("user_id")
        .agg(F.max("d").alias("mxd"))
        .select("user_id", F.explode(F.sequence(F.lit(1).cast("long"), F.col("mxd"))).alias("d"))
    )
    return alld.join(ud, ["user_id", "d"], "left_anti").select(
        "user_id", F.col("d").alias("missing_day")
    )


@q(
    "session_gaps",
    """
    WITH o AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events)
    SELECT user_id, count(*) AS n_gaps
    FROM o WHERE prev IS NOT NULL AND epoch_us(ts) - epoch_us(prev) > 21600000000
    GROUP BY user_id
    """,
)
def session_gaps(spark, sf_dir):
    """W3 — lag-window gap detection (reference verse-range gaps:
    /root/reference/load/FilenameParser.py:480-509). 6-hour threshold
    compared in exact microseconds on both engines."""
    # r6 (guide §2.3): gap counting needs only the SORTED per-user ts
    # multiset (consecutive-diff counts are invariant to the event_id
    # tiebreak at equal ts), so one collect_list aggregation + a
    # map-side array pass replaces the lag window — 1 exchange, no
    # sort, no second aggregation. parquet timestamps load as
    # TIMESTAMP_NTZ; cast for unix_micros (session TZ is UTC so the
    # cast is value-preserving).
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.unix_micros(F.col("ts").cast("timestamp")))
        ).alias("_a")
    )
    a = F.col("_a")
    n_gaps = F.when(
        F.size(a) >= 2,
        F.size(
            F.filter(
                F.sequence(F.lit(0), F.size(a) - 2),
                lambda i: (F.get(a, i + 1) - F.get(a, i)) > 21600000000,
            )
        ),
    ).otherwise(F.lit(0))
    return (
        agg.select("user_id", n_gaps.cast("long").alias("n_gaps"))
        .where(F.col("n_gaps") > 0)
    )


@q(
    "activity_islands",
    """
    WITH days AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events),
    nb AS (SELECT user_id, d,
                  (d - DATE '2024-01-01') - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
           FROM days)
    SELECT user_id, strftime(min(d), '%Y-%m-%d') AS island_start,
           strftime(max(d), '%Y-%m-%d') AS island_end, count(*) AS len
    FROM nb GROUP BY user_id, grp
    """,
)
def activity_islands(spark, sf_dir):
    """W4 — gaps-and-islands run-length compression (reference
    consecutive error-range collapse:
    /root/reference/load/FilenameReducer.py:215-264)."""
    # r6 (guide §2.4): islands are a per-user property of the sorted
    # distinct-day array, so ONE aggregation (collect_set + map-side
    # array fold) replaces distinct + row_number window + final agg
    # (3 exchanges + a sort -> 1 map-side-combined exchange). Same
    # rows: run starts are positions where the previous day is not
    # adjacent; length = number of distinct days in the run (the old
    # count(*) per (user, grp)).
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_set(F.to_date(F.date_trunc("day", "ts")))
        ).alias("_ds")
    )
    ds = F.col("_ds")
    n = F.size(ds)
    starts = F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda i: (i == 0) | (F.datediff(F.get(ds, i), F.get(ds, i - 1)) > 1),
    )
    islands = F.transform(
        F.sequence(F.lit(0), F.size(starts) - 1),
        lambda j: F.struct(
            F.get(ds, F.get(starts, j)).alias("s"),
            F.get(ds, F.coalesce(F.get(starts, j + 1), n) - 1).alias("e"),
            (F.coalesce(F.get(starts, j + 1), n) - F.get(starts, j))
            .cast("long")
            .alias("ln"),
        ),
    )
    return agg.select("user_id", F.explode(islands).alias("_i")).select(
        "user_id",
        F.date_format(F.col("_i.s"), "yyyy-MM-dd").alias("island_start"),
        F.date_format(F.col("_i.e"), "yyyy-MM-dd").alias("island_end"),
        F.col("_i.ln").alias("len"),
    )


@q(
    "window_stats_suite",
    """
    SELECT event_id, user_id,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 2) AS running_sum,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 3) AS moving_avg3,
           round(first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING), 2) AS first_val
    FROM events WHERE user_id < 20
    WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
    """,
)
def window_stats_suite(spark, sf_dir):
    """Window-function battery: rank/dense_rank/ntile + running and
    sliding frames + first_value — the W-family beyond dedup."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w_rank = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    w_time = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.rank().over(w_rank).cast("long").alias("rnk"),
        F.dense_rank().over(w_rank).cast("long").alias("drnk"),
        F.ntile(4).over(w_rank).cast("long").alias("quartile"),
        F.round(
            F.sum("value").over(w_time.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_sum"),
        F.round(F.avg("value").over(w_time.rowsBetween(-2, 0)), 3).alias("moving_avg3"),
        F.round(
            F.first("value").over(w_time.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("first_val"),
    )


@q(
    "value_statistics",
    """
    SELECT event_type,
           round(stddev_samp(value), 3) AS sd,
           round(var_samp(value), 3) AS var,
           round(min(value), 2) AS mn,
           round(max(value), 2) AS mx,
           round(quantile_cont(value, 0.5), 3) AS median,
           round(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_uid
    FROM events GROUP BY event_type
    """,
)
def value_statistics(spark, sf_dir):
    """Statistical aggregates: stddev/variance/exact median/corr —
    both engines compute exact (interpolated) quantiles, so results
    hash-match after rounding."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 3).alias("sd"),
        F.round(F.var_samp("value"), 3).alias("var"),
        F.round(F.min("value"), 2).alias("mn"),
        F.round(F.max("value"), 2).alias("mx"),
        F.round(F.expr("percentile(value, 0.5)"), 3).alias("median"),
        F.round(F.corr("value", F.col("user_id").cast("double")), 4).alias("corr_uid"),
    )


@q(
    "tumbling_window_agg",
    """
    SELECT strftime(time_bucket(INTERVAL 6 HOURS, ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           count(*) AS n, round(sum(value), 2) AS total
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_window_agg(spark, sf_dir):
    """Event-time tumbling-window aggregation (the batch form of the
    streaming windowed agg; reference analog: per-stage batch rollups).
    Uses F.window — the same operator Structured Streaming plans."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "total",
        )
    )


@q(
    "fuzzy_name_match",
    """
    SELECT p.p_partkey, p.p_brand,
           CAST(levenshtein(p.p_brand, 'Brand#33') AS BIGINT) AS dist
    FROM part p WHERE levenshtein(p.p_brand, 'Brand#33') <= 2
    """,
)
def fuzzy_name_match(spark, sf_dir):
    """Edit-distance fuzzy matching (both engines implement classic
    Levenshtein) — the quality-dedup primitive for short strings."""
    part = _t(spark, sf_dir, "part")
    dist = F.levenshtein("p_brand", F.lit("Brand#33"))
    return part.filter(dist <= 2).select(
        "p_partkey", "p_brand", dist.cast("long").alias("dist")
    )


@q(
    "status_priority_cube",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def status_priority_cube(spark, sf_dir):
    """CUBE grouping sets (all subtotal combinations)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
        )
    )


@q(
    "global_sequence_assignment",
    """
    SELECT o_orderkey, row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS seq
    FROM orders WHERE o_orderdate < TIMESTAMP '1995-03-01 00:00:00'
    """,
)
def global_sequence_assignment(spark, sf_dir):
    """W6 — positional sequence numbering (reference TOC book
    sequencing: /root/reference/load/UpdateDBPBooksTable.py:179-214).
    NOTE scale: a global row_number single-partitions the sort — kept
    here as the semantic baseline over a filtered slice; the scale-safe
    plan is global_sequence_scalable (assign_global_sequence: per-range
    ranks + cumulative offsets), oracle-checked to match this one."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-01 00:00:00")
    w = Window.orderBy("o_orderdate", "o_orderkey")
    return orders.select("o_orderkey", F.row_number().over(w).cast("long").alias("seq"))


@q(
    "global_sequence_scalable",
    """
    SELECT o_orderkey, row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS seq
    FROM orders WHERE o_orderdate < TIMESTAMP '1995-03-01 00:00:00'
    """,
)
def global_sequence_scalable(spark, sf_dir):
    """W6 scale-safe form: identical output to
    global_sequence_assignment (same oracle), but computed by
    assign_global_sequence — per-month local ranks + cumulative
    offsets, so the sort runs at #months parallelism instead of a
    single-partition global window."""
    from dbp_etl_spark.operators.windows import assign_global_sequence

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-01 00:00:00")
    out = assign_global_sequence(
        orders,
        ["o_orderdate", "o_orderkey"],
        coarse_key=F.date_format(F.col("o_orderdate"), "yyyy-MM"),
    )
    return out.select("o_orderkey", "seq")


@q(
    "shipping_priority_top10",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def shipping_priority_top10(spark, sf_dir):
    """TPC-H Q3 shape: selective join chain + agg + deterministic
    top-10 (order fully tie-broken so the limit is a stable set)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15 00:00:00")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15 00:00:00")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@q(
    "sales_rollup",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           round(sum(o_totalprice), 2) AS total, count(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def sales_rollup(spark, sf_dir):
    """ROLLUP grouping sets (subtotal hierarchy)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "total",
            "n",
        )
    )


@q(
    "user_event_path",
    """
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
           count(*) AS n
    FROM events WHERE user_id < 30 GROUP BY user_id
    """,
)
def user_event_path(spark, sf_dir):
    """Ordered per-key concatenation (W5's rolling-concat analog,
    reference /root/reference/load/UpdateDBPTextFilesets.py:158-196):
    collect (ts-ordered struct) -> sort_array -> join. Deterministic
    because the sort key is total."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path"),
        F.count(F.lit(1)).alias("n"),
    )


@q(
    "top_tokens",
    """
    SELECT tok, count(*) AS n FROM (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok HAVING count(*) >= 100
    """,
)
def top_tokens(spark, sf_dir):
    """Token explode + frequency (vocabulary building)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 100)
    )


# =====================================================================
# Set operations (SO1-SO4)
# =====================================================================


@q(
    "setops_user_cohorts",
    """
    SELECT 'click_or_view' AS op, count(*) AS n FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      UNION SELECT user_id FROM events WHERE event_type = 'view')
    UNION ALL
    SELECT 'click_and_view' AS op, count(*) AS n FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      INTERSECT SELECT user_id FROM events WHERE event_type = 'view')
    UNION ALL
    SELECT 'click_not_purchase' AS op, count(*) AS n FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      EXCEPT SELECT user_id FROM events WHERE event_type = 'purchase')
    """,
)
def setops_user_cohorts(spark, sf_dir):
    """SO1/SO2/SO3 — union/intersect/except cohorts (reference:
    set unions /root/reference/load/UpdateDBPBooksTable.py:357-363,
    intersections /root/reference/load/UpdateDBPFilesetTables.py:220-221)."""
    ev = _t(spark, sf_dir, "events")

    def users(t):
        return ev.filter(F.col("event_type") == t).select("user_id")

    clicks, views, purchases = users("click"), users("view"), users("purchase")

    def counted(tag, df):
        return df.agg(F.lit(tag).alias("op"), F.count(F.lit(1)).alias("n"))

    # fully lazy: three 1-row aggregates unioned into ONE job — no
    # driver-side .count() round trips in the query path
    return (
        counted("click_or_view", clicks.union(views).distinct())
        .union(counted("click_and_view", clicks.intersect(views)))
        .union(
            counted(
                "click_not_purchase",
                clicks.distinct().exceptAll(purchases.distinct()),
            )
        )
    )


@q(
    "sessionize_events",
    """
    WITH o AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 3600000000
                  THEN 1 ELSE 0 END AS new_s
      FROM o),
    sess AS (
      SELECT user_id, event_id,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM marked)
    SELECT user_id, session_id, count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark, sf_dir):
    """Sessionization (1h inactivity gap) via the sessionize operator —
    lag + conditional cumulative sum, one shuffle (reference analog:
    stage-ordered per-key processing, SURVEY W5/ST6)."""
    from dbp_etl_spark.operators.windows import sessionize

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_seconds=3600, order_tiebreak="event_id")
    return s.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("n_events"))


@q(
    "asof_last_event_value",
    """
    SELECT o.o_orderkey, o.o_custkey, round(e.value, 2) AS asof_value
    FROM (SELECT o_orderkey, o_custkey,
                 (TIMESTAMP '2024-01-01 00:00:00'
                  + INTERVAL (o_orderkey % 40000) SECOND) AS probe_ts
          FROM orders WHERE o_orderkey % 37 = 0) o
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events) e
      ON o.o_custkey % 150 = e.user_id AND e.ts <= o.probe_ts
    """,
)
def asof_last_event_value(spark, sf_dir):
    """As-of join (backward): for each probe row, the latest event at or
    before its timestamp. Spark lacks a native ASOF; the operator uses
    union + carry-forward window (one shuffle, no per-group Python) —
    oracle uses DuckDB's native ASOF JOIN."""
    from dbp_etl_spark.operators.windows import asof_join

    orders = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("uid"), F.col("ts"), F.col("value")
    )
    probes = orders.filter(F.col("o_orderkey") % 37 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_custkey") % 150).alias("uid"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_dt_interval(secs=(F.col("o_orderkey") % 40000).cast("double"))
        ).cast("timestamp_ntz").alias("probe_ts"),
    )
    out = asof_join(
        probes, ev, key="uid", left_ts="probe_ts", right_ts="ts", right_cols=["value"]
    )
    return out.select(
        "o_orderkey", "o_custkey", F.round("value", 2).alias("asof_value")
    )


@q(
    "merge_value_ranges",
    """
    WITH r AS (
      SELECT user_id, CAST(floor(value) AS BIGINT) AS s,
             CAST(floor(value) + 3 AS BIGINT) AS e
      FROM events WHERE event_type = 'purchase'),
    w AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      FROM r),
    marked AS (
      SELECT user_id, s, e,
             CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS ns
      FROM w),
    spans AS (
      SELECT user_id, s, e,
             sum(ns) OVER (PARTITION BY user_id ORDER BY s, e
                           ROWS UNBOUNDED PRECEDING) AS span
      FROM marked)
    SELECT user_id, min(s) AS span_start, max(e) AS span_end, count(*) AS n_merged
    FROM spans GROUP BY user_id, span
    """,
)
def merge_value_ranges(spark, sf_dir):
    """W5 — rolling merge of overlapping ranges (reference: verse-range
    concatenation, /root/reference/load/UpdateDBPTextFilesets.py:158-196)."""
    from dbp_etl_spark.operators.windows import merge_overlapping_ranges

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    r = ev.select(
        "user_id",
        F.floor("value").cast("long").alias("s"),
        (F.floor("value") + 3).cast("long").alias("e"),
    )
    return merge_overlapping_ranges(r, "user_id", "s", "e").select(
        "user_id", "span_start", "span_end", "n_merged"
    )


@q(
    "event_type_pivot",
    """
    SELECT user_id,
           count(*) FILTER (event_type = 'click') AS n_click,
           count(*) FILTER (event_type = 'view') AS n_view,
           count(*) FILTER (event_type = 'purchase') AS n_purchase,
           round(coalesce(sum(value) FILTER (event_type = 'purchase'), 0), 2) AS purchase_total
    FROM events GROUP BY user_id
    """,
)
def event_type_pivot(spark, sf_dir):
    """Pivot as conditional aggregation (engine-neutral form of
    groupBy().pivot())."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_view"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchase"),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))), F.lit(0.0)
            ),
            2,
        ).alias("purchase_total"),
    )


@q(
    "derived_variants",
    """
    SELECT d.doc_id, v.kind AS variant_kind, v.res AS resolution, v.bw AS bandwidth,
           concat(CAST(d.doc_id AS VARCHAR), '#', v.kind, CAST(v.res AS VARCHAR)) AS variant_key
    FROM (SELECT doc_id FROM documents WHERE doc_id < 50) d
    CROSS JOIN (VALUES ('av', 360, 588000), ('av', 480, 880000), ('av', 720, 1880000))
         AS v(kind, res, bw)
    """,
)
def derived_variants(spark, sf_dir):
    """U4/U5 — transcode fan-out as explode of variant specs
    (reference VIDEO_VARIANTS, /root/reference/load/InputFileset.py:83-95;
    poll-loop jobs /root/reference/load/AWSTranscoder.py:95-127)."""
    from dbp_etl_spark.operators.derive import derive_variants

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select(
        F.col("doc_id").cast("string").alias("url"), "doc_id"
    )
    out = derive_variants(docs)
    return out.select(
        "doc_id",
        "variant_kind",
        F.col("resolution").cast("int").alias("resolution"),
        F.col("bandwidth").cast("int").alias("bandwidth"),
        F.col("variant_url").alias("variant_key"),
    )


@q(
    "normalized_host_rollup",
    """
    SELECT lower(concat('host', CAST(user_id % 7 AS VARCHAR), '.example')) AS host,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def normalized_host_rollup(spark, sf_dir):
    """J7 — loose-key normalization then plain equi-grouping (reference
    damId normalization probing, /root/reference/load/LPTSExtractReader.py:116-143):
    mixed-case urls normalize to a canonical host key."""
    from dbp_etl_spark.operators.derive import normalize_url

    ev = _t(spark, sf_dir, "events")
    messy = ev.select(
        F.concat(
            F.lit("HTTPS://WWW.Host"),
            (F.col("user_id") % 7).cast("string"),
            F.lit(".Example/p/"),
        ).alias("u")
    )
    return (
        messy.select(
            F.regexp_extract(normalize_url(F.col("u")), r"https://([^/]+)", 1).alias("host")
        )
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n"))
    )




# --- generated oracle SQL for the md5-reproducible LSH family --------
# (the hash math is cross-engine: see operators/dedup_ops.py::_h60 and
# simhash32x2 — DuckDB re-derives the identical signatures/fingerprints
# from the raw tables, so the FULL pipeline is value-checked)


def _minhash_oracle_sql(num_hashes=16, bands=4, shingle_n=3, threshold=0.3):
    rows = num_hashes // bands
    mins = ",\n         ".join(
        f"min(CAST('0x' || substr(md5(sh || '|{i}'), 1, 15) AS BIGINT)) AS h{i}"
        for i in range(num_hashes)
    )
    bands_sql = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, concat_ws(',', "
        + ", ".join(f"h{b * rows + r}" for r in range(rows))
        + ") AS bh FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh_lists AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(t) - {shingle_n}, 0) + 1),
                            i -> array_to_string(t[i:i + {shingle_n - 1}], ' ')) AS shingles
      FROM toks),
    ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh_lists),
    sig AS (
      SELECT doc_id,
         {mins}
      FROM ex GROUP BY doc_id),
    banded AS (
      {bands_sql}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
                                 AND a.doc_id < b.doc_id),
    sets AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh_lists),
    verified AS (
      SELECT c.id_a, c.id_b,
             round(CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.sset, sb.sset))), 4) AS jaccard
      FROM cand c
      JOIN sets sa ON sa.doc_id = c.id_a
      JOIN sets sb ON sb.doc_id = c.id_b)
    SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {threshold}
    """


def _simhash_oracle_sql(max_hamming=7):
    votes = ",\n    ".join(
        f"sum(CASE WHEN (th_{half} >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b_{half}_{i}"
        for half in ("lo", "hi")
        for i in range(32)
    )
    fp = {
        half: " + ".join(
            f"(CASE WHEN b_{half}_{i} > 0 THEN 1::BIGINT ELSE 0::BIGINT END << {i})"
            for i in range(32)
        )
        for half in ("lo", "hi")
    }
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    h AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 25, 8) AS BIGINT) AS th_lo,
             CAST('0x' || substr(md5(tok), 17, 8) AS BIGINT) AS th_hi
      FROM toks),
    votes AS (
      SELECT doc_id,
    {votes}
      FROM h GROUP BY doc_id),
    fp AS (
      SELECT doc_id,
             {fp["lo"]} AS sh_lo,
             {fp["hi"]} AS sh_hi
      FROM votes),
    chunks AS (
      SELECT doc_id, sh_lo, sh_hi, j AS ci,
             CASE WHEN j < 4 THEN (sh_lo >> (j * 8)) & 255
                  ELSE (sh_hi >> ((j - 4) * 8)) & 255 END AS cv
      FROM fp, generate_series(0, 7) t(j)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.sh_lo, b.sh_lo))
                  + bit_count(xor(a.sh_hi, b.sh_hi)) AS BIGINT) AS hamming
      FROM chunks a JOIN chunks b ON a.ci = b.ci AND a.cv = b.cv
                                 AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}
    """


def _ann_lsh_oracle_sql(n_planes=4, k=5, dim=64, n_probes=5):
    def dot(p):
        return (
            "list_sum(list_transform(list_zip(embedding, generate_series(0, "
            f"{dim - 1})), r -> CAST(r[1] AS DOUBLE) * (((73 * r[2] + 37 * {p}) % 97) - 48)))"
        )

    bits = " || ".join(
        f"(CASE WHEN {dot(p)} >= 0 THEN '1' ELSE '0' END)" for p in range(n_planes)
    )
    return f"""
    WITH sk AS (
      SELECT vec_id, embedding, {bits} AS bkt FROM embeddings),
    pairs AS (
      SELECT p.vec_id AS qid, c.vec_id AS cid,
             list_sum(list_transform(list_zip(p.embedding, c.embedding),
                                     r -> CAST(r[1] AS DOUBLE) * CAST(r[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(p.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
             AS cs
      FROM sk p JOIN sk c ON p.bkt = c.bkt AND c.vec_id <> p.vec_id
      WHERE p.vec_id < {n_probes}),
    ranked AS (
      SELECT qid, cid, cs,
             row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS rn
      FROM pairs)
    SELECT qid, cid, round(cs, 3) AS cos_sim FROM ranked WHERE rn <= {k}
    """


# --- near-dup family: fully oracle-checked via md5-reproducible
# hashing (the xxhash64 production variants of the same operators are
# pinned by python-oracle pytest cases in tests/test_operators.py) ----


@q("minhash_lsh_neardups", _minhash_oracle_sql())
def minhash_lsh_neardups(spark, sf_dir):
    """MinHash+LSH near-dups, END-TO-END value-checked: md5_60-mode
    signatures -> 4-band LSH candidate equi-join -> exact shingle
    jaccard verify >= 0.3. The DuckDB oracle re-derives the identical
    signatures, bands, candidates and jaccards from the raw table."""
    from dbp_etl_spark.operators.dedup_ops import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    # r6: spread the fixture scan (16 minhashes over shingles per doc)
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    cands = minhash_lsh_candidates(docs, num_hashes=16, bands=4, hash_fn="md5_60")
    return ngram_jaccard_pairs(docs, cands, threshold=0.3)


@q("simhash_fingerprints", _simhash_oracle_sql())
def simhash_fingerprints(spark, sf_dir):
    """Simhash near-dup pairs, END-TO-END value-checked: md5-derived
    two-half 64-bit fingerprints -> pigeonhole 8-bit-chunk candidate
    equi-join -> exact hamming <= 7. Same plan shape as the xxhash64
    production operator (simhash_near_dups)."""
    from dbp_etl_spark.operators.dedup_ops import simhash32x2_near_dups

    # r6: spread the fixture scan (per-token sketch lane)
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    out = simhash32x2_near_dups(docs, max_hamming=7)
    return out.withColumn("hamming", F.col("hamming").cast("long"))


def _embedding_neardup_oracle_sql(n_planes=4, dim=64, threshold=0.4):
    def dot(p, v):
        return (
            f"list_sum(list_transform(list_zip({v}, generate_series(0, "
            f"{dim - 1})), r -> CAST(r[1] AS DOUBLE) * (((73 * r[2] + 37 * {p}) % 97) - 48)))"
        )

    def bits(v):
        return " || ".join(
            f"(CASE WHEN {dot(p, v)} >= 0 THEN '1' ELSE '0' END)" for p in range(n_planes)
        )

    return f"""
    WITH sk AS (
      SELECT vec_id, embedding, {bits("embedding")} AS bkt FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(
               list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               4) AS cos_sim
      FROM sk a JOIN sk b ON a.bkt = b.bkt AND a.vec_id < b.vec_id)
    SELECT DISTINCT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= {threshold}
    """


@q("embedding_neardup", _embedding_neardup_oracle_sql())
def embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via the PRODUCTION shape:
    hyperplane-sketch bucketed self-join (no cross product) + exact
    cosine verify. Formula planes make the buckets — and therefore the
    full candidates->verify pipeline — re-derivable by the oracle."""
    from dbp_etl_spark.operators.similarity import embedding_neardup_pairs

    # r6: spread the fixture scan (hyperplane sketch + cosine lane)
    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    return embedding_neardup_pairs(
        emb, dim=64, threshold=0.4, n_planes=4, planes="formula"
    )


@q(
    "carry_forward_fill",
    """
    WITH base AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN value END AS purchase_val
      FROM events WHERE user_id < 10)
    SELECT user_id, event_id,
           round(last_value(purchase_val IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING), 2) AS last_purchase
    FROM base
    """,
)
def carry_forward_fill(spark, sf_dir):
    """W6 carry-forward: last non-null value per key in event order
    (reference priorBookSeq+1 carry,
    /root/reference/load/UpdateDBPBooksTable.py:179-214)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.last(pv, ignorenulls=True).over(w), 2).alias("last_purchase"),
    )


@q("ann_lsh_topk", _ann_lsh_oracle_sql())
def ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate nearest neighbors, value-checked: the
    formula-plane sketch (closed-form +/-1..48 weights, no hash) lets
    the DuckDB oracle re-derive the identical buckets and top-k.
    The xxhash64-plane production variant's recall vs brute force is
    pytest-pinned."""
    from dbp_etl_spark.operators.similarity import lsh_bucketed_topk

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    return lsh_bucketed_topk(emb, probes, dim=64, k=5, n_planes=4, planes="formula")


@q(
    "xml_dim_source",
    """
    SELECT r_name,
           count(*) AS n_nations,
           min(n_name || ' & sons') AS sample_note
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def xml_dim_source(spark, sf_dir):
    """S4 — XML metadata dimension: records are serialized to XML
    (with entity escaping) and parsed back JVM-side with from_xml,
    then broadcast-joined to a dim — parse(build(x)) == x is what the
    oracle value-checks, incl. &amp; unescaping (reference: LPTS XML
    extract, /root/reference/load/LPTSExtractReader.py:15-48)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    xml = F.format_string(
        "<record><key>%d</key><name>%s</name><region>%d</region>"
        "<note>%s &amp; sons</note></record>",
        F.col("n_nationkey"),
        F.col("n_name"),
        F.col("n_regionkey"),
        F.col("n_name"),
    )
    parsed = nation.select(
        F.from_xml(xml, "key BIGINT, name STRING, region BIGINT, note STRING").alias("r")
    ).select("r.*")
    return (
        parsed.join(F.broadcast(region), parsed.region == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("note").alias("sample_note"),
        )
    )


@q(
    "state_invariant_checks",
    """
    SELECT 'null_key' AS "check", CAST(count(*) AS BIGINT) AS n_violations
    FROM events WHERE event_type <> 'purchase' AND user_id IS NULL
    UNION ALL
    SELECT 'dup_visible_key', CAST(count(*) AS BIGINT) FROM (
      SELECT user_id FROM events WHERE event_type <> 'purchase'
      GROUP BY user_id HAVING count(*) > 1)
    UNION ALL
    SELECT 'tombstone_supersedes_visible', CAST(count(*) AS BIGINT)
    FROM events v WHERE v.event_type <> 'purchase' AND EXISTS (
      SELECT 1 FROM events t
      WHERE t.event_type = 'purchase' AND t.user_id = v.user_id AND t.ts >= v.ts)
    """,
)
def state_invariant_checks(spark, sf_dir):
    """Integrity-check module (lake/integrity.py — reference analog
    CompleteCheck.py:66-117): the (check, n_violations) report shape,
    value-checked here over a synthetic mapping of the events table
    (visible = non-purchase events keyed by user, tombstones =
    purchases). The LakeTable wiring incl. lineage-vs-ledger
    reconciliation is pytest-pinned with injected violations."""
    from dbp_etl_spark.lake.integrity import frame_checks

    ev = _t(spark, sf_dir, "events")
    visible = ev.filter(F.col("event_type") != "purchase")
    tombs = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    return frame_checks(visible, "user_id", "ts", tombstones=tombs)


def _stopword_scores_sql() -> str:
    """Shared SQL fragment: per-language stopword hit counts over a
    `toks` list column — the single mirror of detect_lang's vote used
    by every lang-dependent oracle (no drift between them)."""
    from dbp_etl_spark.functions.extract import _STOPWORDS

    score_cols = []
    for lang in sorted(_STOPWORDS):
        words = ", ".join(f"'{w}'" for w in sorted(_STOPWORDS[lang]))
        score_cols.append(
            f"len(list_filter(toks, x -> list_contains([{words}], x))) AS s_{lang}"
        )
    return ",\n        ".join(score_cols)


def _lang_id_oracle_sql():
    scores = _stopword_scores_sql()
    return f"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-zA-ZÀ-ɏ]+') AS toks
      FROM documents),
    s AS (
      SELECT doc_id, len(toks) AS n,
        {scores}
      FROM t)
    SELECT doc_id,
      CASE WHEN n = 0 OR greatest(s_de, s_en, s_es, s_fr) * 20 < n THEN 'und'
           WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
           WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
           WHEN s_es >= s_fr THEN 'es'
           ELSE 'fr' END AS lang_id
    FROM s
    """


@q("doc_lang_id", _lang_id_oracle_sql())
def doc_lang_id(spark, sf_dir):
    """U7 / text analysis — stopword-vote language id as a pure JVM
    expression (detect_lang_expr), value-checked against a SQL mirror
    of the identical vote; parity with the pandas-UDF classifier the
    CDC transform uses is pytest-pinned."""
    from dbp_etl_spark.functions.extract import detect_lang_expr

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", detect_lang_expr(F.col("text")).alias("lang_id"))


def _ann_ivf_oracle_sql(n_cells=8, nprobe=2, k=5, n_probes=5):
    d2 = (
        "list_sum(list_transform(list_zip({v}, c.centroid), "
        "r -> (CAST(r[1] AS DOUBLE) - r[2]) * (CAST(r[1] AS DOUBLE) - r[2])))"
    )
    return f"""
    WITH cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
      FROM embeddings ORDER BY vec_id LIMIT {n_cells}),
    assigned AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {d2.format(v="e.embedding")}, c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN cents c)
      WHERE rn = 1),
    probe_cells AS (
      SELECT qid, qe, centroid_id FROM (
        SELECT p.vec_id AS qid, p.embedding AS qe, c.centroid_id,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {d2.format(v="p.embedding")}, c.centroid_id) AS rn
        FROM embeddings p CROSS JOIN cents c
        WHERE p.vec_id < {n_probes})
      WHERE rn <= {nprobe}),
    pairs AS (
      SELECT pc.qid, a.vec_id AS cid,
             list_sum(list_transform(list_zip(pc.qe, a.embedding),
                                     r -> CAST(r[1] AS DOUBLE) * CAST(r[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(pc.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
             AS cs
      FROM probe_cells pc JOIN assigned a ON pc.centroid_id = a.centroid_id
      WHERE a.vec_id <> pc.qid),
    ranked AS (
      SELECT qid, cid, cs,
             row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS rn
      FROM pairs)
    SELECT qid, cid, round(cs, 3) AS cos_sim FROM ranked WHERE rn <= {k}
    """


@q("ann_ivf_topk", _ann_ivf_oracle_sql())
def ann_ivf_topk(spark, sf_dir):
    """IVF-flat approximate nearest neighbors: corpus inverted-listed
    by nearest coarse centroid, probes search their nprobe=2 nearest
    of 8 cells. Deterministic quantizer init (lowest-id vectors) makes
    the whole search value-checkable; trained (Lloyd) centroids are
    pytest-pinned separately (kmeans_centroids)."""
    from dbp_etl_spark.operators.similarity import ivf_topk

    # r6: spread the single-row-group fixture scan — the per-row
    # centroid-assignment expressions otherwise run in ONE map task
    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    return ivf_topk(emb, probes, dim=64, k=5, n_cells=8, nprobe=2, train_iterations=0)


def _doc_filter_oracle_sql(min_tokens=10):
    scores = _stopword_scores_sql()
    return f"""
    WITH base AS (
      SELECT doc_id, text,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rn,
             regexp_extract_all(lower(text), '[a-zA-ZÀ-ɏ]+') AS toks
      FROM documents),
    s AS (
      SELECT doc_id, dup_rn, len(toks) AS n,
        {scores}
      FROM base),
    lang AS (
      SELECT doc_id, dup_rn, n,
        CASE WHEN n = 0 OR greatest(s_de, s_en, s_es, s_fr) * 20 < n THEN 'und'
             ELSE 'known' END AS lang_class
      FROM s)
    SELECT doc_id,
           CASE WHEN dup_rn > 1 THEN 'exact_dup'
                WHEN n < {min_tokens} THEN 'too_short'
                WHEN lang_class = 'und' THEN 'lang_und'
           END AS drop_reason,
           CAST(dup_rn = 1 AND n >= {min_tokens} AND lang_class <> 'und' AS BOOLEAN) AS keep
    FROM lang
    """


@q("doc_filter_pipeline", _doc_filter_oracle_sql())
def doc_filter_pipeline(spark, sf_dir):
    """Composed training-data filter chain — the keep/drop decision a
    corpus pipeline applies before tokenization: exact-dup keeper
    (min doc_id per content hash), minimum length, language known.
    One pass: a content-hash window + pure expressions; each doc gets
    (keep, drop_reason) with first-failing-reason semantics."""
    from dbp_etl_spark.functions.extract import detect_lang_expr

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-zA-ZÀ-ɏ]+"), 0)
    d = (
        docs.withColumn("dup_rn", F.row_number().over(w))
        .withColumn("n", F.size(toks))
        .withColumn("lang_id", detect_lang_expr(F.col("text")))
    )
    reason = (
        F.when(F.col("dup_rn") > 1, "exact_dup")
        .when(F.col("n") < 10, "too_short")
        .when(F.col("lang_id") == "und", "lang_und")
    )
    return d.select(
        "doc_id",
        reason.alias("drop_reason"),
        reason.isNull().alias("keep"),
    )


@q(
    "doc_bpe_token_count",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS BIGINT) AS n_bpe_tokens,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           round(CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS DOUBLE)
                 / len(string_split(text, ' ')), 3) AS bpe_per_word
    FROM documents
    """,
)
def doc_bpe_token_count(spark, sf_dir):
    """BPE-style pre-tokenizer count: the GPT-2-ish split into
    optionally-space-prefixed letter runs / digit runs / punctuation
    runs — the cheap token-budget estimator a training pipeline applies
    before real BPE. Pure regexp, whole-stage codegen."""
    docs = _t(spark, sf_dir, "documents")
    pat = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(pat), 0))
    n_ws = F.size(F.split(F.col("text"), " "))
    return docs.select(
        "doc_id",
        n_bpe.cast("long").alias("n_bpe_tokens"),
        n_ws.cast("long").alias("n_ws_tokens"),
        F.round(n_bpe.cast("double") / n_ws, 3).alias("bpe_per_word"),
    )


@q(
    "doc_chunks",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    c AS (
      SELECT doc_id,
             list_transform(
               generate_series(0, CAST(greatest(ceil((len(toks) - 8) / 56.0), 1) AS BIGINT) - 1),
               i -> array_to_string(toks[i * 56 + 1 : i * 56 + 64], ' ')) AS chunks
      FROM t)
    SELECT doc_id,
           CAST(unnest(generate_series(0, len(chunks) - 1)) AS BIGINT) AS chunk_idx,
           unnest(chunks) AS chunk_text,
           CAST(len(string_split(unnest(chunks), ' ')) AS BIGINT) AS n_chunk_tokens
    FROM c
    """,
)
def doc_chunks(spark, sf_dir):
    """Training-data chunking: overlapping 64-token windows (8-token
    overlap) per document — map-only JVM array ops, 1 doc -> N chunk
    rows (operators/derive.py:chunk_documents)."""
    from dbp_etl_spark.operators.derive import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=64, overlap=8
    )


@q(
    "session_window_agg",
    """
    WITH o AS (
      SELECT user_id, ts, event_id, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 3600000000
                  THEN 1 ELSE 0 END AS new_s
      FROM o),
    sess AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
)
def session_window_agg(spark, sf_dir):
    """Spark's BUILT-IN session_window (gap-based dynamic windows) —
    the native sibling of the hand-rolled sessionize operator, with the
    same 1h-gap semantics value-checked against the lag+cumsum SQL."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window(F.col("ts").cast("timestamp"), "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            # string-rendered fields, NOT unix micros: a cast from the
            # parquet NTZ timestamp preserves clock fields in any
            # session timezone, while epoch values would shift
            F.date_format(
                F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("session_start"),
            "n_events",
            "total_value",
        )
    )


# =====================================================================
# Scalar function gauntlet (F1-F13)
# =====================================================================


@q(
    "scalar_gauntlet",
    """
    SELECT o_orderkey,
           substr(o_orderpriority, 1, 1) AS pri_code,
           regexp_extract(o_orderpriority, '([0-9])', 1) AS pri_digit,
           split_part(o_orderpriority, '-', 2) AS pri_word,
           lower(o_orderstatus) AS status_lc,
           substr(md5(concat(CAST(o_orderkey AS VARCHAR), '-', o_orderstatus)), 1, 12) AS hash_id,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pri_int,
           CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil,
           round(o_totalprice, 1) AS price_round,
           strftime(o_orderdate, '%Y-%m') AS order_month,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
           CASE WHEN o_totalprice > 100000 THEN 'big'
                WHEN o_totalprice > 10000 THEN 'mid'
                ELSE 'small' END AS size_class
    FROM orders
    """,
)
def scalar_gauntlet(spark, sf_dir):
    """F1-F13 in one projection: substring decode (F1, reference
    /root/reference/load/InputFileset.py:166-187), regex extract (F2,
    /root/reference/load/FilenameParser.py:268-276), split (F3),
    case-fold (F4), md5 key derivation (F5/F6,
    /root/reference/load/UpdateDBPLPTSTable.py:26-33), try_cast (F7),
    ceil/round (F8), date format (F9), year extract (F10), CASE ladder
    (F13, /root/reference/load/UpdateDBPLPTSTable.py:94-126)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).alias("pri_code"),
        F.regexp_extract("o_orderpriority", "([0-9])", 1).alias("pri_digit"),
        F.element_at(F.split("o_orderpriority", "-"), 2).alias("pri_word"),
        F.lower("o_orderstatus").alias("status_lc"),
        F.substring(
            F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit("-"), F.col("o_orderstatus"))),
            1,
            12,
        ).alias("hash_id"),
        F.substring("o_orderpriority", 1, 1).try_cast("long").alias("pri_int"),
        F.ceil("o_totalprice").cast("long").alias("price_ceil"),
        F.round("o_totalprice", 1).alias("price_round"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.when(F.col("o_totalprice") > 100000, "big")
        .when(F.col("o_totalprice") > 10000, "mid")
        .otherwise("small")
        .alias("size_class"),
    )


@q(
    "json_props_extract",
    """
    SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def json_props_extract(spark, sf_dir):
    """F12 — JSON field extraction (reference transcoder JSON parse:
    /root/reference/load/AWSTranscoder.py:50-88)."""
    return _t(spark, sf_dir, "events").select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


# =====================================================================
# Training-data pipeline ops: documents / embeddings
# =====================================================================


@q(
    "doc_token_stats",
    """
    SELECT doc_id,
           length(text) AS n_chars_computed,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           round(length(text) * 1.0 / len(string_split(text, ' ')), 3) AS avg_token_len
    FROM documents
    """,
)
def doc_token_stats(spark, sf_dir):
    """Token counting over the documents table (training-data op)."""
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_computed"),
        n_tok.cast("long").alias("n_tokens"),
        F.round(F.length("text") * 1.0 / n_tok, 3).alias("avg_token_len"),
    )


@q(
    "doc_fingerprint",
    """
    SELECT doc_id, substr(md5(text), 1, 16) AS fp, lang
    FROM documents
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Document fingerprinting via stable content hash (dedup key)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring(F.md5("text"), 1, 16).alias("fp"), "lang"
    )


@q(
    "dedup_exact_docs",
    """
    SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keeper
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_docs(spark, sf_dir):
    """Exact dedup: hash-groupBy, keep lowest id per content hash."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper"))
    )


@q(
    "doc_quality_score",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS the_count,
           round(((length(text) - length(replace(text, 'the', ''))) / 3.0)
                 / len(string_split(text, ' ')), 4) AS stopword_ratio
    FROM documents WHERE lang = 'en'
    """,
)
def doc_quality_score(spark, sf_dir):
    """Quality scoring: stopword-density heuristic (training-data op)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    n_tok = F.size(F.split(F.col("text"), " "))
    the_count = (F.length("text") - F.length(F.replace(F.col("text"), F.lit("the"), F.lit("")))) / 3
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        the_count.cast("long").alias("the_count"),
        F.round(the_count / n_tok, 4).alias("stopword_ratio"),
    )


@q(
    "embedding_norms_by_label",
    """
    SELECT label,
           round(avg(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 3) AS avg_norm,
           count(*) AS n
    FROM embeddings GROUP BY label
    """,
)
def embedding_norms_by_label(spark, sf_dir):
    """Vector math over array<float>: L2 norms via JVM-side higher-order
    functions (no Python in the loop)."""
    emb = _t(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return emb.groupBy("label").agg(
        F.round(F.avg(norm), 3).alias("avg_norm"), F.count(F.lit(1)).alias("n")
    )


@q(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
    pairs AS (
      SELECT q.qid, c.vec_id AS cid,
             round(
               list_sum(list_transform(list_zip(q.qe, c.embedding),
                                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               3) AS cos_sim
      FROM q CROSS JOIN embeddings c WHERE c.vec_id <> q.qid)
    SELECT qid, cid, cos_sim FROM (
      SELECT qid, cid, cos_sim,
             row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rn
      FROM pairs) WHERE rn <= 5
    """,
)
def ann_cosine_topk(spark, sf_dir):
    """Similarity search baseline: brute-force cosine top-5 for 5 query
    vectors. The query side is broadcast (tiny); the scan side streams —
    at scale swap in the LSH-bucketed variant (operators.similarity)."""
    # r6: spread the single-row-group fixture scan — the interpreted
    # zip_with/aggregate cosine lane otherwise runs in ONE map task
    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    q_side = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def norm(a):
        return F.sqrt(
            F.aggregate(
                F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    pairs = (
        F.broadcast(q_side)
        .crossJoin(emb)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            F.round(
                dot(F.col("qe"), F.col("embedding"))
                / (norm(F.col("qe")) * norm(F.col("embedding"))),
                3,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "cid", "cos_sim")
    )


@q(
    "text_to_embedding_ann",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                t -> t <> '')) AS tok
      FROM documents
    ),
    cells AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok || '|0'), 1, 15) AS BIGINT) % 16 AS b,
             SUM(CASE WHEN CAST('0x' || substr(md5(tok || '|1'), 1, 15) AS BIGINT) % 2 = 0
                      THEN 1.0 ELSE -1.0 END) AS v
      FROM toks GROUP BY 1, 2
    ),
    dense AS (
      SELECT d.doc_id, i.i, COALESCE(c.v, 0.0) AS v
      FROM (SELECT DISTINCT doc_id FROM documents) d
      CROSS JOIN (SELECT unnest(range(16)) AS i) i
      LEFT JOIN cells c ON c.doc_id = d.doc_id AND c.b = i.i
    ),
    vecs AS (
      SELECT doc_id, list(v ORDER BY i) AS vec, sqrt(sum(v * v)) AS nrm
      FROM dense GROUP BY doc_id
    ),
    normed AS (
      SELECT doc_id,
             CASE WHEN nrm > 0 THEN list_transform(vec, x -> x / nrm) ELSE vec END AS vec
      FROM vecs
    ),
    q AS (SELECT doc_id AS qid, vec AS qv FROM normed WHERE doc_id < 5),
    pairs AS (
      SELECT q.qid, c.doc_id AS cid,
             round(list_sum(list_transform(list_zip(q.qv, c.vec), p -> p[1] * p[2])), 3)
               AS cos_sim
      FROM q CROSS JOIN normed c WHERE c.doc_id <> q.qid)
    SELECT qid, cid, cos_sim FROM (
      SELECT qid, cid, cos_sim,
             row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rn
      FROM pairs) WHERE rn <= 5
    """,
)
def text_to_embedding_ann(spark, sf_dir):
    """Raw text -> feature-hashed embedding -> cosine top-5, end to end.

    The embed stage (functions/embed.py hash_embedding, md5_60 oracle
    mode) is pure map-side JVM fold — zero shuffles; the search stage is
    the brute-force broadcast baseline (swap in LSH/IVF at scale). Cell
    values stay exact integer counts until one final L2 normalize, so
    Spark and the SQL oracle agree bitwise before the round(3)."""
    from dbp_etl_spark.functions.embed import hash_embedding

    # r6: spread the single-row-group fixture scan (per-token md5-60
    # hashing + dense fold is a heavy interpreted HOF lane)
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    vecs = docs.select(
        "doc_id", hash_embedding(F.col("text"), dim=16, hash_fn="md5_60").alias("vec")
    )
    q_side = vecs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("qid"), F.col("vec").alias("qv")
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    pairs = (
        F.broadcast(q_side)
        .crossJoin(vecs)
        .filter(F.col("doc_id") != F.col("qid"))
        .select(
            "qid",
            F.col("doc_id").alias("cid"),
            F.round(dot(F.col("qv"), F.col("vec")), 3).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "cid", "cos_sim")
    )


@q(
    "value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (JVM-side F.percentile,
    not the approximate sketch) — both engines use the standard
    linear-interpolation definition, so values agree bitwise before the
    round(4). At 100 TB swap in percentile_approx (t-digest) and drop
    the oracle to rows-only; the exact form is the correctness anchor."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


@q(
    "sales_cube",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS yr,
           round(sum(o_totalprice), 2) AS total, count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, year(o_orderdate))
    """,
)
def sales_cube(spark, sf_dir):
    """CUBE grouping sets: all 4 subtotal combinations over two dims in
    one pass (Catalyst expands to a union of grouped aggregations)."""
    o = _t(spark, sf_dir, "orders").withColumn("yr_num", F.year("o_orderdate"))
    return (
        o.cube("o_orderstatus", "yr_num")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce(F.col("yr_num").cast("string"), F.lit("ALL")).alias("yr"),
            "total",
            "n",
        )
    )


@q(
    "stratified_sample_docs",
    """
    SELECT doc_id, lang, rk FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents)
    WHERE rk <= 5
    """,
)
def stratified_sample_docs(spark, sf_dir):
    """Deterministic stratified sampling: k docs per stratum (lang),
    selected by hash order — the training-data curation primitive for
    balanced subset extraction. Hash order (md5 of the id) gives a
    stable pseudo-random sample that is reproducible across engines,
    partitionings and runs — unlike rand()-based sampling. One window
    shuffle; at 100 TB this is the same plan, keyed by the stratum."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "lang", "rk")
    )


@q(
    "doc_tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                t -> t <> '')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             round(tf.tf * (n.n + 1.0) / (df.df + 1.0), 4) AS score
      FROM tf JOIN df USING (tok) CROSS JOIN n
      WHERE tf.doc_id < 40)
    SELECT doc_id, tok, score FROM (
      SELECT doc_id, tok, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rk
      FROM scored) WHERE rk <= 3
    """,
)
def doc_tfidf_top_terms(spark, sf_dir):
    """Per-doc top-3 terms by tf×idf. Uses the RATIO idf variant
    (N+1)/(df+1) instead of log-idf so every intermediate stays an
    exact-integer-derived double — bitwise identical across engines
    (log differs in the last ulp between libm implementations, which
    can flip rank ties). Shape: map-side tokenize → two shuffles
    (tf groupBy, df groupBy) → broadcast-sized df join → window. The
    df table is vocabulary-sized; at 100 TB it broadcast-joins or
    bucket-joins by token — never a cross product."""
    docs = _t(spark, sf_dir, "documents")
    from dbp_etl_spark.functions.embed import tokenize

    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.count()  # bounded: one scalar
    scored = (
        tf.filter(F.col("doc_id") < 40)
        .join(df_, "tok")
        .select(
            "doc_id",
            "tok",
            F.round(F.col("tf") * (F.lit(n) + 1.0) / (F.col("df") + 1.0), 4).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "tok", "score")
    )


@q(
    "contamination_ngram_overlap",
    """
    WITH tokd AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - 3),
                                   i -> array_to_string(list_slice(toks, i, i + 4), ' '))) AS g
      FROM tokd WHERE len(toks) >= 5
    ),
    bench AS (SELECT DISTINCT doc_id AS bench_id, g FROM grams WHERE doc_id % 50 = 0),
    corpus AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 50 <> 0),
    hits AS (
      SELECT c.doc_id, c.g, b.bench_id
      FROM corpus c JOIN bench b USING (g))
    SELECT doc_id,
           count(DISTINCT g) AS n_shared_5grams,
           count(DISTINCT bench_id) AS n_bench_docs_hit
    FROM hits GROUP BY doc_id
    """,
)
def contamination_ngram_overlap(spark, sf_dir):
    """Benchmark-contamination detection: which corpus docs share any
    5-gram with a held-out benchmark set (here: every 50th doc). The
    industry-standard n-gram-overlap decontamination check (GPT-3
    appendix C / The Pile), expressed as an EQUI-JOIN on the gram —
    never an all-pairs comparison. At 100 TB: grams of the (small)
    benchmark side broadcast; the corpus side streams map-side into
    the join; the distinct-count agg shuffles once by doc."""
    # r6: spread the fixture scan (5-gram explode lane)
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    from dbp_etl_spark.functions.embed import tokenize

    tokd = docs.select("doc_id", tokenize(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 5
    )
    grams = tokd.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 4),
                lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, 5)),
            )
        ).alias("g"),
    )
    bench = (
        grams.filter(F.col("doc_id") % 50 == 0)
        .select(F.col("doc_id").alias("bench_id"), "g")
        .distinct()
    )
    corpus = grams.filter(F.col("doc_id") % 50 != 0).select("doc_id", "g").distinct()
    hits = corpus.join(F.broadcast(bench), "g")
    return hits.groupBy("doc_id").agg(
        F.count_distinct("g").alias("n_shared_5grams"),
        F.count_distinct("bench_id").alias("n_bench_docs_hit"),
    )


# =====================================================================
# Snapshot-compare CDC (round 4)
# =====================================================================


@q(
    "dim_snapshot_apply",
    """
    WITH post AS (
      SELECT user_id, ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE ts >= TIMESTAMP '2024-01-30 12:00:00')
    SELECT 'https://dim.example/u' || CAST(user_id AS VARCHAR) AS url,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           round(value, 2) AS val
    FROM post WHERE rn = 1
    """,
)
def dim_snapshot_apply(spark, sf_dir):
    """Snapshot-compare CDC mode END-TO-END (reference metadata-load
    shape: full-dimension diff with leftover-key deletes,
    /root/reference/load/UpdateDBPBiblesTable.py:65-126): seed a real
    lake table from the pre-cutoff snapshot, apply the post-cutoff
    snapshot via CDCRunner.apply_snapshot (full-outer value diff,
    inferred tombstones, exactly-once ledger), and return the final
    table state. The oracle is the post-cutoff snapshot itself — the
    engine must CONVERGE to it through diff ops: 40 of 150 users have
    no post-cutoff events, so their rows must be inferred-deleted for
    the row counts to match."""
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.cdc import CDCRunner
    from dbp_etl_spark.lake import LakeTable, TableSchema

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())

    def snap_of(df):
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                F.concat(F.lit("https://dim.example/u"), F.col("user_id").cast("string")).alias(
                    "url"
                ),
                F.col("ts").alias("warc_ts"),
                F.encode(
                    F.concat(F.lit("<html><body><p>v"), F.col("value").cast("string"), F.lit("</p></body></html>")),
                    "utf-8",
                ).alias("html"),
                F.round("value", 2).alias("val"),
            )
        )

    cutoff = "2024-01-30 12:00:00"
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
    root = tempfile.mkdtemp(prefix="dim_snapshot_")
    table = LakeTable.create(spark, f"{root}/dim", schema, key="url", num_buckets=8)
    runner = CDCRunner(table)
    runner.apply_snapshot(snap_of(ev.filter(F.col("ts") < cutoff)), batch_id="seed")
    runner.apply_snapshot(snap_of(ev.filter(F.col("ts") >= cutoff)), batch_id="snap2")
    return table.read().select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.col("val"),
    )


@q(
    "patch_update_events",
    """
    WITH ev AS (
      SELECT user_id, ts, event_id, round(value, 2) AS val,
             CASE WHEN event_type = 'signup' THEN 'insert'
                  WHEN event_type = 'error'  THEN 'delete'
                  ELSE 'patch' END AS op
      FROM events),
    latest_full AS (
      SELECT user_id, ts, event_id, val, op FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev WHERE op IN ('insert', 'delete')) WHERE rn = 1),
    alive AS (SELECT * FROM latest_full WHERE op = 'insert'),
    p AS (
      SELECT e.user_id, e.ts, e.event_id, e.val, (e.event_id % 2 = 0) AS is_score
      FROM ev e JOIN alive a USING (user_id)
      WHERE e.op = 'patch' AND e.ts > a.ts),
    folded AS (
      SELECT user_id,
             max(ts) AS pts,
             arg_max(val, ts) FILTER (WHERE is_score) AS p_score,
             arg_max(event_id, ts) FILTER (WHERE NOT is_score) AS p_html_eid
      FROM p GROUP BY user_id)
    SELECT 'https://p.example/u' || CAST(a.user_id AS VARCHAR) AS url,
           strftime(coalesce(f.pts, a.ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
           coalesce(f.p_score, a.val) AS score,
           length('<html><body><p>e'
                  || CAST(coalesce(f.p_html_eid, a.event_id) AS VARCHAR)
                  || '</p></body></html>') AS html_len
    FROM alive a LEFT JOIN folded f USING (user_id)
    """,
)
def patch_update_events(spark, sf_dir):
    """Sparse patch events END-TO-END (reference per-column changesets,
    /root/reference/load/SQLBatchExec.py:118-129): map the events table
    to a CDC log where signup=insert, error=delete, and every other
    event is an op='patch' touching exactly ONE column (even event_id
    -> score, odd -> html; the untouched column is NULL = unchanged),
    apply it through CDCRunner(patch_ops=True) in five ts-aligned
    weekly batches onto a real lake table, and return the final state.
    The oracle folds the same log in SQL: per live user, the latest
    full event's values overlaid by the last non-null patch per column.
    Untouched columns surviving a patch is exactly what the value-hash
    verifies."""
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.cdc import CDCRunner
    from dbp_etl_spark.lake import LakeTable, TableSchema

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    op = (
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("patch")
    )
    is_score = F.col("event_id") % 2 == 0
    html = F.encode(
        F.concat(
            F.lit("<html><body><p>e"), F.col("event_id").cast("string"), F.lit("</p></body></html>")
        ),
        "utf-8",
    )
    changes = ev.select(
        F.concat(F.lit("https://p.example/u"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.when(op == "insert", html)
        .when((op == "patch") & ~is_score, html)
        .otherwise(F.lit(None).cast("binary"))
        .alias("html"),
        F.when(op == "insert", F.round("value", 2))
        .when((op == "patch") & is_score, F.round("value", 2))
        .otherwise(F.lit(None).cast("double"))
        .alias("score"),
        op.alias("op"),
        # ts-aligned weekly batches: batch order == event-time order, so
        # sequential batch apply equals the global ts-order fold
        ((F.dayofmonth("ts") - 1).cast("long") / F.lit(7)).cast("long").alias("batch_id"),
    )
    schema = TableSchema.from_struct(
        T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("html", T.BinaryType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("score", T.DoubleType()),
            ]
        )
    )
    root = tempfile.mkdtemp(prefix="patch_events_")
    # r6: stage the rendered log by batch (one lane evaluation total
    # instead of one per weekly merge; see cdc/runner.py stage_by_batch)
    changes = CDCRunner.stage_by_batch(changes, f"{root}/staged")
    table = LakeTable.create(spark, f"{root}/pages", schema, key="url", num_buckets=8)
    CDCRunner(table, patch_ops=True).run(changes)
    return table.read().select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        "score",
        F.octet_length("html").cast("long").alias("html_len"),
    )


@q(
    "text_search_and",
    """
    WITH tokd AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
      FROM documents)
    SELECT doc_id AS doc,
           CAST(len(list_filter(toks, t -> t = 'spark'))
                + len(list_filter(toks, t -> t = 'vector')) AS BIGINT) AS total_tf
    FROM tokd
    WHERE list_contains(toks, 'spark') AND list_contains(toks, 'vector')
    """,
)
def text_search_and(spark, sf_dir):
    """Inverted-index boolean AND search (the engine's analog of the
    reference FULLTEXT index, /root/reference/database/dbp.sql:759-764):
    build token->doc postings over documents, return docs containing
    ALL query terms with their summed term frequency. Token-keyed
    shuffle only; the term filter pushes down to the index scan."""
    from dbp_etl_spark.operators.text_search import build_postings, search_and

    docs = _t(spark, sf_dir, "documents")
    return search_and(build_postings(docs), ["spark", "vector"])


@q(
    "text_search_phrase",
    """
    WITH tokd AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
      FROM documents),
    m AS (
      SELECT doc_id,
             len(list_filter(range(1, len(toks)), i -> toks[i] = 'table' AND toks[i+1] = 'table')) AS n
      FROM tokd)
    SELECT doc_id AS doc, CAST(n AS BIGINT) AS n_matches FROM m WHERE n > 0
    """,
)
def text_search_phrase(spark, sf_dir):
    """Positional phrase search over the inverted index: docs containing
    the exact token sequence, with occurrence counts. The phrase
    ('table','table') repeats a token, exercising the offset-vote join
    (one occurrence votes for several phrase offsets). Overlapping
    occurrences count individually on both sides."""
    from dbp_etl_spark.operators.text_search import build_postings, search_phrase

    docs = _t(spark, sf_dir, "documents")
    return search_phrase(build_postings(docs), ["table", "table"])


@q(
    "text_search_bm25",
    """
    WITH tokd AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
      FROM documents),
    tfg AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM tokd) GROUP BY 1, 2),
    dl AS (SELECT doc_id, len(toks) AS dl FROM tokd WHERE len(toks) > 0),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    hits AS (
      SELECT tfg.doc_id,
             ln((stats.n - qdf.df + 0.5) / (qdf.df + 0.5) + 1.0)
             * (tfg.tf * 2.2)
               / (tfg.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
      FROM tfg
      JOIN (SELECT tok, count(*) AS df FROM tfg
            WHERE tok IN ('spark', 'query', 'index') GROUP BY 1) qdf USING (tok)
      JOIN dl USING (doc_id) CROSS JOIN stats),
    scored AS (SELECT doc_id AS doc, round(sum(s), 4) AS score FROM hits GROUP BY 1)
    SELECT doc, score, rk FROM (
      SELECT doc, score, row_number() OVER (ORDER BY score DESC, doc) AS rk
      FROM scored)
    WHERE rk <= 10
    """,
)
def text_search_bm25(spark, sf_dir):
    """BM25-ranked retrieval over the inverted index (k1=1.2, b=0.75,
    OR semantics, one absent query term exercising the no-hit path) —
    the relevance-ranked counterpart of the reference's FULLTEXT
    MATCH...AGAINST (/root/reference/database/dbp.sql:759-764). Plan:
    term-IN filter pushed to the postings scan, vocabulary-bounded df
    agg broadcast back, one doc-keyed join to the doc-length table,
    TakeOrdered top-k (the rank window sees only k rows)."""
    from dbp_etl_spark.operators.text_search import build_postings, search_ranked

    docs = _t(spark, sf_dir, "documents")
    return search_ranked(build_postings(docs), ["spark", "query", "index"], k=10)


@q(
    "incremental_rollup_maintain",
    """
    WITH pre AS (
      SELECT user_id, round(value, 2) AS score,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE ts < TIMESTAMP '2024-01-30 12:00:00'),
    seed AS (
      SELECT 'u' || CAST(user_id AS VARCHAR) AS url,
             CASE user_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'fr' ELSE 'de' END AS lang,
             score
      FROM pre WHERE rn = 1),
    w2a AS (SELECT url, lang,
                   CASE WHEN score > 200 THEN score - 100.0 ELSE score END AS score
            FROM seed),
    w2b AS (SELECT url,
                   CASE WHEN lang = 'en' AND score < 50 THEN 'fr' ELSE lang END AS lang,
                   score
            FROM w2a),
    w2c AS (SELECT * FROM w2b WHERE NOT (lang = 'de' AND score > 300)),
    w3a AS (SELECT * FROM w2c
            UNION ALL
            SELECT 'n' || CAST(event_id AS VARCHAR) AS url,
                   CASE event_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'fr' ELSE 'de' END AS lang,
                   round(value, 2) AS score
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-30 12:00:00' AND event_type = 'signup'),
    w3b AS (SELECT url, lang,
                   CASE WHEN score < 20 THEN score + 500.0 ELSE score END AS score
            FROM w3a)
    SELECT lang, CAST(count(*) AS BIGINT) AS n, round(sum(score), 4) AS total
    FROM w3b GROUP BY lang
    """,
)
def incremental_rollup_maintain(spark, sf_dir):
    """Incremental view maintenance END-TO-END (reference dependent-
    table refresh, /root/reference/load/DBPLoadController.py:126-140,
    done there by full re-reads after each load): seed a lake table
    from pre-cutoff events, maintain a lang->(n, total) rollup through
    three churn windows — predicate updates, a group MOVE (en->fr),
    predicate deletes, fresh inserts — advancing the rollup ONLY via
    the change-data feed (read_changes include_pre=True: retract
    pre-images, add post-images). The oracle recomputes the final
    state from scratch; the maintained state must land on it exactly.
    At 10^10 rows each refresh costs the churn, not the table."""
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.lake import LakeTable, TableSchema
    from dbp_etl_spark.operators.incremental import IncrementalRollup

    cutoff = "2024-01-30 12:00:00"
    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    seed = (
        ev.filter(F.col("ts") < cutoff)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("url"),
            F.col("ts").alias("warc_ts"),
            F.element_at(
                F.array(F.lit("en"), F.lit("fr"), F.lit("de")),
                (F.col("user_id") % 3 + 1).cast("int"),
            ).alias("lang"),
            F.round("value", 2).alias("score"),
        )
    )
    schema = TableSchema.from_struct(
        T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("lang", T.StringType()),
                T.StructField("score", T.DoubleType()),
            ]
        )
    )
    root = tempfile.mkdtemp(prefix="ivm_rollup_")
    t = LakeTable.create(spark, f"{root}/dim", schema, key="url", num_buckets=8)
    roll = IncrementalRollup(t, f"{root}/state", ["lang"], "score")

    # window 1: bootstrap
    t = t.append(seed, batch_id="w1")
    roll.source = t
    roll.refresh()
    # window 2: predicate updates, a group move, predicate deletes
    t = t.update_where(F.col("score") > 200, {"score": F.col("score") - 100.0}, batch_id="w2a")
    t = t.update_where(
        (F.col("lang") == "en") & (F.col("score") < 50), {"lang": F.lit("fr")}, batch_id="w2b"
    )
    t = t.delete_where((F.col("lang") == "de") & (F.col("score") > 300), batch_id="w2c")
    roll.source = t
    roll.refresh()
    # window 3: fresh inserts + another update sweep
    new_rows = ev.filter((F.col("ts") >= cutoff) & (F.col("event_type") == "signup")).select(
        F.concat(F.lit("n"), F.col("event_id").cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.element_at(
            F.array(F.lit("en"), F.lit("fr"), F.lit("de")),
            (F.col("event_id") % 3 + 1).cast("int"),
        ).alias("lang"),
        F.round("value", 2).alias("score"),
    )
    t = t.append(new_rows, batch_id="w3a")
    t = t.update_where(F.col("score") < 20, {"score": F.col("score") + 500.0}, batch_id="w3b")
    roll.source = t
    roll.refresh()
    return roll.read().select("lang", "n", F.round("total", 4).alias("total"))


@q(
    "rollback_replay_converges",
    """
    WITH ranked AS (
      SELECT user_id, ts, event_id, round(value, 2) AS val,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT 'u' || CAST(user_id AS VARCHAR) AS url,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           val
    FROM ranked WHERE rn = 1
    """,
)
def rollback_replay_converges(spark, sf_dir):
    """Bad-batch recovery END-TO-END (reference transactional rollback,
    /root/reference/load/SQLBatchExec.py:58-99): apply the pre-cutoff
    log, remember the good snapshot, apply the post-cutoff batch, ROLL
    BACK to the good snapshot (metadata-only, forward history), then
    re-apply the same post-cutoff batch from the log — the reverted
    ledger must let it re-apply (not no-op) and the final state must
    equal the never-rolled-back outcome. The oracle is the plain
    latest-state fold over the whole log."""
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.lake import LakeTable, TableSchema

    cutoff = "2024-01-30 12:00:00"
    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())

    def latest(df):
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("url"),
                F.col("ts").alias("warc_ts"),
                F.round("value", 2).alias("val"),
            )
        )

    schema = TableSchema.from_struct(
        T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("val", T.DoubleType()),
            ]
        )
    )
    root = tempfile.mkdtemp(prefix="rollback_q_")
    t = LakeTable.create(spark, f"{root}/t", schema, key="url", num_buckets=8)

    pre = latest(ev.filter(F.col("ts") < cutoff))
    t = t.append(pre, batch_id="w1")
    good = t.snapshot_id

    # the post-cutoff "batch": a full-state refresh (tombstone the old
    # rows, append the new latest-per-key state) — two ledgered commits
    # that must BOTH revert with the rollback and re-apply on replay
    post = latest(ev)  # whole-log latest = the target end state

    def apply_post(tbl, tag):
        tbl = tbl.delete_where(F.col("url").isNotNull(), batch_id=f"{tag}-del")
        return tbl.append(post, batch_id=f"{tag}-add")

    t = apply_post(t, "w2")
    t = t.rollback_to(good)  # suspicious batch undone…
    assert not t.is_committed("w2-add")  # …and its ledger entries reverted
    t = apply_post(t, "w2")  # …log replay re-applies it
    return t.read().select(
        "url", F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"), "val"
    )


@q(
    "stats_pruned_range_scan",
    """
    SELECT 'https://s.example/u' || CAST(user_id AS VARCHAR)
             || '-' || CAST(event_id AS VARCHAR) AS url,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           round(value, 2) AS score
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
      AND ts <  TIMESTAMP '2024-01-29 00:00:00'
    """,
)
def stats_pruned_range_scan(spark, sf_dir):
    """Manifest-bound file skipping END-TO-END (lake/stats.py; Iceberg
    lower/upper-bounds analog of the reference's filename filtering
    before download, /root/reference/load/InputFileset.py:86-118):
    load the events log into a lake table with per-file ``warc_ts``
    bounds via five week-sliced appends, then range-scan one week with
    ``read(where=...)``. The metadata plan must prune the off-window
    weeks' files — the query RAISES if no file was skipped, so the
    driver's green row certifies both the pruning and (via value hash)
    that pruning changed nothing. Oracle: the same range filter over
    the raw log."""
    import datetime
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.lake import LakeTable, TableSchema

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    rows = ev.select(
        F.concat(
            F.lit("https://s.example/u"),
            F.col("user_id").cast("string"),
            F.lit("-"),
            F.col("event_id").cast("string"),
        ).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.round("value", 2).alias("score"),
    )
    schema = TableSchema.from_struct(
        T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("score", T.DoubleType()),
            ]
        )
    )
    root = tempfile.mkdtemp(prefix="stats_scan_")
    t = LakeTable.create(
        spark,
        f"{root}/t",
        schema,
        key="url",
        num_buckets=4,
        stats_columns=["warc_ts"],
    )
    cuts = [datetime.datetime(2024, 1, d) for d in (1, 8, 15, 22, 29)] + [
        datetime.datetime(2024, 3, 1)
    ]
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        t = t.append(
            rows.filter((F.col("warc_ts") >= lo) & (F.col("warc_ts") < hi)),
            batch_id=f"week{i}",
        )
    # string predicates = session-timezone wall-time semantics, the
    # same rule DuckDB's naive timestamps follow in the oracle
    where = [
        ("warc_ts", ">=", "2024-01-25 00:00:00"),
        ("warc_ts", "<", "2024-01-29 00:00:00"),
    ]
    pruned = t.candidate_files(where=where)
    if not len(pruned) < len(t.manifest["files"]):
        raise RuntimeError("manifest bounds pruned no files — file skipping is broken")
    return t.read(where=where).select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        "score",
    )


@q(
    "session_incident_overlap",
    """
    WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events),
    lagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
                  THEN 1 ELSE 0 END AS new_s
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess_e AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM lagged),
    sessions AS (
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             min(ts) AS s_start, max(ts) + INTERVAL 300 SECOND AS s_end
      FROM sess_e GROUP BY 1, 2),
    incidents AS (
      SELECT DISTINCT date_trunc('hour', ts) AS i_start,
             date_trunc('hour', ts) + INTERVAL 1 HOUR AS i_end
      FROM ev WHERE event_type = 'error')
    SELECT s.user_id, s.session_id,
           strftime(s.s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(i.i_start, '%Y-%m-%d %H:%M:%S') AS incident_hour
    FROM sessions s JOIN incidents i
      ON s.s_start < i.i_end AND i.i_start < s.s_end
    """,
)
def session_incident_overlap(spark, sf_dir):
    """Interval overlap join with NO equi key (operators/windows.py:
    overlap_join_binned): derive per-user activity sessions (1 h gap
    rule, 300 s trailing window) and error-incident hours, then find
    every session that overlaps any incident hour — the "who was
    active during an outage" shape. The engine decomposes time into
    hour bins and equi-joins on the bin id (exactly-once via the
    first-overlap-bin rule); the naive form DuckDB runs is the
    O(n·m) inequality join — same pairs, different plan class."""
    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    from dbp_etl_spark.operators.windows import overlap_join_binned, sessionize

    sess = sessionize(
        ev.select("user_id", "ts", "event_id"), "user_id", "ts", 3600, "event_id"
    )
    sessions = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s_start"),
        (F.max("ts") + F.expr("INTERVAL 300 SECONDS")).alias("s_end"),
    )
    incidents = (
        ev.filter(F.col("event_type") == "error")
        .select(F.date_trunc("hour", F.col("ts")).alias("i_start"))
        .distinct()
        .withColumn("i_end", F.col("i_start") + F.expr("INTERVAL 1 HOUR"))
    )
    pairs = overlap_join_binned(
        sessions, incidents, ("s_start", "s_end"), ("i_start", "i_end"), bin_seconds=3600
    )
    return pairs.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        F.date_format("s_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("i_start", "yyyy-MM-dd HH:mm:ss").alias("incident_hour"),
    )


@q(
    "zorder_multidim_scan",
    """
    SELECT 'https://z.example/e' || CAST(event_id AS VARCHAR) AS url,
           user_id, round(value, 2) AS val
    FROM events
    WHERE round(value, 2) >= 120.0 AND round(value, 2) < 180.0
    """,
)
def zorder_multidim_scan(spark, sf_dir):
    """Z-order clustering + manifest-bound file skipping on a
    NON-LEADING dimension (operators/zorder.py, lake/stats.py; the
    public OPTIMIZE-ZORDER idea): load events into a lake table with
    per-file bounds on (user_id, val), compact with a Morton interleave
    of both columns split into ~8 files per bucket, then range-scan on
    ``val`` alone. Under a plain user_id sort every file would span the
    whole val range — the query RAISES unless the metadata plan
    actually skipped files, so the green row certifies multi-dim
    clustering end-to-end. Oracle: the same filter over the raw log."""
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.lake import LakeTable, TableSchema

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    rows = ev.select(
        F.concat(F.lit("https://z.example/e"), F.col("event_id").cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.col("user_id").alias("user_id"),
        F.round("value", 2).alias("val"),
    )
    schema = TableSchema.from_struct(
        T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("val", T.DoubleType()),
            ]
        )
    )
    root = tempfile.mkdtemp(prefix="zorder_scan_")
    t = LakeTable.create(
        spark,
        f"{root}/t",
        schema,
        key="url",
        num_buckets=4,
        stats_columns=["user_id", "val"],
    )
    t = t.append(rows, batch_id="load")
    t = t.compact("z1", zorder_by=["user_id", "val"], files_per_bucket=8)
    where = [("val", ">=", 120.0), ("val", "<", 180.0)]
    if not len(t.candidate_files(where=where)) < len(t.manifest["files"]):
        raise RuntimeError("z-order clustering pruned no files on the second dimension")
    return t.read(where=where).select("url", "user_id", "val")


@q(
    "hll_distinct_prefilter",
    """
    SELECT user_id, CAST(count(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT) AS distinct_cnt
    FROM events
    GROUP BY user_id
    HAVING count(DISTINCT strftime(ts, '%Y-%m-%d')) >= 27
    """,
)
def hll_distinct_prefilter(spark, sf_dir):
    """Sketch-pruned exact distinct-count threshold
    (operators/sketches.py, Flajolet HyperLogLog 2007): users active on
    >= 27 distinct days. The HLL pass (2^13 mergeable registers per
    group, built map-side with one max-combine shuffle) prunes groups
    whose approx distinct is below the 6-sigma envelope; the exact
    countDistinct then runs only on the survivors — at 100 TB the
    exact pass touches a fraction of the keys while the answer stays
    exact (the canonical two-pass HAVING-distinct plan). The engine's
    analog of the reference's per-fileset completeness checks
    (/root/reference/load/UpdateDBPFilesetTables.py:60-78) at a scale
    where exact-first is unaffordable."""
    from dbp_etl_spark.operators.sketches import hll_prefilter_groups

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    return hll_prefilter_groups(ev, "user_id", "day", min_distinct=27, p=13).select(
        "user_id", F.col("distinct_cnt").cast("long").alias("distinct_cnt")
    )


@q(
    "cm_heavy_hitters",
    """
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 12
    """,
)
def cm_heavy_hitters(spark, sf_dir):
    """Sketch-pruned exact heavy hitters (operators/sketches.py,
    Cormode-Muthukrishnan Count-Min 2005): customers with >= 12 orders.
    The CM pass folds the whole table into depth x width counters
    (bounded reduce state regardless of input size); because CM NEVER
    underestimates, no true heavy hitter can be pruned — the follow-up
    exact count runs only on candidates, so the result is provably
    exact at any scale. Collisions only admit extra candidates (extra
    work, never wrong rows)."""
    from dbp_etl_spark.operators.sketches import cm_heavy_hitters_exact

    orders = _t(spark, sf_dir, "orders")
    return cm_heavy_hitters_exact(orders, "o_custkey", min_count=12).select(
        "o_custkey", F.col("cnt").cast("long").alias("cnt")
    )


@q(
    "mor_delta_merge_state",
    """
    WITH ev AS (
      SELECT user_id, ts, event_id, round(value, 2) AS val,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
      FROM events),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev) WHERE rn = 1)
    SELECT 'https://m.example/u' || CAST(user_id AS VARCHAR) AS url,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           val,
           CAST(length('<html><body><p>m' || CAST(event_id AS VARCHAR)
                       || '</p></body></html>') AS BIGINT) AS html_len
    FROM latest WHERE op <> 'delete'
    """,
)
def mor_delta_merge_state(spark, sf_dir):
    """Merge-on-read END-TO-END (lake/table.py write_deltas/_resolve_mor;
    the Hudi-MOR / Iceberg-v2 write path vs. the reference's full
    row-rewrite updates, /root/reference/load/UpdateDBPFilesetTables.py:306-377):
    apply the events log as weekly CDC batches onto a
    ``merge_on_read=True`` table — every MERGE commits only the churn
    as sequence-numbered delta files — then read the final state
    through per-key delta resolution (newest delta wins, base rows
    shadowed). The query RAISES unless delta files were actually
    written, and RAISES if compacting them back into base files changes
    the state hash — the driver's green row therefore certifies the
    delta write path, the read-time resolution, AND compaction folding
    against the plain latest-state-per-key oracle. At 10^10 rows this
    is the write path where a 1%-churn batch costs O(churn) instead of
    O(dirty-bucket bytes)."""
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.cdc import CDCRunner
    from dbp_etl_spark.lake import LakeTable, TableSchema

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    op = F.when(F.col("event_type") == "error", "delete").otherwise("update")
    changes = ev.select(
        F.concat(F.lit("https://m.example/u"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.when(
            op != "delete",
            F.encode(
                F.concat(
                    F.lit("<html><body><p>m"),
                    F.col("event_id").cast("string"),
                    F.lit("</p></body></html>"),
                ),
                "utf-8",
            ),
        ).alias("html"),
        F.when(op != "delete", F.round("value", 2)).alias("val"),
        op.alias("op"),
        # ts-aligned weekly batches: batch order == event-time order, so
        # sequential batch apply equals the global ts-order fold
        ((F.dayofmonth("ts") - 1).cast("long") / F.lit(7)).cast("long").alias("batch_id"),
    )
    schema = TableSchema.from_struct(
        T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("html", T.BinaryType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("val", T.DoubleType()),
            ]
        )
    )
    root = tempfile.mkdtemp(prefix="mor_merge_")
    # r6: stage the rendered log by batch (one lane evaluation total
    # instead of one per weekly merge; see cdc/runner.py stage_by_batch)
    changes = CDCRunner.stage_by_batch(changes, f"{root}/staged")
    table = LakeTable.create(
        spark, f"{root}/pages", schema, key="url", num_buckets=8, merge_on_read=True
    )
    CDCRunner(table).run(changes)
    if not any(f.get("delta") for f in table.manifest["files"]):
        raise RuntimeError("merge-on-read path not engaged: no delta files written")
    out = table.read().select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        "val",
        F.octet_length("html").cast("long").alias("html_len"),
    )
    resolved = out.persist()
    resolved.count()  # pin the MOR-resolved result before compaction
    pre_hash = table.state_hash()
    table.compact("mor-fold")
    if any(f.get("delta") for f in table.manifest["files"]):
        raise RuntimeError("compact() left delta files unfolded")
    if table.state_hash() != pre_hash:
        raise RuntimeError("compaction changed table contents")
    return resolved


@q(
    "migrate_online_rebucket",
    """
    WITH ev AS (
      SELECT user_id, ts, event_id, round(value, 2) AS val,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
      FROM events),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev) WHERE rn = 1)
    SELECT 'https://g.example/u' || CAST(user_id AS VARCHAR) AS url,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           val,
           CAST(length('<html><body><p>g' || CAST(event_id AS VARCHAR)
                       || '</p></body></html>') AS BIGINT) AS html_len
    FROM latest WHERE op <> 'delete'
    """,
)
def migrate_online_rebucket(spark, sf_dir):
    """Online incremental rebucket END-TO-END (lake/table.py
    migrate_to_buckets; the commit-window-sized sibling of rebucket()'s
    atomic full rewrite): seed a table at 8 buckets from the pre-cutoff
    events, run two 3-bucket migration steps toward 32, apply the
    post-cutoff events as a live MERGE IN THE MIDDLE of the migration
    (its writes un-migrate the buckets they touch), then keep stepping
    until the metadata-only flip lands. The query RAISES unless the
    table actually flipped to 32 buckets through incremental steps, and
    the returned state — read under the NEW spec — must equal the plain
    latest-state fold of the whole log. At 100 TB this is how a table
    outgrows its create-time layout without a single un-commitable
    rewrite job."""
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.cdc import CDCRunner
    from dbp_etl_spark.lake import LakeTable, TableSchema

    cutoff = "2024-01-30 12:00:00"
    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    op = F.when(F.col("event_type") == "error", "delete").otherwise("update")
    changes = ev.select(
        F.concat(F.lit("https://g.example/u"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.when(
            op != "delete",
            F.encode(
                F.concat(
                    F.lit("<html><body><p>g"),
                    F.col("event_id").cast("string"),
                    F.lit("</p></body></html>"),
                ),
                "utf-8",
            ),
        ).alias("html"),
        F.when(op != "delete", F.round("value", 2)).alias("val"),
        op.alias("op"),
        F.lit(0).cast("long").alias("batch_id"),
    )
    schema = TableSchema.from_struct(
        T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("html", T.BinaryType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("val", T.DoubleType()),
            ]
        )
    )
    root = tempfile.mkdtemp(prefix="migrate_q_")
    table = LakeTable.create(spark, f"{root}/pages", schema, key="url", num_buckets=8)
    runner = CDCRunner(table)
    runner.run(changes.filter(F.col("warc_ts") < cutoff))
    table.migrate_to_buckets(32, "mig-0", max_buckets=3)
    table.migrate_to_buckets(32, "mig-1", max_buckets=3)
    if table.migration_status() is None:
        raise RuntimeError("incremental migration did not engage")
    # live ingestion mid-migration: this MERGE un-migrates what it touches
    runner.run(
        changes.filter(F.col("warc_ts") >= cutoff).withColumn("batch_id", F.lit(1))
    )
    for i in range(2, 40):
        if table.num_buckets == 32:
            break
        table.migrate_to_buckets(32, f"mig-{i}", max_buckets=3)
    if table.num_buckets != 32 or table.migration_status() is not None:
        raise RuntimeError("migration failed to converge to the flip")
    return table.read().select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        "val",
        F.octet_length("html").cast("long").alias("html_len"),
    )


@q(
    "debezium_tail_apply",
    """
    WITH ev AS (
      SELECT user_id, ts, event_id, round(value, 2) AS val,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
      FROM events),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev) WHERE rn = 1)
    SELECT 'https://d.example/u' || CAST(user_id AS VARCHAR) AS url,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           val,
           CAST(length('<html><body><p>d' || CAST(event_id AS VARCHAR)
                       || '</p></body></html>') AS BIGINT) AS html_len
    FROM latest WHERE op <> 'delete'
    """,
)
def debezium_tail_apply(spark, sf_dir):
    """Debezium WAL-envelope ingestion END-TO-END (sources/debezium.py;
    the modern form of the reference's tail-the-database signal,
    /root/reference/load/DBPLoadController.py:118-141): render the
    events log as Debezium JSON envelopes (op c/u/d, ts_ms, base64
    binary in the after/before images — exactly what a Kafka topic
    fed by the MySQL/Postgres connector carries), adapt them with
    from_debezium (pure JVM from_json + column ops) and apply through
    the standard CDCRunner in weekly batches. Final state must equal
    the plain latest-state fold — proving a user can point an existing
    Debezium topic at this engine unchanged."""
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.cdc import CDCRunner
    from dbp_etl_spark.lake import LakeTable, TableSchema
    from dbp_etl_spark.sources import from_debezium

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    op_dbz = F.when(F.col("event_type") == "error", "d").otherwise("u")
    img = F.struct(
        F.concat(F.lit("https://d.example/u"), F.col("user_id").cast("string")).alias("url"),
        F.encode(
            F.concat(
                F.lit("<html><body><p>d"),
                F.col("event_id").cast("string"),
                F.lit("</p></body></html>"),
            ),
            "utf-8",
        ).alias("html"),
        F.round("value", 2).alias("val"),
    )
    envelopes = ev.select(
        F.to_json(
            F.struct(
                F.struct(
                    op_dbz.alias("op"),
                    F.unix_millis(F.col("ts")).alias("ts_ms"),
                    F.when(op_dbz == "d", img).alias("before"),
                    F.when(op_dbz != "d", img).alias("after"),
                ).alias("payload")
            )
        ).alias("value"),
        ((F.dayofmonth("ts") - 1).cast("long") / F.lit(7)).cast("long").alias("batch_id"),
    )
    row_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("val", T.DoubleType()),
        ]
    )
    changes = from_debezium(envelopes, row_schema, batch_col="batch_id")
    schema = TableSchema.from_struct(row_schema)
    root = tempfile.mkdtemp(prefix="dbz_tail_")
    # r6: stage the rendered log by batch (one lane evaluation total
    # instead of one per weekly merge; see cdc/runner.py stage_by_batch)
    changes = CDCRunner.stage_by_batch(changes, f"{root}/staged")
    table = LakeTable.create(spark, f"{root}/pages", schema, key="url", num_buckets=8)
    CDCRunner(table).run(changes)
    return table.read().select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        "val",
        F.octet_length("html").cast("long").alias("html_len"),
    )


@q(
    "maxwell_tail_apply",
    """
    WITH ev AS (
      SELECT user_id, date_trunc('second', ts) AS ts_s, event_id,
             round(value, 2) AS val,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_del,
             '<html><body><p>m' || CAST(event_id AS VARCHAR)
               || '</p></body></html>' AS html
      FROM events),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY ts_s DESC, is_del DESC, md5(html) DESC) AS rn
      FROM ev)
    SELECT 'https://m.example/u' || CAST(user_id AS VARCHAR) AS url,
           strftime(ts_s, '%Y-%m-%d %H:%M:%S') AS last_ts,
           val,
           CAST(length(html) AS BIGINT) AS html_len
    FROM ranked WHERE rn = 1 AND is_del = 0
    """,
)
def maxwell_tail_apply(spark, sf_dir):
    """Maxwell-daemon binlog ingestion END-TO-END (sources/
    binlog_formats.py): render the events log as Maxwell envelopes
    (type insert/update/delete, epoch-SECONDS ts, the full row image —
    deletes included — in `data`), adapt with from_maxwell (pure JVM)
    and apply through the standard CDCRunner in weekly batches.

    Maxwell's second-granular ts makes same-second ties reachable, so
    the oracle mirrors the engine's documented total order exactly
    (cdc/dedup.py cdc_order): latest ts, delete-beats-write, then
    md5(payload) descending — DuckDB's md5(varchar) equals Spark's
    md5(binary) on the utf-8 bytes, so the tiebreak is cross-engine
    deterministic."""
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.cdc import CDCRunner
    from dbp_etl_spark.lake import LakeTable, TableSchema
    from dbp_etl_spark.sources import from_maxwell

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    typ = F.when(F.col("event_type") == "error", "delete").otherwise("update")
    img = F.struct(
        F.concat(F.lit("https://m.example/u"), F.col("user_id").cast("string")).alias("url"),
        F.encode(
            F.concat(
                F.lit("<html><body><p>m"),
                F.col("event_id").cast("string"),
                F.lit("</p></body></html>"),
            ),
            "utf-8",
        ).alias("html"),
        F.round("value", 2).alias("val"),
    )
    envelopes = ev.select(
        F.to_json(
            F.struct(
                F.lit("db").alias("database"),
                F.lit("pages").alias("table"),
                typ.alias("type"),
                F.unix_seconds(F.col("ts")).alias("ts"),
                img.alias("data"),
            )
        ).alias("value"),
        ((F.dayofmonth("ts") - 1).cast("long") / F.lit(7)).cast("long").alias("batch_id"),
    )
    row_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("val", T.DoubleType()),
        ]
    )
    changes = from_maxwell(envelopes, row_schema, batch_col="batch_id")
    schema = TableSchema.from_struct(row_schema)
    root = tempfile.mkdtemp(prefix="mxw_tail_")
    # r6: stage the rendered log by batch (one lane evaluation total
    # instead of one per weekly merge; see cdc/runner.py stage_by_batch)
    changes = CDCRunner.stage_by_batch(changes, f"{root}/staged")
    table = LakeTable.create(spark, f"{root}/pages", schema, key="url", num_buckets=8)
    CDCRunner(table).run(changes)
    return table.read().select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        "val",
        F.octet_length("html").cast("long").alias("html_len"),
    )


@q(
    "canal_tail_apply",
    """
    WITH ev AS (
      SELECT user_id, date_trunc('minute', ts) AS ts_m, event_id,
             round(value, 2) AS val,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_del,
             '<html><body><p>c' || CAST(event_id AS VARCHAR)
               || '</p></body></html>' AS html
      FROM events),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY ts_m DESC, is_del DESC, md5(html) DESC) AS rn
      FROM ev)
    SELECT 'https://c.example/u' || CAST(user_id AS VARCHAR) AS url,
           strftime(ts_m, '%Y-%m-%d %H:%M:%S') AS last_ts,
           val,
           CAST(length(html) AS BIGINT) AS html_len
    FROM ranked WHERE rn = 1 AND is_del = 0
    """,
)
def canal_tail_apply(spark, sf_dir):
    """Canal flat-message ingestion (sources/binlog_formats.py): pack
    the events log into Canal envelopes — MULTIPLE all-string row
    images per envelope (grouped per transaction = per minute here),
    epoch-millis `es` shared by the envelope's rows — adapt with
    from_canal (from_json + one explode + casts, pure JVM) and fold to
    latest state with the engine's dedup operator.

    Canal's envelope-level `es` makes every row in a minute share one
    timestamp, so the oracle mirrors cdc_order's tiebreak (delete
    beats write, then md5(payload) desc) at minute granularity."""
    from pyspark.sql import types as T

    from dbp_etl_spark.cdc.dedup import dedup_latest_cdc
    from dbp_etl_spark.sources import from_canal

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    typ = F.when(F.col("event_type") == "error", "DELETE").otherwise("UPDATE")
    img = F.struct(
        F.concat(F.lit("https://c.example/u"), F.col("user_id").cast("string")).alias("url"),
        F.base64(
            F.encode(
                F.concat(
                    F.lit("<html><body><p>c"),
                    F.col("event_id").cast("string"),
                    F.lit("</p></body></html>"),
                ),
                "utf-8",
            )
        ).alias("html"),
        F.round("value", 2).cast("string").alias("val"),
    )
    envelopes = (
        ev.groupBy(F.date_trunc("minute", F.col("ts")).alias("m"), typ.alias("t"))
        .agg(F.collect_list(img).alias("data"))
        .select(
            F.to_json(
                F.struct(
                    F.lit("db").alias("database"),
                    F.lit("pages").alias("table"),
                    F.col("t").alias("type"),
                    F.unix_millis(F.col("m")).alias("es"),
                    F.col("data").alias("data"),
                )
            ).alias("value")
        )
    )
    row_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("val", T.DoubleType()),
        ]
    )
    changes = from_canal(envelopes, row_schema)
    # agg-based dedup (merge.py's hot-path operator): winner identical
    # to dedup_latest(cdc_order()) — the oracle below pins it
    latest = dedup_latest_cdc(changes, "url")
    return latest.filter(F.col("op") != "delete").select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        "val",
        F.octet_length("html").cast("long").alias("html_len"),
    )


@q(
    "scd2_history",
    """
    WITH ev AS (
      SELECT user_id, ts,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_del,
             round(value, 2) AS val,
             CASE WHEN event_type = 'error' THEN NULL
                  ELSE '<html><body><p>s' || CAST(event_id AS VARCHAR)
                       || '</p></body></html>' END AS html
      FROM events),
    dd AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, ts
                   ORDER BY is_del DESC, md5(html) DESC NULLS LAST) AS rn
        FROM ev) WHERE rn = 1),
    hist AS (
      SELECT user_id, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
             is_del, val, html
      FROM dd)
    SELECT 'https://s.example/u' || CAST(user_id AS VARCHAR) AS entity_url,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(valid_to, '%Y-%m-%d %H:%M:%S') AS valid_to,
           (valid_to IS NULL) AS is_current,
           val,
           CAST(length(html) AS BIGINT) AS html_len
    FROM hist WHERE is_del = 0
    """,
)
def scd2_history(spark, sf_dir):
    """SCD Type 2 history maintenance END-TO-END (cdc/scd.py): replay
    the events log as a weekly-batched change tail through SCD2Runner
    — history-as-CDC on a versioned synthetic key, each batch one
    atomic exactly-once merge — and read back the full version table
    (every version an entity ever had, with its validity interval and
    one is_current row per live entity). The oracle derives the same
    intervals with a single lead() window over the whole log: the
    incremental maintenance must equal the one-shot derivation."""
    import tempfile

    from dbp_etl_spark.cdc.scd import SCD2Runner, scd2_schema
    from dbp_etl_spark.lake import LakeTable

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    is_del = F.col("event_type") == "error"
    changes = ev.select(
        F.concat(F.lit("https://s.example/u"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.when(
            ~is_del,
            F.encode(
                F.concat(
                    F.lit("<html><body><p>s"),
                    F.col("event_id").cast("string"),
                    F.lit("</p></body></html>"),
                ),
                "utf-8",
            ),
        ).alias("html"),
        F.when(is_del, "delete").otherwise("update").alias("op"),
        F.when(~is_del, F.round("value", 2)).alias("val"),
        ((F.dayofmonth("ts") - 1).cast("long") / F.lit(7)).cast("long").alias("batch_id"),
    )
    from dbp_etl_spark.cdc import CDCRunner

    root = tempfile.mkdtemp(prefix="scd2_")
    # r6: stage the rendered log by batch (one lane evaluation total
    # instead of one per weekly merge; see cdc/runner.py stage_by_batch)
    changes = CDCRunner.stage_by_batch(changes, f"{root}/staged")
    hist = LakeTable.create(
        spark, f"{root}/hist", scd2_schema({"val": "double"}), key="url", num_buckets=8
    )
    SCD2Runner(hist).run(changes)
    return hist.read().select(
        "entity_url",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
        "val",
        F.octet_length("html").cast("long").alias("html_len"),
    )


@q(
    "wap_audit_publish",
    """
    WITH ranked AS (
      SELECT user_id, ts, event_id, round(value, 2) AS val,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT 'u' || CAST(user_id AS VARCHAR) AS url,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           val
    FROM ranked WHERE rn = 1
    """,
)
def wap_audit_publish(spark, sf_dir):
    """Write-audit-publish END-TO-END (reference validate-before-update
    gate, /root/reference/load/DBPLoadController.py:229-283, made
    atomic): the pre-cutoff state commits directly; the post-cutoff
    refresh is STAGED on a WAP branch — provably invisible to main
    (state hash unchanged) — audited, then published as one snapshot.
    The oracle is the plain whole-log latest-state fold: publication
    must be exactly equivalent to having applied the batch directly."""
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.lake import LakeTable, TableSchema

    cutoff = "2024-01-30 12:00:00"
    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())

    def latest(df):
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("url"),
                F.col("ts").alias("warc_ts"),
                F.round("value", 2).alias("val"),
            )
        )

    schema = TableSchema.from_struct(
        T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("val", T.DoubleType()),
            ]
        )
    )
    root = tempfile.mkdtemp(prefix="wap_q_")
    t = LakeTable.create(spark, f"{root}/t", schema, key="url", num_buckets=8)
    t = t.append(latest(ev.filter(F.col("ts") < cutoff)), batch_id="w1")
    before = t.state_hash()

    br = t.wap_branch("audit-q")
    br = br.delete_where(F.col("url").isNotNull(), batch_id="w2-del")
    br = br.append(latest(ev), batch_id="w2-add")
    # audit: staged state is fully extracted (no null vals) and main is
    # byte-untouched while the branch carries the whole refresh
    assert br.read().filter(F.col("val").isNull()).count() == 0
    assert t.refresh().state_hash() == before
    t = t.refresh().publish_wap("audit-q")
    assert t.manifest["summary"]["wap_publish"]["mode"] == "fast_forward"
    assert t.is_committed("w2-add") and not t.wap_ids()
    return t.read().select(
        "url", F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"), "val"
    )


@q(
    "metadata_agg_pushdown",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_live,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal
    FROM customer WHERE c_acctbal >= 0
    """,
)
def metadata_agg_pushdown(spark, sf_dir):
    """Metadata-only aggregation END-TO-END (Iceberg aggregate-pushdown
    analog; manifest stats from lake/stats.py): load customers into a
    stats-enabled lake table, tombstone the negative balances, vacuum
    the tombstones past the watermark, then answer count(*)/min/max
    from the MANIFEST ALONE — the query self-asserts that zero files
    and zero delta buckets were scanned. The oracle recomputes the same
    aggregates relationally over the surviving rows."""
    import datetime
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.lake import LakeTable, TableSchema

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.lit(datetime.datetime(2024, 1, 1)).cast("timestamp").alias("warc_ts"),
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
    )
    schema = TableSchema.from_struct(
        T.StructType(
            [
                T.StructField("c_custkey", T.LongType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("c_acctbal", T.DoubleType()),
            ]
        )
    )
    root = tempfile.mkdtemp(prefix="meta_agg_q_")
    t = LakeTable.create(
        spark,
        f"{root}/t",
        schema,
        key="c_custkey",
        num_buckets=8,
        stats_columns=["c_acctbal"],
    )
    t = t.append(cust, batch_id="load")
    t = t.delete_where(F.col("c_acctbal") < 0, batch_id="drop-neg")
    t = t.vacuum_tombstones(datetime.datetime(2024, 6, 1), batch_id="vac")
    n, nd = t.count_rows(detail=True)
    (lo, hi), bd = t.column_bounds("c_acctbal", detail=True)
    # the point of the operator: pure manifest walk, no scan at all
    assert nd["scanned_files"] == 0 and nd["scanned_delta_buckets"] == 0, nd
    assert bd["scanned_files"] == 0 and nd["metadata_files"] > 0, bd
    return local_frame(
        spark,
        [(n, round(lo, 2), round(hi, 2))],
        "n_live long, min_bal double, max_bal double",
    )


@q(
    "replica_filtered_sync",
    """
    WITH ev AS (
      SELECT user_id, ts, event_id, round(value, 2) AS val,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
      FROM events),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev) WHERE rn = 1)
    SELECT 'https://r.example/u' || CAST(user_id AS VARCHAR) AS url,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           val
    FROM latest WHERE op <> 'delete' AND val >= 30
    """,
)
def replica_filtered_sync(spark, sf_dir):
    """Incremental table-to-table replication END-TO-END
    (cdc/replicate.py TableReplicator; the changes-OUT path that lets
    one lake table feed the next pipeline stage — the incremental
    generalization of the reference's load-then-serve split,
    /root/reference/load/DBPLoadController.py:96-141): apply the events
    log to a SOURCE table in weekly batches, and after each half of the
    log sync a FILTERED merge-on-read replica (``val >= 30``) from the
    source's change feed. The second sync must be a pure CDF apply
    (cursor recovered from the replica's own ledger) landing as
    O(churn) delta commits, and rows whose latest value left the
    predicate must be DELETED from the replica (move-out semantics) —
    so the final replica equals the plain filtered latest-state oracle.
    The query RAISES if any of those structural facts does not hold."""
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.cdc import CDCRunner, TableReplicator
    from dbp_etl_spark.lake import LakeTable, TableSchema

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    op = F.when(F.col("event_type") == "error", "delete").otherwise("update")
    changes = ev.select(
        F.concat(F.lit("https://r.example/u"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.when(
            op != "delete",
            F.encode(
                F.concat(
                    F.lit("<html><body><p>r"),
                    F.col("event_id").cast("string"),
                    F.lit("</p></body></html>"),
                ),
                "utf-8",
            ),
        ).alias("html"),
        F.when(op != "delete", F.round("value", 2)).alias("val"),
        op.alias("op"),
        ((F.dayofmonth("ts") - 1).cast("long") / F.lit(7)).cast("long").alias("batch_id"),
    )
    schema = TableSchema.from_struct(
        T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("html", T.BinaryType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("val", T.DoubleType()),
            ]
        )
    )
    root = tempfile.mkdtemp(prefix="replica_q_")
    # r6: stage the rendered log by batch (one lane evaluation total
    # instead of one per weekly merge; see cdc/runner.py stage_by_batch)
    changes = CDCRunner.stage_by_batch(changes, f"{root}/staged")
    src = LakeTable.create(spark, f"{root}/src", schema, key="url", num_buckets=8)
    tgt = LakeTable.create(
        spark, f"{root}/tgt", schema, key="url", num_buckets=4, merge_on_read=True
    )
    runner = CDCRunner(src)
    runner.run(changes.filter(F.col("batch_id") < 2))
    rep = TableReplicator(runner.table, tgt, name="q", where=F.col("val") >= 30)
    r1 = rep.sync()
    runner = CDCRunner(rep.source.refresh())
    runner.run(changes.filter(F.col("batch_id") >= 2))
    r2 = rep.sync()
    if r1.skipped or r2.skipped or r2.mode != "cdf":
        raise RuntimeError(f"replication did not run incrementally: {r1} / {r2}")
    if r2.from_snapshot != r1.to_snapshot:
        raise RuntimeError("second sync did not resume from the first's cursor")
    if not any(f.get("delta") for f in rep.target.manifest["files"]):
        raise RuntimeError("MOR replica target wrote no delta files")
    if rep.cursor() != rep.source.snapshot_id:
        raise RuntimeError("replica cursor did not reach the source head")
    return rep.target.read().select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        "val",
    )


@q(
    "constraint_gated_ingest",
    """
    WITH ev AS (
      SELECT user_id, ts, event_id, round(value, 2) AS val,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
      FROM events),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev) WHERE rn = 1)
    SELECT 'https://c.example/u' || CAST(user_id AS VARCHAR) AS url,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           val
    FROM latest WHERE op <> 'delete'
    """,
)
def constraint_gated_ingest(spark, sf_dir):
    """Write-time CHECK constraints END-TO-END (lake/table.py
    add_constraint/_write_data observe gate; Delta-constraint analog of
    the reference's pre-update validation pass,
    /root/reference/load/Validate.py and
    /root/reference/load/DBPLoadController.py:229-283): ingest the
    events log into a table declaring ``text IS NOT NULL AND val IS
    NOT NULL`` for live rows — the violation counters ride the write
    job itself (zero extra scans) — then prove the gate is REAL by
    applying a poisoned batch whose transform nulls ``text``: it must
    abort with ConstraintViolation, leave the head unmoved and the
    batch id uncommitted. The returned state must equal the plain
    latest-state oracle, i.e. enforcement never perturbed a valid
    ingest. RAISES if the poisoned batch slips through."""
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.cdc import CDCRunner
    from dbp_etl_spark.cdc.merge import merge_batch
    from dbp_etl_spark.lake import ConstraintViolation, LakeTable, TableSchema

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    op = F.when(F.col("event_type") == "error", "delete").otherwise("update")
    changes = ev.select(
        F.concat(F.lit("https://c.example/u"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.when(
            op != "delete",
            F.encode(
                F.concat(
                    F.lit("<html><body><p>c"),
                    F.col("event_id").cast("string"),
                    F.lit("</p></body></html>"),
                ),
                "utf-8",
            ),
        ).alias("html"),
        F.when(op != "delete", F.round("value", 2)).alias("val"),
        op.alias("op"),
        ((F.dayofmonth("ts") - 1).cast("long") / F.lit(7)).cast("long").alias("batch_id"),
    )
    schema = TableSchema.from_struct(
        T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("html", T.BinaryType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("val", T.DoubleType()),
            ]
        )
    )
    root = tempfile.mkdtemp(prefix="constraint_q_")
    table = LakeTable.create(
        spark,
        f"{root}/pages",
        schema,
        key="url",
        num_buckets=8,
        constraints={
            "text-extracted": "text IS NOT NULL",
            "val-present": "val IS NOT NULL",
        },
    )
    runner = CDCRunner(table)
    runner.run(changes)
    table = runner.table.refresh()
    head = table.snapshot_id
    # genuinely-new payload bytes at a strictly later ts: the column-
    # diff guard must classify these as real updates (a byte-identical
    # replay would no-op before reaching the write, proving nothing)
    poisoned = (
        changes.filter(F.col("op") != "delete")
        .limit(5)
        .select(
            "url",
            (F.col("warc_ts") + F.expr("INTERVAL 400 DAYS")).alias("warc_ts"),
            F.encode(F.concat(F.lit("<p>poison "), F.col("url"), F.lit("</p>")), "utf-8").alias(
                "html"
            ),
            "val",
            F.lit("update").alias("op"),
            F.lit(99).cast("long").alias("batch_id"),
        )
    )
    try:
        merge_batch(
            table,
            poisoned,
            "poison",
            transform=lambda df: df.withColumn("text", F.lit(None).cast("string"))
            .withColumn("lang", F.lit(None).cast("string")),
        )
        raise RuntimeError("poisoned batch passed the CHECK constraint gate")
    except ConstraintViolation:
        pass
    table = table.refresh()
    if table.snapshot_id != head or table.is_committed("poison"):
        raise RuntimeError("aborted batch leaked a commit")
    return table.read().select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        "val",
    )


@q(
    "vector_index_sync_topk",
    """
    WITH final AS (
      SELECT vec_id,
             CASE WHEN vec_id % 3 = 0 THEN list_reverse(embedding)
                  ELSE embedding END AS e
      FROM embeddings WHERE vec_id % 17 <> 0),
    probe AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 1),
    scored AS (
      SELECT 'v' || CAST(vec_id AS VARCHAR) AS url,
             round(
               list_sum(list_transform(list_zip(e, p.pe),
                                       z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(p.pe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               3) AS cos3
      FROM final CROSS JOIN probe p)
    SELECT url, cos3 FROM (
      SELECT url, cos3, row_number() OVER (ORDER BY cos3 DESC, url) AS rn
      FROM scored) WHERE rn <= 10
    """,
)
def vector_index_sync_topk(spark, sf_dir):
    """Incrementally-maintained IVF vector index END-TO-END
    (operators/vector_index.py VectorIndex = kmeans quantizer +
    TableReplicator maintenance + cell-stats file skipping; the ANN
    surface a churning training corpus needs — the reference has none,
    SURVEY §6 extension): load the embeddings table into a corpus
    lake table, build the index, then CHURN the corpus (every 3rd
    vector reversed at a later ts, every 17th deleted) and sync() the
    index from the change feed. The full-probe (nprobe=k) top-10 must
    equal the brute-force cosine oracle over the POST-churn state —
    proving the index followed updates AND deletes exactly-once. The
    query RAISES unless the sync ran in cdf mode with real deletes and
    unless optimize() leaves results byte-identical while tightening
    per-file cell bounds."""
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.cdc.merge import merge_batch
    from dbp_etl_spark.lake import LakeTable, TableSchema
    from dbp_etl_spark.operators.similarity import cosine
    from dbp_etl_spark.operators.vector_index import VectorIndex

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("vec_id")).alias("warc_ts"),
        F.encode(F.concat(F.lit("e"), F.col("vec_id").cast("string")), "utf-8").alias("html"),
        F.col("embedding"),
        F.lit("insert").alias("op"),
    )
    churn = (
        emb.filter((F.col("vec_id") % 3 == 0) | (F.col("vec_id") % 17 == 0))
        .select(
            F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("url"),
            F.timestamp_seconds(F.lit(1800000000) + F.col("vec_id")).alias("warc_ts"),
            F.when(
                F.col("vec_id") % 17 != 0,
                F.encode(F.concat(F.lit("e2-"), F.col("vec_id").cast("string")), "utf-8"),
            ).alias("html"),
            F.when(F.col("vec_id") % 17 != 0, F.reverse("embedding")).alias("embedding"),
            F.when(F.col("vec_id") % 17 == 0, "delete").otherwise("update").alias("op"),
        )
    )
    schema = TableSchema.from_struct(
        T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("html", T.BinaryType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        )
    )
    root = tempfile.mkdtemp(prefix="vecidx_q_")
    corpus = LakeTable.create(spark, f"{root}/corpus", schema, key="url", num_buckets=8)
    merge_batch(corpus, base, "load", transform=lambda d: d)
    idx = VectorIndex.build(corpus.refresh(), f"{root}/idx", k=8, vec_col="embedding")
    merge_batch(idx.source.refresh(), churn, "churn", transform=lambda d: d)
    res = idx.sync()
    if res.skipped or res.mode != "cdf" or not res.counts["delete"]:
        raise RuntimeError(f"index did not follow the churn incrementally: {res}")
    probe = [float(x) for x in emb.filter(F.col("vec_id") == 1).collect()[0]["embedding"]]
    nprobe = len(idx.centroids)

    def rounded_top10():
        cells = idx.nearest_cells(probe, nprobe)
        return (
            idx.index.read(where=[("cell", "in", cells)])
            .select(
                "url",
                F.round(cosine(F.col("embedding"), F.lit(probe)), 3).alias("cos3"),
            )
            .orderBy(F.col("cos3").desc(), "url")
            .limit(10)
        )

    before = [(r["url"], r["cos3"]) for r in rounded_top10().collect()]
    pre_hash = idx.index.state_hash()
    frac_before = idx.probe_plan_files(probe, nprobe=1) / len(idx.index.manifest["files"])
    idx.optimize(files_per_bucket=4)
    if idx.index.state_hash() != pre_hash:
        raise RuntimeError("optimize() changed index contents")
    frac_after = idx.probe_plan_files(probe, nprobe=1) / len(idx.index.manifest["files"])
    if frac_after >= frac_before:
        raise RuntimeError(
            "optimize() did not tighten per-file cell bounds "
            f"(scanned fraction {frac_before:.2f} -> {frac_after:.2f})"
        )
    after = [(r["url"], r["cos3"]) for r in rounded_top10().collect()]
    if before != after:
        raise RuntimeError("optimize() perturbed probe results")
    return rounded_top10()


@q(
    "cdf_changelog_feed",
    """
    WITH ev AS (
      SELECT user_id, ts, event_id, round(value, 2) AS val,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
             -- floor division: DuckDB CAST(double AS BIGINT) ROUNDS,
             -- Spark's cast truncates — floor() matches Spark
             CAST(floor((date_part('day', ts) - 1) / 7) AS BIGINT) AS wk
      FROM events),
    old AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev WHERE wk = 0) WHERE rn = 1 AND op <> 'delete'),
    new AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev) WHERE rn = 1 AND op <> 'delete'),
    j AS (
      SELECT coalesce(o.user_id, n.user_id) AS uid,
             o.user_id AS o_uid, n.user_id AS n_uid,
             o.ts AS o_ts, o.event_id AS o_eid, o.val AS o_val,
             n.ts AS n_ts, n.event_id AS n_eid, n.val AS n_val
      FROM old o FULL OUTER JOIN new n ON o.user_id = n.user_id)
    SELECT 'https://cf.example/u' || CAST(uid AS VARCHAR) AS url,
           CASE WHEN o_uid IS NULL THEN 'insert'
                WHEN n_uid IS NULL THEN 'delete'
                ELSE 'update_post' END AS change_type,
           strftime(CASE WHEN n_uid IS NULL THEN o_ts ELSE n_ts END,
                    '%Y-%m-%d %H:%M:%S') AS last_ts,
           CASE WHEN n_uid IS NULL THEN o_val ELSE n_val END AS val,
           CAST(length('<html><body><p>c'
                       || CAST(CASE WHEN n_uid IS NULL THEN o_eid ELSE n_eid END AS VARCHAR)
                       || '</p></body></html>') AS BIGINT) AS html_len
    FROM j
    WHERE o_uid IS NULL OR n_uid IS NULL
       OR o_ts <> n_ts OR o_eid <> n_eid OR o_val IS DISTINCT FROM n_val
    """,
)
def cdf_changelog_feed(spark, sf_dir):
    """Write-time changelog feed END-TO-END (lake/table.py
    _write_changelog/_changes_from_log; the Delta CDF _change_data
    analog vs. the reference's downstream re-reads,
    /root/reference/load/DBPLoadController.py:126-140): apply the
    events log as weekly CDC batches onto a ``changelog=True`` table —
    every MERGE also materializes its row-level changes as O(churn)
    parquet — then read the multi-commit window's NET change feed via
    ``use_changelog=True`` (raises unless every in-window commit is
    covered, so a green row certifies the fast path served it: per-key
    net merge of per-commit changelogs, NO table scan, NO full-outer
    state join). The oracle is the window's from-state vs to-state diff
    computed independently. At 10^10 rows this is the difference
    between shipping a day's churn and re-joining two table snapshots
    per consumer."""
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.cdc import CDCRunner
    from dbp_etl_spark.lake import LakeTable, TableSchema

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    op = F.when(F.col("event_type") == "error", "delete").otherwise("update")
    changes = ev.select(
        F.concat(F.lit("https://cf.example/u"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.when(
            op != "delete",
            F.encode(
                F.concat(
                    F.lit("<html><body><p>c"),
                    F.col("event_id").cast("string"),
                    F.lit("</p></body></html>"),
                ),
                "utf-8",
            ),
        ).alias("html"),
        F.when(op != "delete", F.round("value", 2)).alias("val"),
        op.alias("op"),
        ((F.dayofmonth("ts") - 1).cast("long") / F.lit(7)).cast("long").alias("batch_id"),
    )
    schema = TableSchema.from_struct(
        T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("html", T.BinaryType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("val", T.DoubleType()),
            ]
        )
    )
    root = tempfile.mkdtemp(prefix="cdf_feed_")
    # r6: stage the rendered log by batch (one lane evaluation total
    # instead of one per weekly merge; see cdc/runner.py stage_by_batch)
    changes = CDCRunner.stage_by_batch(changes, f"{root}/staged")
    table = LakeTable.create(
        spark, f"{root}/pages", schema, key="url", num_buckets=8, changelog=True
    )
    runner = CDCRunner(table)
    runner.run(changes.filter(F.col("batch_id") == 0))
    table = table.refresh()
    s0 = table.snapshot_id
    runner.run(changes.filter(F.col("batch_id") > 0))
    table = table.refresh()
    if table.snapshot_id - s0 < 2:
        raise RuntimeError("window too small to exercise the net merge")
    feed = table.read_changes(s0, use_changelog=True)
    return feed.select(
        "url",
        F.col("_change_type").alias("change_type"),
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        "val",
        F.octet_length("html").cast("long").alias("html_len"),
    )


@q(
    "doc_repetition_filter",
    """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    m AS (
      SELECT doc_id, len(t) AS n_tok,
             len(list_distinct(list_transform(
                 generate_series(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1]))) AS n_dist,
             list_max(list_transform(
                 list_distinct(t),
                 x -> len(list_filter(t, y -> y = x)))) AS top_c
      FROM d)
    SELECT doc_id,
           round(1 - n_dist * 1.0 / (n_tok - 1), 4) AS dup_bigram_frac,
           round(top_c * 1.0 / n_tok, 4) AS top_token_frac,
           (round(1 - n_dist * 1.0 / (n_tok - 1), 4) <= 0.05
            AND round(top_c * 1.0 / n_tok, 4) <= 0.12) AS keep
    FROM m
    """,
)
def doc_repetition_filter(spark, sf_dir):
    """Gopher-style repetition filter (training-data op): duplicate
    bigram fraction + most-frequent-token share, computed INSIDE the
    token array (functions/quality.py repetition_exprs — transform/
    array_distinct/filter higher-order functions). Map-only, zero
    shuffles, zero Python: the plan is a single project over the scan,
    so the filter runs at IO speed on a 100 TB corpus. Thresholds
    split the synthetic corpus non-trivially (91/500 flagged at
    sf0.01)."""
    from dbp_etl_spark.functions.quality import repetition_exprs

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    ex = repetition_exprs(toks)
    dup, top = ex["dup_bigram_frac"], ex["top_token_frac"]
    return docs.select(
        "doc_id",
        dup.alias("dup_bigram_frac"),
        top.alias("top_token_frac"),
        ((dup <= 0.05) & (top <= 0.12)).alias("keep"),
    )


@q(
    "doc_pii_redact",
    """
    WITH injected AS (
      SELECT doc_id,
             substr(text, 1, 40)
               || CASE WHEN doc_id % 2 = 0
                       THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 3 = 0
                       THEN ' ip 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.1'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0 THEN ' tel 555-123-4567' ELSE '' END
               || ' end' AS txt
      FROM documents)
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(txt,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
               '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g')) AS red_md5,
           CAST(len(regexp_extract_all(txt,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(txt,
               '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(txt,
               '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS BIGINT) AS n_phone
    FROM injected
    """,
)
def doc_pii_redact(spark, sf_dir):
    """PII redaction (training-data op): deterministic PII is injected
    into the corpus (emails on even ids, IPs on multiples of 3, phones
    on multiples of 5), then redact_pii/pii_counts (functions/
    quality.py) scrub and audit it. The oracle re-runs the identical
    RE2-and-Java-safe patterns in DuckDB and compares the md5 of every
    redacted document plus the per-pattern counts. Map-only pure-JVM
    regexp chain — no shuffles, no Python."""
    from dbp_etl_spark.functions.quality import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents")
    txt = F.concat(
        F.substring("text", 1, 40),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(" mail user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" ip 10."), (F.col("doc_id") % 200).cast("string"), F.lit(".0.1")),
        ).otherwise(""),
        F.when(F.col("doc_id") % 5 == 0, " tel 555-123-4567").otherwise(""),
        F.lit(" end"),
    )
    inj = docs.select("doc_id", txt.alias("txt"))
    c = pii_counts("txt")
    return inj.select(
        "doc_id",
        F.md5(redact_pii("txt")).alias("red_md5"),
        c["n_email"].cast("long").alias("n_email"),
        c["n_ipv4"].cast("long").alias("n_ipv4"),
        c["n_phone"].cast("long").alias("n_phone"),
    )


@q(
    "warc_ingest",
    """
    WITH ev AS (
      SELECT user_id, date_trunc('second', ts) AS ts_s, event_id,
             '<html><body><p>w' || CAST(event_id AS VARCHAR)
               || '</p></body></html>' AS html
      FROM events),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY ts_s DESC, md5(html) DESC) AS rn
      FROM ev)
    SELECT 'https://w.example/u' || CAST(user_id AS VARCHAR) AS url,
           strftime(ts_s, '%Y-%m-%d %H:%M:%S') AS last_ts,
           CAST(length(html) AS BIGINT) AS html_len
    FROM ranked WHERE rn = 1
    """,
)
def warc_ingest(spark, sf_dir):
    """Raw crawl-archive ingestion END-TO-END (sources/warc.py): the
    events log is rendered as Common-Crawl-shaped WARC archives (one
    gzip member per response record, warcinfo headers, HTTP framing),
    read back with read_warc (one Arrow parse task per archive) and
    applied through the standard CDCRunner in weekly batches. WARC-Date
    is second-granular, so the oracle mirrors the engine total order at
    second resolution with the md5(payload) tiebreak (no deletes: a
    crawl is upsert-only)."""
    import os as _os
    import tempfile
    from datetime import timezone as _tz

    from pyspark.sql import types as T

    from dbp_etl_spark.cdc import CDCRunner
    from dbp_etl_spark.lake import LakeTable, TableSchema
    from dbp_etl_spark.sources.warc import encode_warc, read_warc

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    rows = ev.select(
        F.concat(F.lit("https://w.example/u"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts"),
        F.concat(
            F.lit("<html><body><p>w"),
            F.col("event_id").cast("string"),
            F.lit("</p></body></html>"),
        ).alias("body"),
        ((F.dayofmonth("ts") - 1).cast("long") / F.lit(7)).cast("long").alias("week"),
    ).collect()  # test-input synthesis only: the archives must exist as FILES
    root = tempfile.mkdtemp(prefix="warc_ingest_")
    by_week: dict[int, list] = {}
    for r in rows:
        by_week.setdefault(int(r["week"]), []).append(
            (r["url"], r["ts"].replace(tzinfo=_tz.utc), r["body"].encode())
        )
    for w, recs in by_week.items():
        with open(_os.path.join(root, f"seg-{w}.warc.gz"), "wb") as f:
            f.write(encode_warc(recs, gzip_per_record=True))

    # r6: stage the parsed log by batch BEFORE the runner (the
    # stage_by_batch contract, cdc/runner.py): without it each weekly
    # merge re-parsed EVERY archive (read_warc is one Arrow task per
    # archive, so 5 batches x a 5-task parse = the query's dominant
    # cost — profiled at 35 of 59 s). One parse pass + hive-partitioned
    # parquet lets each merge partition-prune to its own week.
    changes = CDCRunner.stage_by_batch(
        read_warc(spark, root).withColumn(
            "batch_id",
            ((F.dayofmonth("warc_ts") - 1).cast("long") / F.lit(7)).cast("long"),
        ),
        f"{root}/staged",
    )
    row_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    table = LakeTable.create(
        spark, f"{root}/pages", TableSchema.from_struct(row_schema), key="url", num_buckets=8
    )
    CDCRunner(table).run(changes)
    return table.read().select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.octet_length("html").cast("long").alias("html_len"),
    )


# =====================================================================
# Graph ops: near-dup cluster dedup (connected components) + PageRank
# =====================================================================


def _neardup_cluster_oracle_sql(num_hashes=16, bands=4, shingle_n=3, threshold=0.3):
    """The full minhash pipeline (same math as _minhash_oracle_sql)
    extended with a recursive-CTE connected-components pass: every
    node collects the labels of all nodes reachable from it (the graph
    is symmetrized), min(label) == component min."""
    rows = num_hashes // bands
    mins = ",\n         ".join(
        f"min(CAST('0x' || substr(md5(sh || '|{i}'), 1, 15) AS BIGINT)) AS h{i}"
        for i in range(num_hashes)
    )
    bands_sql = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, concat_ws(',', "
        + ", ".join(f"h{b * rows + r}" for r in range(rows))
        + ") AS bh FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh_lists AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(t) - {shingle_n}, 0) + 1),
                            i -> array_to_string(t[i:i + {shingle_n - 1}], ' ')) AS shingles
      FROM toks),
    ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh_lists),
    sig AS (
      SELECT doc_id,
         {mins}
      FROM ex GROUP BY doc_id),
    banded AS (
      {bands_sql}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
                                 AND a.doc_id < b.doc_id),
    sets AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh_lists),
    pairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sets sa ON sa.doc_id = c.id_a
      JOIN sets sb ON sb.doc_id = c.id_b
      WHERE round(CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
                  / len(list_distinct(list_concat(sa.sset, sb.sset))), 4) >= {threshold}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs),
    cc(id, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, cc.lbl FROM cc JOIN edges e ON e.u = cc.id),
    lab AS (
      SELECT d.doc_id, coalesce(min(cc.lbl), d.doc_id) AS component
      FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
      GROUP BY d.doc_id),
    sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
      FROM lab GROUP BY component)
    SELECT l.doc_id, l.component, s.cluster_size,
           l.doc_id = l.component AS is_keeper
    FROM lab l JOIN sizes s USING (component)
    """


@q("neardup_cluster_dedup", _neardup_cluster_oracle_sql())
def neardup_cluster_dedup(spark, sf_dir):
    """The ACTION half of near-dup dedup: LSH candidate pairs (md5_60
    oracle-reproducible mode) -> exact-jaccard verify >= 0.3 ->
    connected components (large-star/small-star) -> one keeper per
    cluster (component-min). One row per document with its cluster
    label, cluster size, and keep/drop decision; a corpus dedup is
    then `WHERE is_keeper`. Generalizes the reference's exact-key
    keeper election (/root/reference/load/FilenameReducer.py:73-120)
    to content equivalence classes."""
    from dbp_etl_spark.operators.dedup_ops import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from dbp_etl_spark.operators.graph import neardup_components

    # r6: spread the fixture scan (minhash signature lane)
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    cands = minhash_lsh_candidates(docs, num_hashes=16, bands=4, hash_fn="md5_60")
    pairs = ngram_jaccard_pairs(docs, cands, threshold=0.3).select("id_a", "id_b")
    return neardup_components(docs, pairs)


def _pagerank_oracle_sql(iters=3, damping=0.85):
    """3 unrolled power iterations; dangling mass (suppliers have no
    out-edges) redistributed uniformly each step, textbook formulation.
    Arithmetic mirrors the Spark operator op-for-op; only cross-row
    accumulation order differs (handled by round)."""
    steps = []
    prev = "r0"
    for i in range(iters):
        cur = f"r{i + 1}"
        steps.append(
            f"""d{i} AS (
      SELECT coalesce(sum(r.pr), 0) AS dang
      FROM {prev} r LEFT JOIN outdeg o USING (node) WHERE o.node IS NULL),
    c{i} AS (
      SELECT e.d AS node, sum(r.pr / o.od) AS contrib
      FROM edges e JOIN {prev} r ON r.node = e.s JOIN outdeg o ON o.node = e.s
      GROUP BY e.d),
    {cur} AS (
      SELECT n.node,
             (1.0 - {damping}) / (SELECT n FROM nn)
             + {damping} * (coalesce(c.contrib, 0)
                            + (SELECT dang FROM d{i}) / (SELECT n FROM nn)) AS pr
      FROM nodes n LEFT JOIN c{i} c USING (node))"""
        )
        prev = cur
    steps_sql = ",\n    ".join(steps)
    return f"""
    WITH edges AS (
      SELECT DISTINCT 'c' || o_custkey AS s, 's' || l_suppkey AS d
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    nodes AS (SELECT s AS node FROM edges UNION SELECT d FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS (SELECT s AS node, CAST(count(*) AS DOUBLE) AS od FROM edges GROUP BY s),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
    {steps_sql}
    SELECT node, round(pr * (SELECT n FROM nn), 4) AS pr_scaled FROM {prev}
    """


@q("purchase_graph_pagerank", _pagerank_oracle_sql())
def purchase_graph_pagerank(spark, sf_dir):
    """PageRank over the customer->supplier purchase graph (distinct
    edges from orders x lineitem; node ids prefixed to keep the two
    key spaces disjoint). 3 power iterations, damping 0.85, dangling
    mass redistributed uniformly. pr is reported scaled by node count
    (mean 1.0) and rounded: per-row math is identical across engines,
    only summation order differs."""
    from dbp_etl_spark.operators.graph import pagerank

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("s"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("d"),
        )
        .distinct()
    )
    pr = pagerank(edges, src="s", dst="d", iters=3, damping=0.85)
    n_nodes = (
        edges.select(F.col("s").alias("node")).union(edges.select("d")).distinct().count()
    )
    return pr.select(
        "node", F.round(F.col("pr") * F.lit(float(n_nodes)), 4).alias("pr_scaled")
    )


_BIGRAM_LM_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    uni AS (
      SELECT w, CAST(count(*) AS DOUBLE) AS c1
      FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
    vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
    big AS (
      -- parallel unnest of the two shifted slices zips them positionally
      SELECT doc_id,
             unnest(t[1:len(t) - 1]) AS w1,
             unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2),
    dbig AS (
      SELECT doc_id, w1, w2, CAST(count(*) AS DOUBLE) AS k
      FROM big GROUP BY doc_id, w1, w2),
    c2 AS (SELECT w1, w2, sum(k) AS c2 FROM dbig GROUP BY w1, w2),
    sc AS (
      SELECT d.doc_id,
             sum(d.k * ln((c2.c2 + 0.5) / (u.c1 + 0.5 * (SELECT v FROM vv)))) AS s,
             sum(d.k) AS nb
      FROM dbig d JOIN c2 USING (w1, w2) JOIN uni u ON u.w = d.w1
      GROUP BY d.doc_id)
    SELECT doc.doc_id,
           CAST(coalesce(sc.nb, 0) AS BIGINT) AS n_bigrams,
           round(-sc.s / sc.nb, 4) AS nll
    FROM documents doc LEFT JOIN sc ON sc.doc_id = doc.doc_id
    """


@q("doc_bigram_lm_score", _BIGRAM_LM_ORACLE)
def doc_bigram_lm_score(spark, sf_dir):
    """CCNet-style LM quality scoring with an in-corpus bigram model
    (add-0.5 smoothing): per-doc mean negative log-likelihood. The
    model is two vocabulary-bounded count aggregates; scoring joins
    per-doc DISTINCT bigram groups (not instances) to the model — see
    functions/quality.py:bigram_lm_nll. Per-row math is engine-exact
    (integer counts into ln); only cross-row sums differ in order,
    handled by round."""
    from dbp_etl_spark.functions.quality import bigram_lm_nll

    return bigram_lm_nll(_t(spark, sf_dir, "documents"))


def _neardup_index_oracle_sql(num_hashes=16, bands=4, shingle_n=3, threshold=0.3):
    """Mirror of neardup_index_probe: the post-churn corpus state and
    the held-out probe batch re-derived relationally, then the same
    md5_60 LSH cross-side candidate join + jaccard verify."""
    rows = num_hashes // bands
    mins = ",\n         ".join(
        f"min(CAST('0x' || substr(md5(sh || '|{i}'), 1, 15) AS BIGINT)) AS h{i}"
        for i in range(num_hashes)
    )
    bands_sql = "\n  UNION ALL\n  ".join(
        f"SELECT side, doc_id, {b} AS band, concat_ws(',', "
        + ", ".join(f"h{b * rows + r}" for r in range(rows))
        + ") AS bh FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 1 THEN text || ' xyzzy xyzzy xyzzy'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 13 <> 2),
    probe AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
    all_docs AS (
      SELECT 'c' AS side, doc_id, text FROM corpus
      UNION ALL
      SELECT 'p' AS side, doc_id, text FROM probe),
    toks AS (SELECT side, doc_id, string_split(text, ' ') AS t FROM all_docs),
    sh_lists AS (
      SELECT side, doc_id,
             list_transform(generate_series(1, greatest(len(t) - {shingle_n}, 0) + 1),
                            i -> array_to_string(t[i:i + {shingle_n - 1}], ' ')) AS shingles
      FROM toks),
    ex AS (SELECT side, doc_id, unnest(shingles) AS sh FROM sh_lists),
    sig AS (
      SELECT side, doc_id,
         {mins}
      FROM ex GROUP BY side, doc_id),
    banded AS (
      {bands_sql}),
    cand AS (
      SELECT DISTINCT p.doc_id AS probe_id, c.doc_id AS doc_id
      FROM banded p JOIN banded c ON p.band = c.band AND p.bh = c.bh
      WHERE p.side = 'p' AND c.side = 'c'),
    sets AS (SELECT side, doc_id, list_distinct(shingles) AS sset FROM sh_lists),
    verified AS (
      SELECT cd.probe_id, cd.doc_id,
             round(CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.sset, sb.sset))), 4) AS jaccard
      FROM cand cd
      JOIN sets sa ON sa.side = 'p' AND sa.doc_id = cd.probe_id
      JOIN sets sb ON sb.side = 'c' AND sb.doc_id = cd.doc_id)
    SELECT probe_id, doc_id, jaccard FROM verified WHERE jaccard >= {threshold}
    """


@q("neardup_index_probe", _neardup_index_oracle_sql())
def neardup_index_probe(spark, sf_dir):
    """Incremental LSH near-dup index, end-to-end: seed a corpus lake
    table with 90% of the documents, build the posting index (md5_60
    oracle-reproducible hashing), CHURN the corpus (rewrites + deletes
    through the CDC merge), sync the index — the query RAISES unless
    the sync is a cdf-mode O(churn) delta — then probe the held-out
    10% against the resident state. The oracle re-derives the same
    post-churn state and cross-side LSH relationally. See
    operators/neardup_index.py (index-follows-the-data; the content
    generalization of the reference's batch-vs-state key dedup,
    FilenameReducer.py:73-120)."""
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.cdc.merge import merge_batch
    from dbp_etl_spark.lake import LakeTable, TableSchema
    from dbp_etl_spark.operators.neardup_index import NearDupIndex

    docs = _t(spark, sf_dir, "documents")

    def tf(d):
        return d.withColumn("text", F.decode(F.col("html"), "utf-8"))

    def events(base, ts0, op_col, batch):
        return base.select(
            F.col("doc_id").alias("url"),
            F.timestamp_seconds(F.lit(ts0) + F.col("doc_id")).alias("warc_ts"),
            F.when(op_col != "delete", F.encode(F.col("text"), "utf-8")).alias("html"),
            F.when(op_col != "delete", F.col("text")).alias("text"),
            op_col.alias("op"),
            F.lit(batch).alias("batch_id"),
        )

    schema = TableSchema.from_struct(
        T.StructType(
            [
                T.StructField("url", T.LongType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("html", T.BinaryType()),
                T.StructField("text", T.StringType()),
            ]
        )
    )
    root = tempfile.mkdtemp(prefix="neardup_idx_")
    table = LakeTable.create(
        spark, f"{root}/corpus", schema, key="url", num_buckets=8
    )
    seed = docs.filter(F.col("doc_id") % 10 != 0)
    merge_batch(table, events(seed, 1700000000, F.lit("update"), "b1"), "b1", transform=tf)
    table = table.refresh()

    idx = NearDupIndex.build(
        table, f"{root}/index", hash_fn="md5_60", num_buckets=8
    )

    ups = seed.filter((F.col("doc_id") % 7 == 1) & (F.col("doc_id") % 13 != 2)).withColumn(
        "text", F.concat(F.col("text"), F.lit(" xyzzy xyzzy xyzzy"))
    )
    dels = seed.filter(F.col("doc_id") % 13 == 2)
    churn = events(ups, 1800000000, F.lit("update"), "b2").unionByName(
        events(dels, 1800000000, F.lit("delete"), "b2")
    )
    merge_batch(table.refresh(), churn, "b2", transform=tf)
    res = idx.sync()
    if res.mode != "cdf" or res.skipped:
        raise AssertionError(f"index sync must be an incremental cdf apply, got {res}")
    n_up, n_del = ups.count(), dels.count()
    if res.counts["upsert"] != n_up * 4 or res.counts["delete"] != n_del * 4:
        raise AssertionError(
            f"sync must be O(churn): expected {n_up}x4 upserts / {n_del}x4 "
            f"posting deletes, got {res.counts}"
        )

    batch = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    return idx.near_dups_of(batch, id_col="doc_id", threshold=0.3).select(
        F.col("doc_id").alias("probe_id"),
        F.col("doc").alias("doc_id"),
        "jaccard",
    )


@q(
    "text_search_fuzzy",
    """
    WITH tokd AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
      FROM documents),
    tfg AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM tokd) GROUP BY 1, 2),
    vocab AS (SELECT DISTINCT tok FROM tfg),
    m AS (
      SELECT q.qt, vocab.tok
      FROM vocab, (VALUES ('sparc'), ('windoq')) q(qt)
      WHERE levenshtein(vocab.tok, q.qt) <= 1),
    hit AS (SELECT m.qt, tfg.doc_id, tfg.tf FROM tfg JOIN m ON m.tok = tfg.tok)
    SELECT doc_id AS doc, CAST(sum(tf) AS BIGINT) AS total_tf
    FROM hit GROUP BY doc_id
    HAVING count(DISTINCT qt) = 2
    """,
)
def text_search_fuzzy(spark, sf_dir):
    """Typo-tolerant AND search over the inverted index: neither query
    term exists in the corpus ('sparc', 'windoq'), both match real
    vocabulary within edit distance 1 ('spark', 'window'). Candidates
    come SymSpell-style from a vocabulary-bounded symmetric-deletion
    join (never a vocab x query-term distance scan at the corpus
    level), verified with the exact levenshtein filter; the oracle
    shortcuts straight to the distance predicate — the deletion
    neighborhood is an implementation detail the verify makes exact.
    See operators/text_search.py:fuzzy_expand_terms."""
    from dbp_etl_spark.operators.text_search import build_postings, search_fuzzy_and

    docs = _t(spark, sf_dir, "documents")
    return search_fuzzy_and(build_postings(docs), ["sparc", "windoq"])


@q(
    "funnel_conversion",
    """
    WITH s AS (
      SELECT user_id, min(ts) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    p AS (
      SELECT s.user_id,
             min(e.ts) AS first_purchase_ts
      FROM s JOIN events e
        ON e.user_id = s.user_id
       AND e.event_type = 'purchase'
       AND e.ts >= s.signup_ts
      GROUP BY s.user_id)
    SELECT s.user_id,
           strftime(s.signup_ts, '%Y-%m-%d %H:%M:%S') AS signup_at,
           p.first_purchase_ts IS NOT NULL AS converted,
           CAST(date_diff('second', s.signup_ts, p.first_purchase_ts) AS BIGINT)
             AS secs_to_convert
    FROM s LEFT JOIN p ON p.user_id = s.user_id
    """,
)
def funnel_conversion(spark, sf_dir):
    """Funnel analysis over the event stream: for every user who
    signed up, did a purchase follow (at or after the first signup),
    and how long did conversion take. Two event-type-filtered
    aggregations joined by user — the filters push to the scan, both
    aggs are map-side-combinable, and the join keys are the (already
    shuffled) user ids; no windows over the raw stream."""
    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("pts"))
        .join(s, "user_id")
        .filter(F.col("pts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("pts").alias("first_purchase_ts"))
    )
    return s.join(p, "user_id", "left").select(
        "user_id",
        F.date_format("signup_ts", "yyyy-MM-dd HH:mm:ss").alias("signup_at"),
        F.col("first_purchase_ts").isNotNull().alias("converted"),
        (
            F.unix_timestamp("first_purchase_ts") - F.unix_timestamp("signup_ts")
        ).cast("bigint").alias("secs_to_convert"),
    )


@q(
    "line_dedup_ccnet",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    segs AS (
      SELECT doc_id, i AS pos, array_to_string(t[(i*8+1):(i*8+8)], ' ') AS seg
      FROM d, UNNEST(generate_series(0, CAST(ceil(len(t)/8.0) AS INT) - 1)) AS u(i)
      WHERE len(t) > 0),
    firsts AS (
      SELECT doc_id, pos, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
      FROM segs),
    kept AS (
      SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM firsts WHERE rn = 1 GROUP BY doc_id),
    base AS (
      SELECT doc_id,
             CASE WHEN len(t) = 0 THEN 0
                  ELSE CAST(ceil(len(t)/8.0) AS BIGINT) END AS n_segs
      FROM d)
    SELECT b.doc_id, b.n_segs,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           md5(coalesce(k.clean_text, '')) AS clean_md5
    FROM base b LEFT JOIN kept k USING (doc_id)
    """,
)
def line_dedup_ccnet(spark, sf_dir):
    """CCNet line-level dedup (training-data op, Wenzek et al.
    arXiv:1911.00359 §3.1): the corpus is segmented (8-word windows —
    the synthetic docs are single-line; the operator takes any
    array<string> segmentation), every segment that already appeared
    at a smaller (doc, position) anywhere in the corpus is dropped,
    and documents are rebuilt from the surviving segments. The pass
    that strips crawl boilerplate repeated across pages. Oracle
    mirrors the keep-first election with a window over the identical
    segmentation and compares per-doc md5 of the rebuilt text."""
    from dbp_etl_spark.operators.dedup_ops import segment_dedup, segment_windows

    # r6: spread the single-row-group fixture scan — the 8-word
    # window segmentation is a per-row HOF lane
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    segs = docs.select("doc_id", segment_windows(F.col("text"), 8).alias("segments"))
    out = segment_dedup(segs, "segments", "doc_id")
    return out.select(
        "doc_id",
        "n_segs",
        "n_kept",
        F.md5(F.coalesce(F.col("clean_text"), F.lit(""))).alias("clean_md5"),
    )


def _semdedup_oracle_sql(n_cells=8, eps=0.4):
    d2 = (
        "list_sum(list_transform(list_zip({v}, c.centroid), "
        "r -> (CAST(r[1] AS DOUBLE) - r[2]) * (CAST(r[1] AS DOUBLE) - r[2])))"
    )
    return f"""
    WITH cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
      FROM embeddings ORDER BY vec_id LIMIT {n_cells}),
    assigned AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {d2.format(v="e.embedding")}, c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN cents c)
      WHERE rn = 1),
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round(
               list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               4) AS cs
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
    dropped AS (SELECT DISTINCT b_id FROM pairs WHERE cs >= {eps})
    SELECT s.vec_id, CAST(s.centroid_id AS BIGINT) AS cell,
           (d.b_id IS NULL) AS keep
    FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.b_id
    """


@q("semdedup_prune", _semdedup_oracle_sql())
def semdedup_prune_query(spark, sf_dir):
    """SemDeDup (training-data op, Abbas et al. arXiv:2303.09540):
    k-means-cluster the embedding corpus, then inside each cluster
    drop every vector with a lower-id semantic duplicate
    (round(cosine,4) >= 0.4). Clustering bounds candidate pairs to
    sum(|cell|^2) — the paper's scalability trick — and the
    deterministic keeper election makes the full pass value-checkable:
    the oracle re-derives cells from the same deterministic quantizer
    init (lowest-id vectors, as ann_ivf_topk) and re-runs the in-cell
    pairwise rule in SQL. Trained (Lloyd) centroids are pytest-pinned
    separately via kmeans_centroids."""
    from dbp_etl_spark.operators.similarity import semdedup_prune

    # r6: spread the single-row-group fixture scan (see ann_ivf_topk)
    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    return semdedup_prune(emb, dim=64, n_cells=8, eps=0.4, train_iterations=0)


@q(
    "pack_sequences_lm",
    """
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
    c AS (
      SELECT doc_id, n_tok,
             CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset
      FROM d)
    SELECT doc_id, start_offset,
           CASE WHEN n_tok > 0 THEN start_offset // 512 END AS first_pack,
           CASE WHEN n_tok > 0 THEN (start_offset + n_tok - 1) // 512 END AS last_pack,
           CAST(CASE WHEN n_tok > 0
                THEN (start_offset + n_tok - 1) // 512 - start_offset // 512 + 1
                ELSE 0 END AS BIGINT) AS n_packs
    FROM c
    """,
)
def pack_sequences_lm(spark, sf_dir):
    """LM sequence packing (training-data op): documents concatenated
    in doc_id order and chopped into 512-token context windows — each
    doc learns its global token offset and the pack range it occupies.
    The global prefix sum runs as the two-phase coarse-bucket
    decomposition (pack_sequences), NOT a single-partition ORDER BY
    window, so the plan survives 10^10 docs; the oracle is the naive
    global window it must equal."""
    from dbp_etl_spark.operators.windows import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    out = pack_sequences(
        d,
        seq_len=512,
        tokens_col="n_tok",
        order_by=["doc_id"],
        coarse_key=(F.col("doc_id") / 64).cast("long"),
    )
    return out.select("doc_id", "start_offset", "first_pack", "last_pack", "n_packs")


@q(
    "dup_span_dedup",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    wins AS (
      SELECT doc_id, i AS pos, md5(array_to_string(t[(i+1):(i+8)], ' ')) AS h
      FROM d, UNNEST(generate_series(0, len(t) - 8)) AS u(i)
      WHERE len(t) >= 8),
    firsts AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM wins),
    ds AS (
      SELECT doc_id, list_sort(list(DISTINCT pos)) AS starts
      FROM firsts WHERE rn > 1 GROUP BY doc_id),
    rebuilt AS (
      SELECT d.doc_id, len(d.t) AS n_tok,
             list_transform(
               list_filter(generate_series(0, len(d.t) - 1),
                 p -> ds.starts IS NULL
                      OR len(list_filter(ds.starts,
                                         s -> p >= s AND p < s + 8)) = 0),
               p -> d.t[p + 1]) AS kept
      FROM d LEFT JOIN ds USING (doc_id))
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(n_tok - len(kept) AS BIGINT) AS n_masked,
           md5(coalesce(array_to_string(kept, ' '), '')) AS clean_md5
    FROM rebuilt
    """,
)
def dup_span_dedup(spark, sf_dir):
    """Exact substring dedup (training-data op, Lee et al.
    arXiv:2107.06499): rolling 8-token window fingerprints at every
    position, corpus-wide keep-first election, duplicated spans masked
    out of the rebuilt document. The pass that removes copied passages
    whole-doc/line dedup miss (1086 duplicated windows across 24 docs
    at sf0.01). Oracle re-runs the identical fingerprint election and
    span rebuild in SQL and compares per-doc md5 of the cleaned
    text."""
    from dbp_etl_spark.operators.dedup_ops import dup_span_mask

    # r6: spread the scan — the rolling-window fingerprint lane is
    # interpreted HOF work per row
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    out = dup_span_mask(docs, k=8)
    return out.select(
        "doc_id", "n_tok", "n_masked", F.md5(F.col("clean_text")).alias("clean_md5")
    )


@q(
    "dsir_importance_select",
    """
    WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks
               FROM documents),
    tok AS (SELECT source,
                   CAST('0x' || substr(md5(t || '|7'), 1, 15) AS BIGINT) % 64 AS bkt
            FROM d, UNNEST(toks) AS u(t)),
    counts AS (
      SELECT bkt, count(*) AS rc,
             sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS tc
      FROM tok GROUP BY bkt),
    tots AS (SELECT sum(rc) AS r_tot, sum(tc) AS t_tot FROM counts),
    lr AS (
      SELECT g.bkt,
             ln((coalesce(c.tc, 0) + 1.0) / (t.t_tot + 64))
             - ln((coalesce(c.rc, 0) + 1.0) / (t.r_tot + 64)) AS w
      FROM generate_series(0, 63) g(bkt)
      LEFT JOIN counts c ON g.bkt = c.bkt CROSS JOIN tots t),
    lrl AS (SELECT list(w ORDER BY bkt) AS l FROM lr)
    SELECT doc_id,
           round(list_sum(list_transform(d.toks,
             t -> lrl.l[CAST(CAST('0x' || substr(md5(t || '|7'), 1, 15) AS BIGINT) % 64 + 1 AS INT)])),
             4) AS dsir_score,
           (round(list_sum(list_transform(d.toks,
             t -> lrl.l[CAST(CAST('0x' || substr(md5(t || '|7'), 1, 15) AS BIGINT) % 64 + 1 AS INT)])),
             4) > 0) AS selected
    FROM d CROSS JOIN lrl
    """,
)
def dsir_importance_select(spark, sf_dir):
    """DSIR-style data selection (training-data op, Xie et al.
    arXiv:2302.03169): hashed-unigram importance weights — per-bucket
    add-1-smoothed ln(p_target/p_raw) with source='src0' as the target
    distribution — scored per document as a sequential JVM fold over
    its own tokens (map-only, table inlined; the only shuffles are the
    two bounded bucket-count aggs). selected = more target-like than
    raw-like. Oracle recomputes the identical table and fold in SQL."""
    from dbp_etl_spark.functions.quality import dsir_log_ratio_table, dsir_score_expr

    docs = _t(spark, sf_dir, "documents")
    lr = dsir_log_ratio_table(docs, F.col("source") == "src0", n_buckets=64, seed=7)
    score = F.round(dsir_score_expr(lr, seed=7), 4)
    return docs.select(
        "doc_id", score.alias("dsir_score"), (score > 0).alias("selected")
    )


@q(
    "robots_longest_match",
    """
    WITH hosts AS (
      SELECT DISTINCT source AS host,
             regexp_extract(source, 'src(\\d+)', 1) AS hn
      FROM documents),
    robots AS (
      SELECT host,
             'User-agent: *' || chr(10)
             || 'Disallow: /p' || hn || chr(10)
             || 'Allow: /p' || hn || '/page1' || chr(10)
             || '# crawl policy' || chr(10)
             || 'Disallow:' AS txt
      FROM hosts),
    prules AS (
      SELECT host,
             lower(regexp_extract(trim(line), '^([A-Za-z-]+)\\s*:', 1)) = 'allow' AS allow,
             trim(regexp_extract(trim(line), '^[A-Za-z-]+\\s*:\\s*(\\S+)', 1)) AS prefix
      FROM robots, UNNEST(string_split(txt, chr(10))) AS u(line)
      WHERE lower(regexp_extract(trim(line), '^([A-Za-z-]+)\\s*:', 1))
              IN ('allow', 'disallow')
        AND trim(regexp_extract(trim(line), '^[A-Za-z-]+\\s*:\\s*(\\S+)', 1)) <> ''),
    urls AS (
      SELECT doc_id, source AS host,
             '/p' || CAST(doc_id % 25 AS VARCHAR) || '/page'
                  || CAST(doc_id AS VARCHAR) AS path
      FROM documents),
    matched AS (
      SELECT u.doc_id, u.host, u.path, r.allow, r.prefix, len(r.prefix) AS pl
      FROM urls u LEFT JOIN prules r
        ON u.host = r.host AND starts_with(u.path, r.prefix)),
    ranked AS (
      SELECT doc_id, host, path, allow, prefix,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY (prefix IS NOT NULL) DESC, pl DESC, allow DESC, prefix DESC)
               AS rn
      FROM matched)
    SELECT doc_id, host, path, prefix AS matched_prefix,
           coalesce(allow, TRUE) AS allowed
    FROM ranked WHERE rn = 1
    """,
)
def robots_longest_match(spark, sf_dir):
    """robots.txt fetchability (crawl op, RFC 9309): per-host robots
    bodies are parsed into Allow/Disallow prefix rules (comments and
    empty Disallow dropped) and every URL takes its host's most
    specific (longest-prefix) matching rule, allow winning ties, no
    match meaning allowed. Rules are per-host metadata — broadcast —
    so the filter is a map-side join + one agg keyed by the URL row.
    The oracle re-runs parsing and the longest-match election in SQL
    over identically synthesized robots bodies and URL paths."""
    from dbp_etl_spark.operators.crawl import parse_robots, robots_filter

    docs = _t(spark, sf_dir, "documents")
    hosts = docs.select(F.col("source").alias("host")).distinct().withColumn(
        "hn", F.regexp_extract(F.col("host"), r"src(\d+)", 1)
    )
    robots = hosts.select(
        "host",
        F.concat(
            F.lit("User-agent: *\nDisallow: /p"),
            F.col("hn"),
            F.lit("\nAllow: /p"),
            F.col("hn"),
            F.lit("/page1\n# crawl policy\nDisallow:"),
        ).alias("robots_txt"),
    )
    rules = parse_robots(robots)
    urls = docs.select(
        "doc_id",
        F.col("source").alias("host"),
        F.concat(
            F.lit("/p"),
            (F.col("doc_id") % 25).cast("string"),
            F.lit("/page"),
            F.col("doc_id").cast("string"),
        ).alias("path"),
    )
    return robots_filter(urls, rules)


@q(
    "corpus_shard_assignment",
    """
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
    c AS (
      SELECT doc_id, n_tok,
             CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset
      FROM d),
    a AS (SELECT doc_id, n_tok, start_offset // 4096 AS shard_id FROM c)
    SELECT shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS shard_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM a GROUP BY shard_id
    """,
)
def corpus_shard_assignment(spark, sf_dir):
    """Token-balanced corpus sharding (training-data sink op): docs in
    deterministic order are assigned to ~4096-token shards by their
    global token offset — the write-side counterpart of sequence
    packing, giving equal-work output files for a downstream
    tokenizer. Reuses the two-phase scalable prefix sum
    (pack_sequences); per-shard totals prove the balance. At 100 TB
    the shard id becomes the write partition/repartitionByRange key,
    so output files are size-uniform regardless of document skew."""
    from dbp_etl_spark.operators.windows import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok"))
    packed = pack_sequences(
        d,
        seq_len=4096,
        tokens_col="n_tok",
        order_by=["doc_id"],
        coarse_key=(F.col("doc_id") / 64).cast("long"),
    )
    a = packed.select(
        "doc_id", "n_tok", (F.col("start_offset") / 4096).cast("long").alias("shard_id")
    )
    return a.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("shard_tokens"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


# =====================================================================
# DBLog-style chunked snapshot bootstrap (cdc/dblog.py)
# =====================================================================


@q(
    "dblog_chunked_bootstrap",
    """
    WITH init AS (
      SELECT DISTINCT user_id,
             TIMESTAMP '2023-12-01 00:00:00' AS ts,
             0 AS is_del,
             '<html><body><p>i' || CAST(user_id AS VARCHAR)
               || '</p></body></html>' AS html,
             round(user_id * 1.5, 2) AS val
      FROM events),
    tail AS (
      SELECT user_id, ts,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_del,
             '<html><body><p>d' || CAST(event_id AS VARCHAR)
               || '</p></body></html>' AS html,
             round(value, 2) AS val
      FROM events),
    allrows AS (SELECT * FROM init UNION ALL SELECT * FROM tail),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY ts DESC, is_del DESC, md5(html) DESC) AS rn
      FROM allrows)
    SELECT 'https://d.example/u' || CAST(user_id AS VARCHAR) AS url,
           CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
           val,
           CAST(length(html) AS BIGINT) AS html_len
    FROM ranked WHERE rn = 1 AND is_del = 0
    """,
)
def dblog_chunked_bootstrap(spark, sf_dir):
    """DBLog watermark-chunked snapshot bootstrap END-TO-END
    (cdc/dblog.py; Netflix DBLog / Debezium incremental snapshot): a
    pre-existing source table is discovered through 4 hash-range
    snapshot chunks interleaved with 5 weekly tail batches, every
    chunk read simulating a LIVE source mid-way through its watermark
    window (events <= the window midpoint are folded into the read).
    The supersede rule must drop exactly the racing keys, so the final
    replica state equals plain latest-wins replay over init+tail —
    which is what the oracle computes, with the engine's own total
    order (ts desc, delete-beats-write, md5(payload) desc; payloads
    are event-unique so the hash is decisive cross-engine).

    The whole schedule runs through CDCRunner, so each chunk is its
    own ledger batch: the bootstrap is exactly-once and crash-
    resumable per chunk (pytest covers the replay path)."""
    import tempfile

    from pyspark.sql import types as T

    from dbp_etl_spark.cdc import CDCRunner
    from dbp_etl_spark.cdc.dblog import (
        ChunkSpec,
        chunk_predicate,
        chunked_bootstrap,
        plan_chunks,
    )
    from dbp_etl_spark.cdc.dedup import cdc_order, dedup_latest
    from dbp_etl_spark.lake import LakeTable, TableSchema

    n_chunks = 4
    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    url = F.concat(F.lit("https://d.example/u"), F.col("user_id").cast("string"))
    nul_s = F.lit(None).cast("string")

    init = (
        ev.select("user_id").distinct().select(
            F.concat(F.lit("https://d.example/u"), F.col("user_id").cast("string")).alias("url"),
            F.lit("2023-12-01 00:00:00").cast("timestamp").alias("warc_ts"),
            F.encode(
                F.concat(
                    F.lit("<html><body><p>i"),
                    F.col("user_id").cast("string"),
                    F.lit("</p></body></html>"),
                ),
                "utf-8",
            ).alias("html"),
            nul_s.alias("text"),
            nul_s.alias("lang"),
            F.round(F.col("user_id") * 1.5, 2).alias("val"),
            F.lit("insert").alias("op"),
        )
    )
    tail = ev.select(
        url.alias("url"),
        F.col("ts").alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><body><p>d"),
                F.col("event_id").cast("string"),
                F.lit("</p></body></html>"),
            ),
            "utf-8",
        ).alias("html"),
        nul_s.alias("text"),
        nul_s.alias("lang"),
        F.round("value", 2).alias("val"),
        F.when(F.col("event_type") == "error", "delete").otherwise("update").alias("op"),
        ((F.dayofmonth("ts") - 1).cast("long") / F.lit(7)).cast("long").alias("batch_id"),
    )

    # watermark windows: low inside week c, high inside week c+1; the
    # simulated source read position is strictly between them
    def watermarks(c):
        return (f"2024-01-{7 * c + 5:02d} 00:00:00", f"2024-01-{7 * c + 10:02d} 00:00:00")

    chunks = plan_chunks(n_chunks, [0, 1, 2, 3], watermarks)
    all_src = init.unionByName(tail.drop("batch_id"))

    def read_chunk(spec: ChunkSpec) -> DataFrame:
        mid = F.lit(f"2024-01-{7 * spec.chunk_id + 6:02d} 12:00:00").cast("timestamp")
        at_mid = all_src.filter(F.col("warc_ts") <= mid)
        latest = dedup_latest(at_mid, "url", cdc_order())
        live = latest.filter(F.col("op") != "delete").drop("op")
        return live.filter(chunk_predicate("url", spec.chunk_id, n_chunks))

    row_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("val", T.DoubleType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="dblog_")
    table = LakeTable.create(
        spark, f"{root}/pages", TableSchema.from_struct(row_schema), key="url", num_buckets=8
    )
    runner = CDCRunner(table)
    chunked_bootstrap(runner, read_chunk, tail, chunks)
    return runner.table.read().select(
        "url",
        F.unix_micros("warc_ts").alias("last_ts_us"),
        "val",
        F.octet_length("html").cast("long").alias("html_len"),
    )


# =====================================================================
# URL canonicalization / SURT keys / outlink graph (functions/urls.py)
# =====================================================================
# All three synthesize deliberately-messy URLs from the events table
# with modular-arithmetic variants; the oracle states the EXPECTED
# canonical form in closed form from the same generator variables, so
# it cross-checks the operator's semantics without reimplementing it.


@q(
    "url_canonical_dedup",
    """
    WITH raw AS (
      SELECT event_id, user_id,
             CASE WHEN event_id % 2 = 0 THEN 'http' ELSE 'https' END AS scheme,
             CASE WHEN event_id % 7 IN (0, 1, 2) THEN '/x' ELSE '' END AS xpart,
             event_id % 4 AS qv
      FROM events),
    canon AS (
      SELECT scheme || '://example.com/p' || CAST(user_id AS VARCHAR) || xpart
             || CASE WHEN qv IN (0, 1) THEN '?id=' || CAST(user_id AS VARCHAR)
                     WHEN qv = 2 THEN '?id=' || CAST(user_id AS VARCHAR) || '&z=2'
                     ELSE '' END AS curl
      FROM raw)
    SELECT curl, CAST(count(*) AS BIGINT) AS n_raw
    FROM canon GROUP BY curl
    """,
)
def url_canonical_dedup(spark, sf_dir):
    """URL canonicalization as a dedup key (functions/urls.py
    canonicalize_url; reference key-hygiene analog
    /root/reference/load/InputFileset.py:61-83): six orthogonal mess
    axes — scheme-default ports, Www./case-varied hosts, duplicate and
    trailing slashes, tracking params, unsorted params, fragments —
    collapse to one canonical key per page. Pure JVM expressions, so
    the canonical key costs nothing extra in the ingest hot path."""
    from dbp_etl_spark.functions.urls import canonicalize_url

    ev = _t(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id").cast("string")
    scheme = F.when(eid % 2 == 0, "http").otherwise("https")
    host = (
        F.when(eid % 3 == 0, "www.Example.com")
        .when(eid % 3 == 1, "example.COM")
        .otherwise("example.com")
    )
    port = (
        F.when((eid % 5 == 0) & (eid % 2 == 0), ":80")
        .when((eid % 5 == 0) & (eid % 2 == 1), ":443")
        .otherwise("")
    )
    path = F.concat(
        F.lit("/p"),
        uid,
        F.when(eid % 7 == 0, "//x").when(eid % 7 == 1, "/x/").when(eid % 7 == 2, "/x").otherwise(""),
    )
    query = (
        F.when(eid % 4 == 0, F.concat(F.lit("?utm_source=tw&id="), uid))
        .when(eid % 4 == 1, F.concat(F.lit("?id="), uid, F.lit("&utm_campaign=z")))
        .when(eid % 4 == 2, F.concat(F.lit("?z=2&id="), uid))
        .otherwise("")
    )
    frag = F.when(eid % 6 == 0, "#sec").otherwise(F.lit(""))
    raw = ev.select(
        F.concat(scheme, F.lit("://"), host, port, path, query, frag).alias("url")
    )
    return raw.select(canonicalize_url(F.col("url")).alias("curl")).groupBy("curl").agg(
        F.count(F.lit(1)).alias("n_raw")
    )


@q(
    "surt_host_keys",
    """
    WITH hosts AS (
      SELECT CASE WHEN user_id % 3 = 0 THEN 'com,example'
                  WHEN user_id % 3 = 1 THEN 'org,site,news'
                  ELSE 'com,example,blog,m' END AS rhost,
             user_id
      FROM events)
    SELECT rhost || ')/p' || CAST(user_id AS VARCHAR) AS surt,
           CAST(count(*) AS BIGINT) AS n
    FROM hosts GROUP BY surt
    """,
)
def surt_host_keys(spark, sf_dir):
    """SURT keys (functions/urls.py surt_key — the Common Crawl CDX /
    Wayback key format): reversed host labels cluster a domain's pages
    adjacently in sort order, so range-partitioning the corpus by SURT
    turns per-site scans and robots joins into partition-pruned range
    reads. The www. label is stripped by canonicalization first."""
    from dbp_etl_spark.functions.urls import surt_key

    ev = _t(spark, sf_dir, "events")
    uid = F.col("user_id")
    host = (
        F.when(uid % 3 == 0, "WWW.example.com")
        .when(uid % 3 == 1, "news.site.org")
        .otherwise("m.blog.example.com")
    )
    raw = ev.select(
        F.concat(F.lit("https://"), host, F.lit("/p"), uid.cast("string")).alias("url")
    )
    return raw.select(surt_key(F.col("url")).alias("surt")).groupBy("surt").agg(
        F.count(F.lit(1)).alias("n")
    )


@q(
    "html_outlink_graph",
    """
    WITH e AS (
      SELECT CASE WHEN user_id % 3 = 0 THEN 'example.com'
                  WHEN user_id % 3 = 1 THEN 'site.org' ELSE 'blog.net' END AS src_host,
             CASE WHEN (user_id + 1) % 3 = 0 THEN 'example.com'
                  WHEN (user_id + 1) % 3 = 1 THEN 'site.org' ELSE 'blog.net' END AS d1,
             CASE WHEN event_id % 3 = 0 THEN 'example.com'
                  WHEN event_id % 3 = 1 THEN 'site.org' ELSE 'blog.net' END AS d2
      FROM events),
    links AS (
      SELECT src_host, d1 AS dst_host FROM e
      UNION ALL
      SELECT src_host, d2 AS dst_host FROM e)
    SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
    FROM links GROUP BY src_host, dst_host
    """,
)
def html_outlink_graph(spark, sf_dir):
    """Host-level outlink graph extracted from raw HTML (webtext core:
    the link graph feeding pagerank/crawl-frontier ops): hrefs pulled
    with one JVM regexp_extract_all over the html payload — no UDF —
    then canonicalized (messy forms: Www-prefix, default ports,
    fragments) and rolled up to (src_host, dst_host) edge weights.
    At 100 TB this is one map + one count shuffle keyed by host pair;
    the explode is bounded by links-per-page."""
    from dbp_etl_spark.functions.urls import canonicalize_url

    ev = _t(spark, sf_dir, "events")
    uid, eid = F.col("user_id"), F.col("event_id")

    def hostof(n):
        return (
            F.when(n % 3 == 0, "example.com")
            .when(n % 3 == 1, "site.org")
            .otherwise("blog.net")
        )

    # messy outlink targets inside an html payload
    u1 = F.concat(F.lit("https://www."), hostof(uid + 1), F.lit("/a#frag"))
    u2 = F.concat(F.lit("http://"), hostof(eid), F.lit(":80/b?utm_source=x"))
    html = F.concat(
        F.lit('<html><body><a href="'), u1, F.lit('">x</a><p>t</p><a href="'),
        u2, F.lit('">y</a></body></html>'),
    )
    pages = ev.select(hostof(uid).alias("src_host"), html.alias("html"))
    links = pages.select(
        "src_host",
        F.explode(F.regexp_extract_all(F.col("html"), F.lit('href="([^"]*)"'), F.lit(1))).alias(
            "raw_url"
        ),
    )
    dst = F.regexp_extract(canonicalize_url(F.col("raw_url")), r"^[a-z][a-z0-9+.-]*://([^/?]*)", 1)
    return links.select("src_host", dst.alias("dst_host")).groupBy(
        "src_host", "dst_host"
    ).agg(F.count(F.lit(1)).alias("n_links"))


@q(
    "bpe_pair_counts",
    """
    WITH words AS (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
            FROM documents)
      WHERE length(w) >= 2
      GROUP BY w),
    pairs AS (
      SELECT substr(word, CAST(i AS INTEGER), 1) || substr(word, CAST(i AS INTEGER) + 1, 1) AS pair,
             freq
      FROM (SELECT word, freq, unnest(generate_series(1, length(word) - 1)) AS i
            FROM words))
    SELECT pair, CAST(sum(freq) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair ASC LIMIT 20
    """,
)
def bpe_pair_counts(spark, sf_dir):
    """BPE tokenizer training, step one (training-data pipeline op):
    corpus-wide adjacent-symbol-pair frequencies — the statistic whose
    argmax drives every merge of byte-pair-encoding training (Sennrich
    et al. 2016). Two-level aggregation keeps the explode bounded: the
    corpus first collapses to the DISTINCT-word frequency table (the
    classic BPE trick — pair counts are word-frequency-weighted, so
    the per-position explode runs over unique words, not over 100 TB
    of running text), then one explode per word position and a
    pair-keyed count shuffle. Pure JVM (split/explode/substring);
    deterministic top-20 under (n desc, pair asc)."""
    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = words.select(
        F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"), "word", "freq"
    ).select(
        F.expr("substring(word, i, 1) || substring(word, i + 1, 1)").alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(20)
    )


@q(
    "crawl_frontier_schedule",
    """
    WITH f AS (
      SELECT 'h' || CAST(user_id % 5 AS VARCHAR) AS host,
             'https://h' || CAST(user_id % 5 AS VARCHAR) || '.example/p'
               || CAST(event_id AS VARCHAR) AS url,
             round(value, 2) AS priority,
             CAST(1 + (user_id % 5) AS BIGINT) AS crawl_delay_sec
      FROM events),
    r AS (
      SELECT host, url, crawl_delay_sec,
             row_number() OVER (PARTITION BY host ORDER BY priority DESC, url ASC)
               AS fetch_slot
      FROM f)
    SELECT host, url, CAST(fetch_slot AS BIGINT) AS fetch_slot,
           CAST((fetch_slot - 1) * crawl_delay_sec AS BIGINT) AS fetch_offset_sec
    FROM r WHERE fetch_slot <= 100
    """,
)
def crawl_frontier_schedule(spark, sf_dir):
    """Politeness-aware crawl-frontier scheduling (operators/crawl.py
    frontier_schedule): per-host fetch queue ordered by priority,
    1-based fetch_slot, fetch_offset_sec = (slot-1) * host crawl
    delay, per-host budget of 100. The reference trusts an upstream
    crawler for fetch policy; a recrawl pass over a 10^10-URL frontier
    has to derive the schedule itself. One window shuffle keyed by
    host (politeness is per-host serial by definition — see the
    operator docstring for the hot-host story)."""
    from dbp_etl_spark.operators.crawl import frontier_schedule

    ev = _t(spark, sf_dir, "events")
    uid, eid = F.col("user_id"), F.col("event_id")
    frontier = ev.select(
        F.concat(F.lit("h"), (uid % 5).cast("string")).alias("host"),
        F.concat(
            F.lit("https://h"), (uid % 5).cast("string"), F.lit(".example/p"),
            eid.cast("string"),
        ).alias("url"),
        F.round("value", 2).alias("priority"),
        (1 + uid % 5).cast("long").alias("crawl_delay_sec"),
    )
    out = frontier_schedule(frontier, budget=100)
    return out.select(
        "host", "url",
        F.col("fetch_slot").cast("long").alias("fetch_slot"),
        F.col("fetch_offset_sec"),
    )


@q(
    "anchor_text_profile",
    """
    WITH e AS (
      SELECT CASE WHEN (user_id + 1) % 3 = 0 THEN 'example.com'
                  WHEN (user_id + 1) % 3 = 1 THEN 'site.org' ELSE 'blog.net' END AS d1,
             CASE WHEN event_id % 3 = 0 THEN 'example.com'
                  WHEN event_id % 3 = 1 THEN 'site.org' ELSE 'blog.net' END AS d2,
             'alpha v' || CAST(user_id % 7 AS VARCHAR) AS a1,
             'beta v' || CAST(event_id % 5 AS VARCHAR) AS a2
      FROM events),
    pairs AS (
      SELECT d1 AS dst_host, a1 AS anchor FROM e
      UNION ALL
      SELECT d2 AS dst_host, a2 AS anchor FROM e),
    terms AS (
      SELECT dst_host, unnest(string_split(anchor, ' ')) AS term FROM pairs)
    SELECT dst_host, term, CAST(count(*) AS BIGINT) AS n
    FROM terms GROUP BY dst_host, term
    """,
)
def anchor_text_profile(spark, sf_dir):
    """Anchor-text aggregation (operators/crawl.py anchor_text_pairs):
    (href, anchor text) pairs pulled from raw HTML with two group-
    indexed regexp_extract_all over ONE pattern + arrays_zip (no UDF),
    targets canonicalized to their host, anchor text tokenized, and
    rolled up to (dst_host, term) weights — the target-side relevance
    signal a web index builds from the link graph. Map-only extract,
    one count shuffle keyed by (host, term); explode bounded by
    links-per-page * terms-per-anchor."""
    from dbp_etl_spark.functions.urls import canonicalize_url
    from dbp_etl_spark.operators.crawl import anchor_text_pairs

    ev = _t(spark, sf_dir, "events")
    uid, eid = F.col("user_id"), F.col("event_id")

    def hostof(n):
        return (
            F.when(n % 3 == 0, "example.com")
            .when(n % 3 == 1, "site.org")
            .otherwise("blog.net")
        )

    u1 = F.concat(F.lit("https://www."), hostof(uid + 1), F.lit("/a#frag"))
    u2 = F.concat(F.lit("http://"), hostof(eid), F.lit(":80/b?x=1"))
    a1 = F.concat(F.lit("alpha v"), (uid % 7).cast("string"))
    a2 = F.concat(F.lit("beta v"), (eid % 5).cast("string"))
    html = F.concat(
        F.lit('<html><body><a href="'), u1, F.lit('">'), a1,
        F.lit('</a><p>t</p><a class="x" href="'), u2, F.lit('">'), a2,
        F.lit("</a></body></html>"),
    )
    pages = ev.select(html.alias("html"))
    pairs = anchor_text_pairs(pages, keep_cols=[])
    dst = F.regexp_extract(
        canonicalize_url(F.col("href")), r"^[a-z][a-z0-9+.-]*://([^/?]*)", 1
    )
    return (
        pairs.select(dst.alias("dst_host"), F.explode(F.split("anchor", " ")).alias("term"))
        .groupBy("dst_host", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "hist_quantile_sketch",
    """
    WITH b AS (
      SELECT greatest(0, least(49, CAST(floor(value / 10.0) AS BIGINT))) AS bin,
             count(*) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY bin),
    c AS (
      SELECT bin, cnt,
             sum(cnt) OVER (ORDER BY bin) AS cum,
             sum(cnt) OVER () AS n
      FROM b),
    qs AS (SELECT unnest(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q)
    SELECT q, round(0.0 + 10.0 * (bin + (q * n - (cum - cnt)) / cnt), 4) AS est
    FROM c, qs
    WHERE cum >= q * n AND cum - cnt < q * n
    """,
)
def hist_quantile_sketch(spark, sf_dir):
    """Mergeable fixed-bin histogram quantiles (operators/sketches.py
    fixed_histogram + hist_quantiles): p50/p90/p99 of events.value via
    50 equal-width bins over [0, 500) with in-bin linear interpolation.
    The scale story vs exact percentile_disc: each executor reduces its
    shard to <= 50 (bin, cnt) rows map-side, one tiny shuffle merges
    them bin-wise, and the window runs over the 50-row aggregate — no
    global sort of 10^10 rows. Deterministic (unlike KLL/t-digest), so
    the estimate is reproducible across partitionings and the oracle
    is closed-form; error bound = one bin width."""
    from dbp_etl_spark.operators.sketches import fixed_histogram, hist_quantiles

    ev = _t(spark, sf_dir, "events")
    hist = fixed_histogram(ev, "value", lo=0.0, hi=500.0, nbins=50)
    out = hist_quantiles(hist, [0.5, 0.9, 0.99], lo=0.0, hi=500.0, nbins=50)
    return out.select("q", F.round("est", 4).alias("est"))


# =====================================================================
# Boilerplate removal (functions/boilerplate.py)
# =====================================================================
# The page layout is synthesized in closed form from doc_id (nav bar,
# two stopword-rich paragraphs, an undecided short block, a footer and
# a gibberish div), so the oracle states the EXPECTED kept text
# directly — it cross-checks block segmentation, all three classifier
# signals AND the context pass without reimplementing any of them.


@q(
    "boilerplate_block_filter",
    """
    SELECT doc_id,
           CAST(6 AS BIGINT) AS n_blocks,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END AS BIGINT) AS n_good,
           'the value of the data in table ' || CAST(doc_id % 97 AS VARCHAR)
             || ' is one of the best and the scan is fast'
             || CASE WHEN doc_id % 5 = 0 THEN ''
                     ELSE chr(10) || 'Read more details below' || chr(10)
                          || 'all of the rows in group ' || CAST(doc_id % 7 AS VARCHAR)
                          || ' are sorted by the key and the scan is fast' END AS content
    FROM documents
    """,
)
def boilerplate_block_filter(spark, sf_dir):
    """jusText-style block-level boilerplate removal
    (functions/boilerplate.py; reference payload->clean-text analog
    /root/reference/load/UpdateDBPTextFilesets.py:60-89, where markup
    is trusted — on crawled pages it must be classified first): each
    page carries a link-dense nav (bad), two stopword-rich paragraphs
    (good), an undecided short block (kept only when BOTH neighbors
    are good — every fifth page swaps its second paragraph for
    gibberish, flipping the context decision), a short footer whose
    one-sided good neighbor does NOT rescue it, and a no-stopword
    gibberish div (bad). One pure-JVM higher-order-function expression
    tree per row: no explode, no shuffle, no Python — map-only at IO
    speed over a 100 TB corpus."""
    from dbp_etl_spark.functions.boilerplate import boilerplate_exprs

    # r6: spread the scan — the block-classification HOF tree is
    # heavy per-row compute on a single-row-group fixture
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    nav = F.lit(
        '<div><a href="/">Home page link</a> <a href="/about">About our site</a></div>'
    )
    c1 = F.concat(
        F.lit("<p>the value of the data in table "),
        (did % 97).cast("string"),
        F.lit(" is one of the best and the scan is fast</p>"),
    )
    short_blk = F.lit("<p>Read more details below</p>")
    c2 = F.concat(
        F.lit("<p>all of the rows in group "),
        (did % 7).cast("string"),
        F.lit(" are sorted by the key and the scan is fast</p>"),
    )
    junk2 = F.lit("<div>q9z k2m p4r w8n j3t v5b n6c m1x</div>")
    footer = F.lit("<p>(c) 2026 Example Corp</p>")
    junk = F.lit("<div>x7f z0q l9w r8e t7y u6i o5p a4s v3c</div>")
    html = F.concat(
        nav, c1, short_blk, F.when(did % 5 == 0, junk2).otherwise(c2), footer, junk
    )
    ex = boilerplate_exprs(html)
    return d.select(
        did,
        ex["n_blocks"].alias("n_blocks"),
        ex["n_good"].alias("n_good"),
        ex["content"].alias("content"),
    )


@q(
    "weighted_sample_es",
    """
    WITH u AS (
      SELECT doc_id, source, n_chars,
             ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|7'), 1, 15)
                 AS BIGINT) + 1) / 1152921504606846976.0) / n_chars AS k
      FROM documents WHERE n_chars > 0),
    r AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rank
      FROM u)
    SELECT source, CAST(rank AS INT) AS rank, doc_id, n_chars
    FROM r WHERE rank <= 10
    """,
)
def weighted_sample_es(spark, sf_dir):
    """Weighted sampling without replacement, stratified
    (operators/sampling.py, Efraimidis-Spirakis 2006): 10 docs per
    source with inclusion odds proportional to n_chars — the
    data-mixing draw behind token-budget corpus blends. u is the
    cross-engine md5 hash, so the oracle replays the IDENTICAL draw in
    SQL. Two-phase salted top-k: hot strata spread over 32 salt shards
    before the exact per-stratum pick, so no reducer ever sees a whole
    stratum (reference spot-check analog
    /root/reference/load/Validate.py, unweighted/single-node)."""
    from dbp_etl_spark.operators.sampling import weighted_sample_stratified

    d = _t(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    out = weighted_sample_stratified(
        d, stratum_col="source", weight_col="n_chars", k=10, seed=7
    )
    return out.select("source", "rank", "doc_id", "n_chars")


@q(
    "sitemap_url_extract",
    """
    WITH d AS (
      SELECT doc_id,
             'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS base,
             lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS dd,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'daily'
                  WHEN 1 THEN 'weekly' ELSE 'monthly' END AS cf,
             '0.' || CAST(doc_id % 10 AS VARCHAR) AS pr
      FROM documents)
    SELECT doc_id, 'url' AS kind, base || '/p' || CAST(doc_id AS VARCHAR) AS loc,
           '2026-01-' || dd AS lastmod, cf AS changefreq, CAST(pr AS DOUBLE) AS priority
    FROM d
    UNION ALL
    SELECT doc_id, 'url', base || '/q' || CAST(doc_id AS VARCHAR), NULL, NULL, NULL FROM d
    UNION ALL
    SELECT doc_id, 'sitemap',
           base || '/sitemap' || CAST(doc_id % 3 AS VARCHAR) || '.xml', NULL, NULL, NULL
    FROM d
    """,
)
def sitemap_url_extract(spark, sf_dir):
    """Sitemap ingestion (operators/crawl.py parse_sitemap — the
    discovery-side sibling of robots_longest_match): each synthesized
    sitemap carries a fully-attributed <url> entry, a minimal <url>
    entry (optional fields NULL), and a <sitemap> index entry pointing
    at a child sitemap. The oracle states all three expected rows in
    closed form from doc_id, cross-checking entry segmentation, kind
    tagging, optional-field NULLing and priority parsing. Map-only:
    one bounded regexp explode per sitemap (protocol caps a file at
    50k URLs), no shuffle, no Python."""
    from dbp_etl_spark.operators.crawl import parse_sitemap

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    base = F.concat(F.lit("https://h"), (did % 20).cast("string"), F.lit(".example.com"))
    dd = F.lpad((did % 28 + 1).cast("string"), 2, "0")
    cf = (
        F.when(did % 3 == 0, "daily").when(did % 3 == 1, "weekly").otherwise("monthly")
    )
    xml = F.concat(
        F.lit("<urlset><url><loc>"), base, F.lit("/p"), did.cast("string"),
        F.lit("</loc><lastmod>2026-01-"), dd,
        F.lit("</lastmod><changefreq>"), cf,
        F.lit("</changefreq><priority>0."), (did % 10).cast("string"),
        F.lit("</priority></url><url><loc> "), base, F.lit("/q"), did.cast("string"),
        F.lit(" </loc></url><sitemap><loc>"), base,
        F.lit("/sitemap"), (did % 3).cast("string"),
        F.lit(".xml</loc></sitemap></urlset>"),
    )
    src = d.select(did, xml.alias("sitemap_xml"))
    return parse_sitemap(src)


@q(
    "bpe_learn_merges",
    """
    WITH d AS (SELECT count(*) AS n_docs FROM documents)
    SELECT CAST(step AS INT) AS step, lhs, rhs, CAST(m * n_docs AS BIGINT) AS n
    FROM (VALUES (1, 'x', 'y', 5), (2, 'xy', 'z', 5), (3, 'p', 'q', 4),
                 (4, 'r', 's', 3), (5, 't', 'u', 2), (6, 'v', 'w', 1))
         AS t(step, lhs, rhs, m), d
    """,
)
def bpe_learn_merges(spark, sf_dir):
    """Full BPE tokenizer training (operators/bpe.py learn_bpe_merges,
    Sennrich 2016 — the iterative half behind bpe_pair_counts): every
    document carries the rigged word mix xyz*5 pq*4 rs*3 tu*2 vw*1, so
    the six learned merges are forced in closed form — including the
    re-pairing step where merging (x,y) creates the ("xy",z) pair that
    must win round two at the same count. Trains over the word-TYPE
    frequency table (vocabulary-bounded, not corpus-bounded); each
    iteration is one map-side-combined pair count, a ONE-row argmax
    collect, and a JVM greedy fold over only the words containing the
    pair. The merge list returned is bounded (n_merges rows), so
    building the result frame driver-side is O(6)."""
    from dbp_etl_spark.operators.bpe import learn_bpe_merges, word_freq_table

    d = _t(spark, sf_dir, "documents")
    rig = F.lit("xyz xyz xyz xyz xyz pq pq pq pq rs rs rs tu tu vw")
    words = word_freq_table(d.select(rig.alias("text")))
    merges = learn_bpe_merges(words, n_merges=6)
    return local_frame(
        spark,
        [(i + 1, l, r, n) for i, (l, r, n) in enumerate(merges)],
        "step int, lhs string, rhs string, n bigint",
    )


@q(
    "cohort_overlap_hll_pruned",
    """
    WITH m AS (
      SELECT DISTINCT user_id, event_type
      FROM events
      WHERE (user_id * (1 + length(event_type))) % 5 < 3),
    j AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM m a JOIN m b ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT type_a, type_b, n_common FROM j WHERE n_common >= 60
    """,
)
def cohort_overlap_hll_pruned(spark, sf_dir):
    """Pairwise cohort-overlap sizes, EXACT output with HLL
    inclusion-exclusion pruning (operators/sketches.py
    cohort_overlap_exact_pruned): |A∩B| >= 60 over modular membership
    slices of the event-type cohorts (the slice varies per type length,
    so the threshold actually discriminates). The engine's analog of
    the reference's cross-fileset completeness comparisons
    (/root/reference/load/Validate.py) lifted to sketch-pruned scale:
    candidate pairs are costed from 2^p-bounded mergeable sketches;
    only survivors touch the exact distinct-pair self-join."""
    from dbp_etl_spark.operators.sketches import cohort_overlap_exact_pruned

    ev = _t(spark, sf_dir, "events")
    m = ev.where(
        (F.col("user_id") * (1 + F.length("event_type"))) % 5 < 3
    ).select("user_id", "event_type")
    return cohort_overlap_exact_pruned(m, "event_type", "user_id", min_common=60)


@q(
    "multisource_tail_merge",
    """
    WITH ev AS (
      SELECT 'https://ms.example/u' || CAST(user_id AS VARCHAR) AS url,
             date_trunc('minute', ts) AS ts_m,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_del,
             CAST(event_id % 2 AS BIGINT) AS src,
             '<p>ms' || CAST(event_id AS VARCHAR) || '</p>' AS html,
             round(value, 2) AS val
      FROM events),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY url
                ORDER BY ts_m DESC, src ASC, is_del DESC, md5(html) DESC) AS rn
      FROM ev)
    SELECT url, strftime(ts_m, '%Y-%m-%d %H:%M:%S') AS last_ts, val,
           src AS winning_src
    FROM ranked WHERE rn = 1 AND is_del = 0
    """,
)
def multisource_tail_merge(spark, sf_dir):
    """Multi-source change-tail merge with fixed source precedence
    (cdc/multisource.py merge_tails). Two overlapping tails — a
    primary (even event ids, priority 0) and a replica (odd ids,
    priority 1) — are merged into one totally-ordered batch: latest
    minute-truncated ts wins across sources; at an equal ts the
    primary beats the replica (including a replica TOMBSTONE — the
    authoritative write survives); residual ties fall through
    delete-beats-write then payload md5 (unique per event here, so
    the order is total on both engines). Reference analog: the
    fixed-precedence multi-source merge of language names,
    /root/reference/load/UpdateDBPLanguageTranslation.py:47-118."""
    from dbp_etl_spark.cdc.multisource import merge_tails

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select(
            F.concat(F.lit("https://ms.example/u"), F.col("user_id").cast("string")).alias(
                "url"
            ),
            F.date_trunc("minute", F.col("ts")).alias("warc_ts"),
            F.when(F.col("event_type") == "error", "delete").otherwise("update").alias("op"),
            F.concat(F.lit("<p>ms"), F.col("event_id").cast("string"), F.lit("</p>")).alias(
                "html"
            ),
            F.round("value", 2).alias("val"),
            (F.col("event_id") % 2).alias("_par"),
        )
    )
    primary = ev.where(F.col("_par") == 0).drop("_par")
    replica = ev.where(F.col("_par") == 1).drop("_par")
    merged = merge_tails(
        [(primary, 0), (replica, 1)],
        key="url",
        payload_col="html",
        keep_src=True,
    )
    return merged.where(F.col("op") != "delete").select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        "val",
        F.col("_src_pri").cast("bigint").alias("winning_src"),
    )


@q(
    "html_meta_extract",
    """
    WITH pages AS (
      SELECT doc_id,
        '<html lang="' || upper(lang) || '"><head>'
        || CASE WHEN doc_id % 5 = 0 THEN ''
                ELSE '<title> Doc &amp; ' || CAST(doc_id AS VARCHAR)
                     || chr(10) || ' &lt;best&gt; </title>' END
        || CASE WHEN doc_id % 2 = 0
                THEN '<link rel="canonical" href="https://c.example/d'
                     || CAST(doc_id AS VARCHAR) || '?a=1&amp;b=2">'
                ELSE '<link href="https://c.example/d'
                     || CAST(doc_id AS VARCHAR) || '" rel="canonical">' END
        || CASE WHEN doc_id % 3 <> 0
                THEN '<meta name="description" content="desc &amp; '
                     || CAST(doc_id AS VARCHAR) || '">'
                ELSE '' END
        || CASE WHEN doc_id % 4 = 0
                THEN '<meta content="NOINDEX, Nofollow" name="robots">'
                ELSE '' END
        || '</head><body><p>x</p></body></html>' AS html
      FROM documents)
    SELECT doc_id,
      nullif(trim(regexp_replace(
        replace(replace(replace(replace(replace(
          regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        '\\s+', ' ', 'g')), '') AS title,
      replace(replace(replace(replace(replace(coalesce(
        nullif(regexp_extract(html,
          '(?is)<link[^>]*\\brel\\s*=\\s*["'']canonical["''][^>]*\\bhref\\s*=\\s*["'']([^"'']*)["'']', 1), ''),
        nullif(regexp_extract(html,
          '(?is)<link[^>]*\\bhref\\s*=\\s*["'']([^"'']*)["''][^>]*\\brel\\s*=\\s*["'']canonical["'']', 1), '')
      ), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS canonical_url,
      replace(replace(replace(replace(replace(coalesce(
        nullif(regexp_extract(html,
          '(?is)<meta[^>]*\\bname\\s*=\\s*["'']description["''][^>]*\\bcontent\\s*=\\s*["'']([^"'']*)["'']', 1), ''),
        nullif(regexp_extract(html,
          '(?is)<meta[^>]*\\bcontent\\s*=\\s*["'']([^"'']*)["''][^>]*\\bname\\s*=\\s*["'']description["'']', 1), '')
      ), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS meta_description,
      lower(coalesce(
        nullif(regexp_extract(html,
          '(?is)<meta[^>]*\\bname\\s*=\\s*["'']robots["''][^>]*\\bcontent\\s*=\\s*["'']([^"'']*)["'']', 1), ''),
        nullif(regexp_extract(html,
          '(?is)<meta[^>]*\\bcontent\\s*=\\s*["'']([^"'']*)["''][^>]*\\bname\\s*=\\s*["'']robots["'']', 1), '')
      )) AS robots_meta,
      lower(nullif(regexp_extract(html,
        '(?is)<html[^>]*\\blang\\s*=\\s*["'']([^"'']*)["'']', 1), '')) AS html_lang
    FROM pages
    """,
)
def html_meta_extract(spark, sf_dir):
    """HTML <head> metadata extraction (functions/extract.py
    html_meta_exprs): title (entity-decoded, whitespace-collapsed,
    absent => NULL), rel=canonical link with EITHER attribute order,
    meta description, lowercased robots directives, and the <html
    lang> attribute — all pure JVM regexp expression trees over the
    binary payload, no UDF, codegen-friendly. Synthetic pages vary
    structure per doc: missing titles (%5), flipped attribute order
    (%2, and robots content-first), optional description (%3), robots
    only on %4. Reference analog: per-file metadata promoted into
    dimension rows, /root/reference/load/UpdateDBPFilesetTables.py."""
    from dbp_etl_spark.functions.extract import html_meta_exprs

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    ds = did.cast("string")
    title_part = F.when(did % 5 == 0, "").otherwise(
        F.concat(
            F.lit("<title> Doc &amp; "), ds, F.lit("\n &lt;best&gt; </title>")
        )
    )
    canon_part = F.when(
        did % 2 == 0,
        F.concat(
            F.lit('<link rel="canonical" href="https://c.example/d'), ds, F.lit('?a=1&amp;b=2">')
        ),
    ).otherwise(
        F.concat(F.lit('<link href="https://c.example/d'), ds, F.lit('" rel="canonical">'))
    )
    desc_part = F.when(
        did % 3 != 0,
        F.concat(F.lit('<meta name="description" content="desc &amp; '), ds, F.lit('">')),
    ).otherwise("")
    robots_part = F.when(
        did % 4 == 0, F.lit('<meta content="NOINDEX, Nofollow" name="robots">')
    ).otherwise("")
    html = F.concat(
        F.lit('<html lang="'),
        F.upper("lang"),
        F.lit('"><head>'),
        title_part,
        canon_part,
        desc_part,
        robots_part,
        F.lit("</head><body><p>x</p></body></html>"),
    )
    pages = d.select("doc_id", F.encode(html, "utf-8").alias("html"))
    metas = html_meta_exprs(F.col("html"))
    return pages.select("doc_id", *[c.alias(n) for n, c in metas.items()])


@q(
    "containment_neardup",
    """
    WITH corpus AS (
      SELECT doc_id AS id, string_split(text, ' ') AS t FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS id,
             list_slice(string_split(text, ' '), 1,
                        CAST(ceil(len(string_split(text, ' ')) * 0.6) AS INT)) AS t
      FROM documents
      WHERE doc_id % 7 = 0 AND len(string_split(text, ' ')) >= 10),
    sets AS (
      SELECT id,
        list_distinct(list_transform(
          generate_series(0, greatest(len(t) - 3, 0)),
          i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))) AS sset
      FROM corpus),
    postings AS (SELECT id, unnest(sset) AS s FROM sets),
    pruned AS (
      SELECT s FROM postings GROUP BY s
      HAVING count(*) BETWEEN 2 AND 20),
    cands AS (
      SELECT ea.id AS id_a, eb.id AS id_b
      FROM postings ea JOIN pruned USING (s) JOIN postings eb USING (s)
      WHERE ea.id < eb.id
      GROUP BY 1, 2 HAVING count(*) >= 2),
    scored AS (
      SELECT id_a, id_b,
        round(CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
              / len(a.sset), 4) AS c_a_in_b,
        round(CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
              / len(b.sset), 4) AS c_b_in_a
      FROM cands JOIN sets a ON a.id = cands.id_a
                 JOIN sets b ON b.id = cands.id_b)
    SELECT * FROM scored WHERE greatest(c_a_in_b, c_b_in_a) >= 0.6
    """,
)
def containment_neardup(spark, sf_dir):
    """Broder containment detection (operators/dedup_ops.py
    containment_pairs): subset-style duplication — prefix copies,
    quoted pages, page supersets — that Jaccard resemblance
    structurally misses. Inverted shingle index with DF pruning
    (df<=20) bounds posting lists, pair fan-out unfolds JVM-side
    inside the list (no self-join on a hot shingle), >=2 co-shingle
    support gates the exact verify, verify touches candidates only.
    Rigged corpus: every 7th document (>=10 tokens) gets a child that
    is its first 60% of tokens, so child-in-parent containment ~1.0
    while resemblance is ~0.6 — the exact case MinHash thresholds
    drop. Oracle mirrors the same index, pruning, support and verify
    in DuckDB."""
    from dbp_etl_spark.operators.dedup_ops import containment_pairs

    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    child_n = F.ceil(F.size(toks) * 0.6).cast("int")
    children = d.where((F.col("doc_id") % 7 == 0) & (F.size(toks) >= 10)).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, child_n)).alias("text"),
    )
    corpus = _spread(spark, d.select("doc_id", "text").unionByName(children))
    return containment_pairs(
        corpus, shingle_n=3, df_cap=20, min_support=2, threshold=0.6
    )


@q(
    "etld1_host_rollup",
    """
    WITH psl(suffix) AS (VALUES ('com'),('org'),('net'),('uk'),('co.uk'),('au'),('com.au')),
    pslset AS (SELECT list(suffix) AS s FROM psl),
    hosts AS (
      SELECT doc_id,
        CASE doc_id % 5
          WHEN 0 THEN 'www.site' || CAST(doc_id AS VARCHAR) || '.co.uk'
          WHEN 1 THEN 'blog.site' || CAST(doc_id AS VARCHAR) || '.com'
          WHEN 2 THEN 'site' || CAST(doc_id AS VARCHAR) || '.org'
          WHEN 3 THEN 'a.b.site' || CAST(doc_id AS VARCHAR) || '.com.au'
          ELSE 'site' || CAST(doc_id AS VARCHAR) || '.unknowntld' END AS host
      FROM documents
      UNION ALL SELECT -1, 'co.uk'
      UNION ALL SELECT -2, 'localhost'),
    y AS (
      SELECT doc_id, host, string_split(host, '.') AS labels, s,
        CASE WHEN len(string_split(host, '.')) >= 2 THEN
          list_filter(
            list_transform(
              generate_series(1, least(len(string_split(host, '.')) - 1, 4)),
              j -> array_to_string(
                list_slice(string_split(host, '.'),
                           len(string_split(host, '.')) - j + 1,
                           len(string_split(host, '.'))), '.')),
            c -> list_contains(s, c))
        ELSE CAST([] AS VARCHAR[]) END AS matched
      FROM hosts, pslset)
    SELECT doc_id, host,
      CASE WHEN list_contains(s, host) THEN NULL
           WHEN len(matched) > 0 THEN
             labels[len(labels) - len(string_split(matched[len(matched)], '.'))]
             || '.' || matched[len(matched)]
           WHEN len(labels) >= 2 THEN
             array_to_string(list_slice(labels, len(labels) - 1, len(labels)), '.')
           ELSE NULL END AS etld1
    FROM y
    """,
)
def etld1_host_rollup(spark, sf_dir):
    """Registrable-domain (eTLD+1) extraction via the public-suffix
    longest-match rule (functions/urls.py etld_plus_one): the PSL
    collapses to ONE broadcast set row, suffix candidates are matched
    inside each row with transform/filter — zero shuffles, zero
    explode, map-only at 10^10 rows. Synthetic hosts exercise every
    branch: multi-label suffixes (co.uk, com.au beat uk/au), plain
    TLDs, the unknown-TLD implicit-* fallback, a host that IS a
    public suffix (NULL), and a single-label host (NULL). Per-site
    rollups / politeness / dedup scopes key on this. Reference
    analog: damId prefix normalization as grouping key
    (/root/reference/load/InputFileset.py:61-83)."""
    from dbp_etl_spark.functions.urls import etld_plus_one

    d = _t(spark, sf_dir, "documents")
    did, ds = F.col("doc_id"), F.col("doc_id").cast("string")
    host = (
        F.when(did % 5 == 0, F.concat(F.lit("www.site"), ds, F.lit(".co.uk")))
        .when(did % 5 == 1, F.concat(F.lit("blog.site"), ds, F.lit(".com")))
        .when(did % 5 == 2, F.concat(F.lit("site"), ds, F.lit(".org")))
        .when(did % 5 == 3, F.concat(F.lit("a.b.site"), ds, F.lit(".com.au")))
        .otherwise(F.concat(F.lit("site"), ds, F.lit(".unknowntld")))
    )
    hosts = d.select("doc_id", host.alias("host")).unionByName(
        local_frame(spark, [(-1, "co.uk"), (-2, "localhost")], "doc_id long, host string")
    )
    psl = local_frame(
        spark,
        [("com",), ("org",), ("net",), ("uk",), ("co.uk",), ("au",), ("com.au",)],
        "suffix string",
    )
    return etld_plus_one(hosts, psl).select("doc_id", "host", "etld1")


@q(
    "ip_range_enrich",
    """
    WITH facts AS (
      SELECT event_id,
             (event_id % 1000000) * 2654435761 % 4294967296 AS ip
      FROM events),
    ranges(label, lo, hi) AS (VALUES
      ('alpha',   16777216,   33554431),
      ('beta',   167772160,  184549375),
      ('gamma',  268435456,  805306367),
      ('delta',  805306368,  805306623),
      ('epsln', 2147483648, 3221225471),
      ('zeta',  3232235520, 3232301055),
      ('eta',   4278190080, 4294967295))
    SELECT event_id, ip, label
    FROM facts LEFT JOIN ranges ON ip BETWEEN lo AND hi
    """,
)
def ip_range_enrich(spark, sf_dir):
    """Point-in-range enrichment (operators/windows.py
    range_lookup_join): geo-IP/CIDR-style lookup of which range
    contains each fact value. Ranges explode into the 2^24-wide
    buckets they cover, so the non-equi BETWEEN becomes a broadcast
    HASH join on the bucket key with the BETWEEN as residual — the
    fact side never shuffles (map-only at 10^10 rows), and fan-out per
    range is width/2^24. Synthetic ranges exercise single-bucket,
    multi-bucket (gamma spans 32 buckets), sub-bucket tiny (delta,
    256 addresses), and gap (NULL label) cases; ips are a
    deterministic Knuth-hash spread over the 32-bit space. Oracle is
    the plain BETWEEN join."""
    from dbp_etl_spark.operators.windows import range_lookup_join

    e = _t(spark, sf_dir, "events")
    facts = e.select(
        "event_id",
        ((F.col("event_id") % 1000000) * 2654435761 % 4294967296).alias("ip"),
    )
    ranges = local_frame(
        spark,
        [
            ("alpha", 16777216, 33554431),
            ("beta", 167772160, 184549375),
            ("gamma", 268435456, 805306367),
            ("delta", 805306368, 805306623),
            ("epsln", 2147483648, 3221225471),
            ("zeta", 3232235520, 3232301055),
            ("eta", 4278190080, 4294967295),
        ],
        "label string, lo long, hi long",
    )
    return range_lookup_join(facts, ranges, "ip").select("event_id", "ip", "label")


@q(
    "recrawl_change_rate",
    """
    WITH crawls AS (
      SELECT 'site' || CAST(user_id % 37 AS VARCHAR) || '.com' AS host,
             user_id,
             concat_ws('|', event_type, CAST(floor(value) AS BIGINT)) AS payload,
             lag(concat_ws('|', event_type, CAST(floor(value) AS BIGINT)))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events)
    SELECT host,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_urls,
           CAST(sum(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_recrawls,
           CAST(sum(CASE WHEN prev IS NOT NULL AND payload <> prev THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           round(CAST(sum(CASE WHEN prev IS NOT NULL AND payload <> prev THEN 1 ELSE 0 END) AS DOUBLE)
                 / nullif(sum(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END), 0), 4) AS change_rate
    FROM crawls GROUP BY host
    """,
)
def recrawl_change_rate(spark, sf_dir):
    """Per-host recrawl change rate — the signal that drives adaptive
    recrawl scheduling (crawl a host as often as its content actually
    changes; Cho & Garcia-Molina 2003 freshness policy). Each key's
    crawl history is compared pairwise-adjacent via lag() inside an
    entity-partitioned window (bounded state: one page's history), and
    changed/unchanged transitions roll up host-keyed — hosts are agg
    keys with map-side combine, so a 10^9-page host is a hot GROUP BY
    key, not a window problem. Pairs with the CDC pipeline: 'changed'
    here is exactly what merge_batch classifies as update vs unchanged
    (cdc/merge.py action ladder). Events stand in for crawls (user =
    page, host = user mod 37, payload = type|floor(value))."""
    ev = _t(spark, sf_dir, "events")
    payload = F.concat_ws(
        "|", F.col("event_type"), F.floor("value").cast("bigint").cast("string")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    crawls = ev.select(
        F.concat(F.lit("site"), (F.col("user_id") % 37).cast("string"), F.lit(".com")).alias(
            "host"
        ),
        "user_id",
        payload.alias("payload"),
        F.lag(payload).over(w).alias("prev"),
    )
    trans = F.when(F.col("prev").isNotNull(), 1).otherwise(0)
    chg = F.when(
        F.col("prev").isNotNull() & (F.col("payload") != F.col("prev")), 1
    ).otherwise(0)
    return crawls.groupBy("host").agg(
        F.countDistinct("user_id").alias("n_urls"),
        F.sum(trans).alias("n_recrawls"),
        F.sum(chg).alias("n_changed"),
        F.round(
            F.sum(chg).cast("double") / F.nullif(F.sum(trans), F.lit(0)), 4
        ).alias("change_rate"),
    )


@q(
    "mixture_temperature_sample",
    """
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_d,
             round(sqrt(count(*)), 6) AS w_d
      FROM documents GROUP BY source),
    z AS (SELECT round(sum(w_d), 6) AS z FROM counts),
    rates AS (
      SELECT source, n_d,
             round(least(200 * w_d / z / n_d, 1.0), 9) AS rate
      FROM counts, z)
    SELECT d.doc_id, d.source, r.rate
    FROM documents d JOIN rates r USING (source)
    WHERE (CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|13'), 1, 15)
           AS BIGINT)) / 1152921504606846976.0 < r.rate
    """,
)
def mixture_temperature_sample(spark, sf_dir):
    """Temperature-scaled mixture sampling for training-data mixes
    (the T=2 multilingual/domain re-balancing recipe: sample share
    proportional to n_d^(1/T), upweighting tail domains): per-domain
    sqrt-weights normalize into inclusion rates against a 200-doc
    budget, clamped at 1.0, and membership is a deterministic md5
    uniform per doc — reproducible across engines and runs, no RNG
    state. Scale shape: domain stats are one map-side-combined agg
    over ~100s of groups, the rate table broadcasts back onto the
    corpus, and selection is a map-only filter — nothing global except
    two one-row reductions. sqrt (IEEE-exact in every engine, unlike
    pow) plus 6/9-dp rounding makes the draw bit-stable between Spark
    and the DuckDB oracle."""
    d = _t(spark, sf_dir, "documents")
    from dbp_etl_spark.operators.dedup_ops import _h60

    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_d"),
        F.round(F.sqrt(F.count(F.lit(1))), 6).alias("w_d"),
    )
    z = counts.agg(F.round(F.sum("w_d"), 6).alias("z"))
    rates = counts.join(F.broadcast(z)).select(
        "source",
        F.round(
            F.least(F.lit(200) * F.col("w_d") / F.col("z") / F.col("n_d"), F.lit(1.0)), 9
        ).alias("rate"),
    )
    u = _h60(F.col("doc_id").cast("string"), 13) / F.lit(1152921504606846976.0)
    return (
        d.join(F.broadcast(rates), "source")
        .where(u < F.col("rate"))
        .select("doc_id", "source", "rate")
    )


@q(
    "pmi_collocations",
    """
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    bigrams AS (
      SELECT t[CAST(i AS INTEGER)] AS w1, t[CAST(i AS INTEGER) + 1] AS w2
      FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)),
    uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
        SELECT unnest(t) AS w FROM toks) GROUP BY w),
    bi AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      FROM bigrams GROUP BY w1, w2 HAVING count(*) >= 5),
    tot AS (
      SELECT (SELECT sum(c) FROM uni) AS n,
             (SELECT count(*) FROM bigrams) AS b)
    SELECT w1, w2, c12,
           round(CAST(c12 * n * n AS DOUBLE) / (b * u1.c * u2.c), 6) AS pmi_ratio
    FROM bi JOIN uni u1 ON u1.w = w1 JOIN uni u2 ON u2.w = w2, tot
    ORDER BY pmi_ratio DESC, w1, w2 LIMIT 20
    """,
)
def pmi_collocations(spark, sf_dir):
    """PMI collocation mining (phrase discovery for vocab/tokenizer
    construction, Church & Hanks 1990): bigrams whose co-occurrence
    beats chance — P(w1,w2)/(P(w1)P(w2)) with a count->=5 floor so
    hapax pairs can't dominate. The score keeps exact integer
    numerator/denominator (c12*N^2 vs B*c1*c2) and divides ONCE, so
    the double is bit-identical across engines (no ln(), no pow()).
    Scale shape: one position-explode over documents, two
    map-side-combined aggs (unigrams, bigrams), two broadcast-sized
    lookup joins on the >=5-count survivors, top-20 via sorted limit
    (partial top-k per partition, no global sort materialized)."""
    # r6 (guide §2.4 "remove shuffles outright"): the previous shape
    # re-evaluated the token-explode subtree five times (bigrams fed
    # `bi` and the `b` total; unigrams fed the `n` total and both
    # lookup sides), so the corpus was split+exploded 5x per run.
    # Now each explode runs ONCE into a persisted vocabulary-sized
    # aggregate; the totals are tiny follow-up aggs over those
    # (b = count of bigrams = sum of per-bigram counts, exact bigint),
    # and the corpus scan is spread over the cluster first (the bench
    # fixture is a single-row-group file = one scan task).
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = d.select(F.split(F.lower("text"), " ").alias("t"))
    bigrams = toks.select(
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("t"), i).alias("w1"),
                        F.element_at(F.col("t"), i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select("p.w1", "p.w2")
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    bi_all = (
        bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")).persist()
    )
    bi = bi_all.where(F.col("c12") >= 5)
    tot = uni.agg(F.sum("c").alias("n")).crossJoin(
        bi_all.agg(F.sum("c12").alias("b"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                (F.col("c12") * F.col("n") * F.col("n")).cast("double")
                / (F.col("b") * F.col("c1") * F.col("c2")),
                6,
            ).alias("pmi_ratio"),
        )
    )
    return scored.orderBy(F.desc("pmi_ratio"), "w1", "w2").limit(20)


@q(
    "script_profile",
    """
    WITH pages AS (
      SELECT doc_id,
        text || ' ' || CASE doc_id % 4
          WHEN 0 THEN 'привет мир как дела'
          WHEN 1 THEN '你好世界欢迎光临'
          WHEN 2 THEN 'مرحبا بالعالم اهلا'
          ELSE 'plain latin tail' END AS s
      FROM documents),
    counted AS (
      SELECT doc_id,
        CAST(length(s) - length(regexp_replace(s, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
        CAST(length(s) - length(regexp_replace(s, '[\\x{0400}-\\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrillic,
        CAST(length(s) - length(regexp_replace(s, '[\\x{4E00}-\\x{9FFF}]', '', 'g')) AS BIGINT) AS n_cjk,
        CAST(length(s) - length(regexp_replace(s, '[\\x{0600}-\\x{06FF}]', '', 'g')) AS BIGINT) AS n_arabic
      FROM pages)
    SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_arabic,
      CASE greatest(n_latin, n_cyrillic, n_cjk, n_arabic)
        WHEN n_latin THEN 'latin'
        WHEN n_cyrillic THEN 'cyrillic'
        WHEN n_cjk THEN 'cjk'
        ELSE 'arabic' END AS dominant_script
    FROM counted
    """,
)
def script_profile(spark, sf_dir):
    """Writing-system profiling for multilingual corpus routing:
    per-document character counts for Latin / Cyrillic / CJK / Arabic
    plus the dominant script — the cheap charset-level signal that
    routes pages to per-script tokenizers and language-ID models
    before any model runs. Counts use EXPLICIT code-point ranges
    (U+0400-04FF etc.), not named classes, so Java regex and RE2
    agree character-for-character; count = length minus
    length-after-removal, one JVM regexp pass per script, map-only.
    Tie-break ladder is fixed (latin > cyrillic > cjk > arabic at
    equal counts) and mirrored in the oracle. Synthetic non-Latin
    tails exercise every script branch deterministically."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    tail = (
        F.when(did % 4 == 0, "привет мир как дела")
        .when(did % 4 == 1, "你好世界欢迎光临")
        .when(did % 4 == 2, "مرحبا بالعالم اهلا")
        .otherwise("plain latin tail")
    )
    s = F.concat(F.col("text"), F.lit(" "), tail)

    def n_in(rng):
        return (F.length(s) - F.length(F.regexp_replace(s, f"[{rng}]", ""))).cast(
            "long"
        )

    counts = {
        "n_latin": n_in("A-Za-z"),
        "n_cyrillic": n_in("Ѐ-ӿ"),
        "n_cjk": n_in("一-鿿"),
        "n_arabic": n_in("؀-ۿ"),
    }
    out = d.select("doc_id", *[c.alias(n) for n, c in counts.items()])
    top = F.greatest("n_latin", "n_cyrillic", "n_cjk", "n_arabic")
    dom = (
        F.when(top == F.col("n_latin"), "latin")
        .when(top == F.col("n_cyrillic"), "cyrillic")
        .when(top == F.col("n_cjk"), "cjk")
        .otherwise("arabic")
    )
    return out.withColumn("dominant_script", dom)


@q(
    "key_skew_histogram",
    """
    WITH keyed AS (
      SELECT CASE WHEN user_id % 10 < 3 THEN 0 ELSE user_id END AS k
      FROM events),
    counts AS (
      SELECT k, CAST(count(*) AS BIGINT) AS c FROM keyed GROUP BY k)
    SELECT CAST(length(bin(c)) - 1 AS INTEGER) AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(max(c) AS BIGINT) AS max_count
    FROM counts GROUP BY 1 ORDER BY 1
    """,
)
def key_skew_histogram(spark, sf_dir):
    """Shuffle-key skew diagnosis (operators/sketches.py
    key_skew_histogram): log2-bucketed count-of-counts for a join key
    — the one-pass answer to "does this key have a whale?" before
    committing 10^10 rows to a shuffle. Both aggs map-side combine;
    the output is <=64 rows at any input size; bucket edges come from
    binary-string length, not float log2, so engines agree exactly.
    The rigged key folds 30%% of users into one hot key, which must
    surface as a lone high bucket with n_keys=1."""
    from dbp_etl_spark.operators.sketches import key_skew_histogram as kh

    e = _t(spark, sf_dir, "events")
    keyed = e.select(
        F.when(F.col("user_id") % 10 < 3, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("k")
    )
    return kh(keyed, ["k"])


@q(
    "redirect_resolve",
    """
    WITH RECURSIVE docs AS (
      SELECT doc_id AS d FROM documents),
    edges AS (
      SELECT a.d AS src, b.d AS dst
      FROM docs a JOIN docs b
        ON b.d = CASE WHEN a.d <= 2 THEN (a.d + 1) % 3
                      WHEN (a.d + 1) % 5 <> 0 THEN a.d + 1 END),
    walk AS (
      SELECT src, dst AS cur, 1 AS hops FROM edges
      UNION ALL
      SELECT w.src, e.dst, w.hops + 1
      FROM walk w JOIN edges e ON e.src = w.cur
      WHERE w.hops < 48),
    term AS (
      SELECT w.src, w.cur AS final, w.hops
      FROM walk w
      WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = w.cur))
    SELECT s.src AS node,
           CAST(t.final AS BIGINT) AS final,
           CAST(t.hops AS BIGINT) AS hops,
           (t.src IS NULL) AS is_cycle
    FROM (SELECT DISTINCT src FROM edges) s
    LEFT JOIN term t ON t.src = s.src
    ORDER BY node
    """,
)
def redirect_resolve(spark, sf_dir):
    """Redirect-chain resolution (operators/graph.py
    resolve_redirects): every crawl snapshot carries 3xx chains that
    must be collapsed to the terminal URL before dedup/canonical
    election (the reference walks asset moves row-at-a-time,
    /root/reference/load/UpdateDBPFilesetTables.py; a 100 TB snapshot
    needs the log-round form). Pointer doubling: chains of length L
    resolve in ceil(log2 L) self-joins; loops are detected, not
    followed forever. The rigged graph over doc_id carves the corpus
    into 4-hop chains broken at multiples of 5 plus one 3-node cycle
    (docs 0,1,2), so the output must show hops 1..4, terminal nodes
    absent (they have no out-edge), and exactly three is_cycle rows
    with NULL final/hops — the oracle's recursive CTE agrees on every
    row."""
    from dbp_etl_spark.operators.graph import resolve_redirects

    d = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("d"))
    did = F.col("a.d")
    dst_id = F.when(did <= 2, (did + 1) % 3).when(
        (did + 1) % 5 != 0, did + 1
    )
    edges = (
        d.alias("a")
        .join(d.alias("b"), F.col("b.d") == dst_id)
        .select(did.alias("src"), F.col("b.d").alias("dst"))
    )
    return resolve_redirects(edges).orderBy("node")


@q(
    "crawler_trap_detect",
    """
    WITH pages AS (
      SELECT CASE
               WHEN user_id % 3 = 0 THEN 'https://example.com/cal/2026/' || CAST(event_id AS VARCHAR)
               WHEN user_id % 3 = 1 THEN 'https://site.org/s/' || md5(CAST(event_id % 5 AS VARCHAR))
               ELSE 'https://blog.net/post/' || CAST(event_id % 7 AS VARCHAR)
                    || '?page=' || CAST(event_id % 3 AS VARCHAR)
             END AS url,
             CASE
               WHEN user_id % 3 = 0 THEN 'calendar grid'
               WHEN user_id % 3 = 1 THEN 'session ' || CAST(event_id % 5 AS VARCHAR)
               ELSE 'post body ' || CAST(event_id % 7 AS VARCHAR)
             END AS content
      FROM events),
    keyed AS (
      SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS host,
             regexp_replace(
               regexp_replace(
                 regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                 '[0-9a-f]{8,}', 'H', 'g'),
               '[0-9]+', 'N', 'g')
             || CASE WHEN url LIKE '%?%' THEN '?Q' ELSE '' END AS template,
             url, content
      FROM pages),
    prof AS (
      SELECT host, template,
             CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
             CAST(count(DISTINCT content) AS BIGINT) AS n_content
      FROM keyed GROUP BY host, template)
    SELECT host, template, n_urls, n_content,
           CAST(n_content AS DOUBLE) / n_urls AS diversity,
           (n_urls >= 20 AND CAST(n_content AS DOUBLE) / n_urls <= 0.1) AS is_trap
    FROM prof ORDER BY host, template
    """,
)
def crawler_trap_detect(spark, sf_dir):
    """Crawler-trap detection by URL-template mining
    (operators/crawl.py mine_url_templates): mask volatile path
    material (hex ids -> H, digit runs -> N, query string -> ?Q), then
    profile each (host, template) for URL fan-out vs content
    diversity. Templates that enumerate many URLs over near-constant
    bodies — calendars, session ids, facet grids — are the infinite
    URL spaces a 100 TB recrawl frontier must prune. Map-only JVM
    regexp derivation + ONE groupBy whose key cardinality is
    template-count, not URL-count; exact distincts here for oracle
    parity, approx_count_distinct (HLL) is the scale default. The
    rigged corpus plants one calendar trap (/cal/N/N: thousands of
    URLs, one body), one hex-session template (/s/H: 5 urls, 5
    bodies), and one paginated-but-diverse template (/post/N?Q: 21
    urls over 7 bodies — many URLs but NOT a trap), so the flag must
    fire exactly once."""
    from dbp_etl_spark.operators.crawl import mine_url_templates

    ev = _t(spark, sf_dir, "events")
    uid, eid = F.col("user_id"), F.col("event_id")
    url = (
        F.when(
            uid % 3 == 0,
            F.concat(F.lit("https://example.com/cal/2026/"), eid.cast("string")),
        )
        .when(
            uid % 3 == 1,
            F.concat(F.lit("https://site.org/s/"), F.md5((eid % 5).cast("string"))),
        )
        .otherwise(
            F.concat(
                F.lit("https://blog.net/post/"),
                (eid % 7).cast("string"),
                F.lit("?page="),
                (eid % 3).cast("string"),
            )
        )
    )
    content = (
        F.when(uid % 3 == 0, F.lit("calendar grid"))
        .when(uid % 3 == 1, F.concat(F.lit("session "), (eid % 5).cast("string")))
        .otherwise(F.concat(F.lit("post body "), (eid % 7).cast("string")))
    )
    pages = ev.select(url.alias("url"), content.alias("content"))
    return mine_url_templates(pages, "url", "content").orderBy("host", "template")


@q(
    "winnow_fingerprint_profile",
    """
    WITH grams AS (
      SELECT doc_id, CAST(u.pos AS INTEGER) AS pos,
             CAST('0x' || substr(md5(substr(text, CAST(u.pos AS INTEGER), 8) || '|0'), 1, 15)
                  AS BIGINT) AS h
      FROM documents, unnest(generate_series(1, length(text) - 7)) AS u(pos)),
    sel AS (
      SELECT doc_id,
             min({'h': h, 'p': pos}) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS s,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
      FROM grams),
    fp AS (
      SELECT DISTINCT doc_id, s.p AS pos, s.h AS fp FROM sel WHERE rn >= 4)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
           CAST(sum(fp) AS DECIMAL(38,0)) AS fp_sum,
           CAST(min(pos) AS INTEGER) AS min_pos,
           CAST(max(pos) AS INTEGER) AS max_pos
    FROM fp GROUP BY doc_id ORDER BY doc_id
    """,
)
def winnow_fingerprint_profile(spark, sf_dir):
    """Winnowing fingerprint selection (operators/dedup_ops.py
    winnow_fingerprints — Schleimer et al. SIGMOD'03, the MOSS
    algorithm) profiled per document: k=8 char grams, window w=4,
    leftmost-min selection in the cross-engine md5-60 hash lane. The
    guarantee random sampling can't give: any shared span >= k+w-1
    chars between two docs shares a selected fingerprint, at ~2/(w+1)
    density — the localized "which spans match" complement to global
    MinHash/containment resemblance. One explode bounded by text
    length + ONE per-doc window; no joins. The oracle recomputes the
    full selection in SQL (struct-min window, identical leftmost tie
    discipline) and compares count / checksum / position extent per
    doc — a bit-stable pin of the entire selected set."""
    from dbp_etl_spark.operators.dedup_ops import winnow_fingerprints

    # r6: the selection itself is now map-side (no per-doc window, no
    # global distinct — see winnow_fingerprints); the profile stays a
    # single groupBy over the already-distinct selected rows. (A fully
    # map-side array fold was measured and REJECTED: every extra
    # reference to the selected-set column re-inlines the whole HOF
    # lane under CollapseProject and planning degenerates.)
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    fps = winnow_fingerprints(d, k=8, w=4, hash_fn="md5_60")
    return (
        fps.groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fp"),
            F.sum(F.col("fp").cast("decimal(38,0)")).alias("fp_sum"),
            F.min("pos").cast("int").alias("min_pos"),
            F.max("pos").cast("int").alias("max_pos"),
        )
        .orderBy("doc_id")
    )


@q(
    "gazetteer_phrase_tag",
    """
    WITH np AS (
      SELECT n_nationkey AS k,
             CASE WHEN n_nationkey % 3 = 0
                  THEN 'republic of ' || lower(n_name)
                  ELSE lower(n_name) END AS phrase
      FROM nation),
    docs2 AS (
      SELECT d.doc_id,
             d.text || ' home of ' || p1.phrase || ', and ' || p1.phrase
                    || ' again; plus ' || p2.phrase || '.' AS text
      FROM documents d
      JOIN np p1 ON p1.k = d.doc_id % 25
      JOIN np p2 ON p2.k = (d.doc_id + 7) % 25),
    toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '[^a-z0-9_]+', ' ', 'g')), ' ') AS arr
      FROM docs2),
    pos AS (
      SELECT doc_id, arr, CAST(u.i AS INTEGER) AS i
      FROM toks, unnest(generate_series(1, len(arr))) AS u(i)),
    dictk AS (
      SELECT DISTINCT phrase,
             string_split(phrase, ' ')[1] AS tok,
             len(string_split(phrase, ' ')) AS n
      FROM np),
    cand AS (
      SELECT p.doc_id, d.phrase, p.i
      FROM pos p JOIN dictk d ON p.arr[p.i] = d.tok
      WHERE array_to_string(list_slice(p.arr, p.i, p.i + d.n - 1), ' ') = d.phrase)
    SELECT doc_id, phrase,
           CAST(count(*) AS BIGINT) AS n_mentions,
           CAST(min(i) AS INTEGER) AS first_idx
    FROM cand GROUP BY doc_id, phrase ORDER BY doc_id, phrase
    """,
)
def gazetteer_phrase_tag(spark, sf_dir):
    """Gazetteer phrase tagging (operators/text_search.py
    gazetteer_match): dictionary NER over the corpus — every mention
    of every dictionary phrase, single- and multi-word, with counts
    and first position. The plan a 100 TB corpus needs: tokenize each
    doc ONCE, broadcast the dictionary keyed by FIRST token, candidate
    = equi-join, verify = map-side token-slice compare — no
    scan-per-phrase, no cross join, no UDF. The rig mixes single-token
    phrases with 3-token 'republic of …' phrases, plants one phrase
    twice and another once per doc behind punctuation, so multi-word
    runs, repeat counting, and the matching normal form are all
    value-pinned against the SQL recompute."""
    from dbp_etl_spark.operators.text_search import gazetteer_match

    d = _t(spark, sf_dir, "documents")
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"),
        F.when(
            F.col("n_nationkey") % 3 == 0,
            F.concat(F.lit("republic of "), F.lower(F.col("n_name"))),
        )
        .otherwise(F.lower(F.col("n_name")))
        .alias("phrase"),
    )
    p1 = n.select(F.col("k").alias("k1"), F.col("phrase").alias("ph1"))
    p2 = n.select(F.col("k").alias("k2"), F.col("phrase").alias("ph2"))
    docs2 = (
        d.join(F.broadcast(p1), F.col("doc_id") % 25 == F.col("k1"))
        .join(F.broadcast(p2), (F.col("doc_id") + 7) % 25 == F.col("k2"))
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" home of "),
                F.col("ph1"),
                F.lit(", and "),
                F.col("ph1"),
                F.lit(" again; plus "),
                F.col("ph2"),
                F.lit("."),
            ).alias("text"),
        )
    )
    return gazetteer_match(docs2, n.select("phrase")).orderBy("doc_id", "phrase")


@q(
    "vocab_growth_heaps",
    """
    WITH toks AS (
      SELECT d.doc_id, u.tok
      FROM documents d,
           unnest(string_split(trim(regexp_replace(lower(d.text), '[^a-z0-9_]+', ' ', 'g')), ' ')) AS u(tok)
      WHERE u.tok <> ''),
    mx AS (SELECT max(doc_id) AS mid FROM documents),
    dec AS (
      SELECT t.tok, CAST((t.doc_id * 10) // (mx.mid + 1) AS INTEGER) AS decile
      FROM toks t, mx),
    tok_per AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_tok FROM dec GROUP BY decile),
    first_seen AS (
      SELECT tok, min(decile) AS first_dec FROM dec GROUP BY tok),
    typ_per AS (
      SELECT first_dec AS decile, CAST(count(*) AS BIGINT) AS n_typ
      FROM first_seen GROUP BY first_dec)
    SELECT t.decile,
           CAST(sum(t.n_tok) OVER (ORDER BY t.decile) AS BIGINT) AS cum_tokens,
           CAST(sum(coalesce(y.n_typ, 0)) OVER (ORDER BY t.decile) AS BIGINT) AS cum_types
    FROM tok_per t LEFT JOIN typ_per y ON y.decile = t.decile
    ORDER BY t.decile
    """,
)
def vocab_growth_heaps(spark, sf_dir):
    """Heaps-law vocabulary-growth profile: cumulative distinct types
    vs cumulative tokens at ten corpus prefixes — the statistic that
    sizes a tokenizer vocabulary and detects corpus staleness (a
    flattening curve means new data adds no new language). All-integer
    outputs: bit-stable across engines by construction, no FP
    regression fit needed (the Zipf count-of-counts half of this
    picture is `key_skew_histogram`). Scale shape: one explode + the
    standard token-keyed wordcount shuffle (min-decile per type), one
    10-row decile rollup, cumulative window over 10 rows. The decile
    assignment is pure integer arithmetic over doc_id against a 1-row
    broadcast max — deterministic under any partitioning."""
    from dbp_etl_spark.operators.text_search import normalize_for_match

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(normalize_for_match(F.col("text")), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    mx = d.agg(F.max("doc_id").alias("mid"))
    dec = toks.crossJoin(F.broadcast(mx)).select(
        "tok",
        F.floor(F.col("doc_id") * 10 / (F.col("mid") + 1)).cast("int").alias("decile"),
    )
    tok_per = dec.groupBy("decile").agg(F.count(F.lit(1)).cast("bigint").alias("n_tok"))
    typ_per = (
        dec.groupBy("tok")
        .agg(F.min("decile").alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_typ"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tok_per.join(typ_per, "decile", "left")
        .select(
            "decile",
            F.sum("n_tok").over(w).cast("bigint").alias("cum_tokens"),
            F.sum(F.coalesce(F.col("n_typ"), F.lit(0))).over(w).cast("bigint").alias("cum_types"),
        )
        .orderBy("decile")
    )


_CHUNK_FOOTER = (
    " === standard footer: this boilerplate trailer is appended to every"
    " document so content-defined chunk boundaries resynchronize and the"
    " shared chunks dedup across the whole corpus ==="
)


@q(
    "content_chunk_dedup",
    f"""
    WITH docs2 AS (
      SELECT doc_id, text || '{_CHUNK_FOOTER}' AS text FROM documents),
    cuts AS (
      SELECT doc_id, text, CAST(u.pos AS INTEGER) AS pos
      FROM docs2, unnest(generate_series(8, length(text))) AS u(pos)
      WHERE CAST('0x' || substr(md5(substr(text, CAST(u.pos AS INTEGER) - 7, 8) || '|0'), 1, 15)
                 AS BIGINT) % 32 = 0),
    spans AS (
      SELECT doc_id, text,
             lag(pos, 1, 0) OVER (PARTITION BY doc_id ORDER BY pos) + 1 AS start,
             pos AS fin
      FROM cuts),
    tails AS (
      SELECT d.doc_id, d.text,
             coalesce(c.last_cut, 0) + 1 AS start,
             length(d.text) AS fin
      FROM docs2 d
      LEFT JOIN (SELECT doc_id, max(pos) AS last_cut FROM cuts GROUP BY doc_id) c
        ON c.doc_id = d.doc_id
      WHERE coalesce(c.last_cut, 0) + 1 <= length(d.text)),
    chunkrows AS (
      SELECT md5(substr(text, start, fin - start + 1)) AS chunk_hash,
             fin - start + 1 AS len
      FROM (SELECT * FROM spans UNION ALL SELECT * FROM tails)),
    per_hash AS (
      SELECT chunk_hash, CAST(count(*) AS BIGINT) AS copies, min(len) AS len
      FROM chunkrows GROUP BY chunk_hash)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM chunkrows) AS total_chunks,
           CAST(count(*) AS BIGINT) AS distinct_chunks,
           (SELECT CAST(sum(len) AS BIGINT) FROM chunkrows) AS total_chars,
           CAST(sum(len) AS BIGINT) AS distinct_chars,
           CAST(max(copies) AS BIGINT) AS max_copies
    FROM per_hash
    """,
)
def content_chunk_dedup(spark, sf_dir):
    """Content-defined chunking dedup (operators/dedup_ops.py
    content_defined_chunks — Manber '94 / LBFS): split every document
    at rolling-hash-chosen boundaries (h(8-gram) % 32 == 0, expected
    32-char chunks) and dedup chunks by hash across the corpus. The
    storage-dedup primitive the fixed-unit ops can't replace: an edit
    shifts every fixed block after it, but content-defined boundaries
    resynchronize within ~one chunk, so shared boilerplate dedups
    without alignment. The rig appends one shared footer to every doc;
    its chunks must collapse to single copies corpus-wide (max_copies
    ~= doc count), and the rollup (total vs distinct chunks/chars) is
    the dedup-savings ledger. md5_60 boundary hash = bit-identical cut
    decisions in the SQL recompute; all outputs integer."""
    from dbp_etl_spark.operators.dedup_ops import content_defined_chunks

    d = _spread(spark, _t(spark, sf_dir, "documents")).select(
        "doc_id", F.concat(F.col("text"), F.lit(_CHUNK_FOOTER)).alias("text")
    )
    chunks = content_defined_chunks(d, k=8, mask_bits=5, hash_fn="md5_60")
    # single pass (r6 optimization): total_chunks/total_chars fold out
    # of the per-hash rollup (sum(copies), sum over per-hash length
    # sums), so the expensive chunk lane is evaluated once instead of
    # once per aggregate branch + crossJoin. Identical results: rows
    # sharing a chunk_hash share the chunk bytes, hence the length.
    per_hash = chunks.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).cast("bigint").alias("copies"),
        F.min("length").alias("len"),
        F.sum("length").cast("bigint").alias("sum_len"),
    )
    return per_hash.agg(
        F.sum("copies").cast("bigint").alias("total_chunks"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_chunks"),
        F.sum("sum_len").cast("bigint").alias("total_chars"),
        F.sum("len").cast("bigint").alias("distinct_chars"),
        F.max("copies").cast("bigint").alias("max_copies"),
    )


@q(
    "holdout_split_disjoint",
    """
    WITH pages AS (
      SELECT doc_id,
             'site' || CAST(doc_id % 37 AS VARCHAR) ||
             CASE doc_id % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.co.uk' END AS domain
      FROM documents),
    assigned AS (
      SELECT doc_id, domain,
             CASE
               WHEN CAST('0x' || substr(md5(domain || '|0'), 1, 15) AS BIGINT) % 100 < 80 THEN 'train'
               WHEN CAST('0x' || substr(md5(domain || '|0'), 1, 15) AS BIGINT) % 100 < 90 THEN 'val'
               ELSE 'test' END AS split
      FROM pages),
    per_host AS (
      SELECT domain, CAST(count(DISTINCT split) AS BIGINT) AS n_splits FROM assigned GROUP BY domain)
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT domain) AS BIGINT) AS n_hosts,
           (SELECT CAST(max(n_splits) AS BIGINT) FROM per_host) AS max_splits_per_host
    FROM assigned GROUP BY split ORDER BY split
    """,
)
def holdout_split_disjoint(spark, sf_dir):
    """Leakage-safe train/val/test split (operators/sampling.py
    hash_split): split assignment is a pure hash of the registrable
    domain, so every page of a host lands in ONE split — the
    host-disjointness property that random row-splits violate (val
    sharing a domain with train is the classic contamination vector).
    Map-only, zero shuffle, re-run- and growth-stable: new pages of a
    known host join its existing split with no state. The rig folds
    500 docs onto 111 shared domains; max_splits_per_host == 1 IS the
    disjointness proof, value-checked alongside the per-split doc and
    host counts in the cross-engine md5-60 lane."""
    from dbp_etl_spark.operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    domain = F.concat(
        F.lit("site"),
        (did % 37).cast("string"),
        F.when(did % 3 == 0, ".com").when(did % 3 == 1, ".org").otherwise(".co.uk"),
    )
    pages = d.select("doc_id", domain.alias("domain"))
    assigned = hash_split(pages, "domain")
    per_host = assigned.groupBy("domain").agg(
        F.countDistinct("split").cast("bigint").alias("n_splits")
    )
    mx = per_host.agg(F.max("n_splits").cast("bigint").alias("max_splits_per_host"))
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("domain").cast("bigint").alias("n_hosts"),
        )
        .crossJoin(F.broadcast(mx))
        .select("split", "n_docs", "n_hosts", "max_splits_per_host")
        .orderBy("split")
    )


_QUOTE = (
    " >> the quick brown fox jumps over the lazy dog, said the archivist,"
    " and every mirror of this page repeats that exact sentence verbatim <<"
)


@q(
    "winnow_span_matches",
    f"""
    WITH docs2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 50 < 2 THEN text || '{_QUOTE}' ELSE text END AS text
      FROM documents),
    grams AS (
      SELECT doc_id, CAST(u.pos AS INTEGER) AS pos,
             CAST('0x' || substr(md5(substr(text, CAST(u.pos AS INTEGER), 8) || '|0'), 1, 15)
                  AS BIGINT) AS h
      FROM docs2, unnest(generate_series(1, length(text) - 7)) AS u(pos)),
    sel AS (
      SELECT doc_id,
             min({{'h': h, 'p': pos}}) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS s,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
      FROM grams),
    fp AS (
      SELECT DISTINCT doc_id, s.p AS pos, s.h AS fp FROM sel WHERE rn >= 4),
    live AS (
      SELECT fp FROM fp GROUP BY fp HAVING count(DISTINCT doc_id) <= 50),
    fpl AS (
      SELECT f.doc_id, f.pos, f.fp FROM fp f JOIN live l ON l.fp = f.fp),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_shared,
             CAST(min(a.pos) AS INTEGER) AS a_from, CAST(max(a.pos) AS INTEGER) AS a_to,
             CAST(min(b.pos) AS INTEGER) AS b_from, CAST(max(b.pos) AS INTEGER) AS b_to
      FROM fpl a JOIN fpl b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT * FROM pairs WHERE n_shared >= 3 ORDER BY id_a, id_b
    """,
)
def winnow_span_matches(spark, sf_dir):
    """MOSS span matching (operators/dedup_ops.py winnow_fingerprints
    composed to pairs): which documents share text spans, and where —
    the quotation/mirror/plagiarism report. Pairing is an equi-join of
    the winnowed fingerprint table with itself keyed by fp — candidate
    generation shuffles by fingerprint value, never all-pairs — and
    the scale-critical detail is STOP-FINGERPRINT pruning first: any
    fp present in > 50 docs is dropped before the join (a boilerplate
    8-gram shared by 10^6 pages would otherwise create a 10^12-row
    join group; pruning it loses nothing a span report wants). The rig
    appends one verbatim quote to 2 docs per 50; every such pair must
    surface with n_shared >= 3 and span extents covering the quote,
    value-checked against the SQL recompute end to end."""
    from dbp_etl_spark.operators.dedup_ops import winnow_fingerprints

    d = _spread(spark, _t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.when(F.col("doc_id") % 50 < 2, F.concat(F.col("text"), F.lit(_QUOTE)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    fps = winnow_fingerprints(d, k=8, w=4, hash_fn="md5_60")
    live = fps.groupBy("fp").agg(F.countDistinct("id").alias("df")).where(
        F.col("df") <= 50
    )
    fpl = fps.join(live.select("fp"), "fp")
    a = fpl.select(F.col("id").alias("id_a"), F.col("pos").alias("pa"), "fp")
    b = fpl.select(F.col("id").alias("id_b"), F.col("pos").alias("pb"), "fp")
    pairs = (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
            F.min("pa").cast("int").alias("a_from"),
            F.max("pa").cast("int").alias("a_to"),
            F.min("pb").cast("int").alias("b_from"),
            F.max("pb").cast("int").alias("b_to"),
        )
        .where(F.col("n_shared") >= 3)
        .select("id_a", "id_b", "n_shared", "a_from", "a_to", "b_from", "b_to")
        .orderBy("id_a", "id_b")
    )
    return pairs


@q(
    "robots_politeness_frontier",
    """
    WITH robots AS (
      SELECT 'h' || CAST(r_regionkey AS VARCHAR) AS host,
             'User-agent: *' || chr(10) || 'Disallow: /tmp' || chr(10) ||
             CASE WHEN r_regionkey % 2 = 0
                  THEN 'Crawl-delay: ' || CAST(r_regionkey + 2 AS VARCHAR) || '.5'
                  ELSE '# no delay' END AS robots_txt
      FROM region),
    lines AS (
      SELECT host, trim(u.line) AS line
      FROM robots, unnest(string_split(robots_txt, chr(10))) AS u(line)),
    delays AS (
      SELECT host, max(TRY_CAST(trim(regexp_extract(line, '^[A-Za-z-]+\\s*:\\s*(\\S+)', 1)) AS DOUBLE)) AS v
      FROM lines
      WHERE lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1)) = 'crawl-delay'
        AND TRY_CAST(trim(regexp_extract(line, '^[A-Za-z-]+\\s*:\\s*(\\S+)', 1)) AS DOUBLE) >= 0
      GROUP BY host),
    hostdelay AS (
      SELECT r.host, CAST(coalesce(CAST(ceil(d.v) AS BIGINT), 1) AS BIGINT) AS crawl_delay_sec
      FROM (SELECT DISTINCT host FROM robots) r LEFT JOIN delays d ON d.host = r.host),
    frontier AS (
      SELECT 'h' || CAST(user_id % 5 AS VARCHAR) AS host,
             '/p/' || CAST(event_id AS VARCHAR) AS url,
             value AS priority
      FROM events),
    ranked AS (
      SELECT f.host, f.url, hd.crawl_delay_sec,
             row_number() OVER (PARTITION BY f.host ORDER BY f.priority DESC, f.url) AS fetch_slot
      FROM frontier f JOIN hostdelay hd ON hd.host = f.host)
    SELECT host, url, CAST(fetch_slot AS BIGINT) AS fetch_slot,
           CAST((fetch_slot - 1) * crawl_delay_sec AS BIGINT) AS fetch_offset_sec
    FROM ranked WHERE fetch_slot <= 3 ORDER BY host, fetch_slot
    """,
)
def robots_politeness_frontier(spark, sf_dir):
    """Robots Crawl-delay extraction composed into frontier scheduling
    (operators/crawl.py parse_crawl_delay + frontier_schedule): parse
    the non-standard but widely-honored Crawl-delay directive per host
    (max of duplicates, ceil to whole seconds, default 1 when absent
    or unparseable), broadcast-join it onto the frontier, and emit
    politeness-offset fetch slots under a per-host budget. The rig
    gives even-keyed hosts fractional delays (ceil path) and odd-keyed
    hosts none (default path); one explode + host-keyed max for the
    parse, ONE host window for the schedule."""
    from dbp_etl_spark.operators.crawl import frontier_schedule, parse_crawl_delay

    r = _t(spark, sf_dir, "region")
    robots = r.select(
        F.concat(F.lit("h"), F.col("r_regionkey").cast("string")).alias("host"),
        F.concat(
            F.lit("User-agent: *\nDisallow: /tmp\n"),
            F.when(
                F.col("r_regionkey") % 2 == 0,
                F.concat(
                    F.lit("Crawl-delay: "),
                    (F.col("r_regionkey") + 2).cast("string"),
                    F.lit(".5"),
                ),
            ).otherwise(F.lit("# no delay")),
        ).alias("robots_txt"),
    )
    delays = parse_crawl_delay(robots)
    ev = _t(spark, sf_dir, "events")
    frontier = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 5).cast("string")).alias("host"),
        F.concat(F.lit("/p/"), F.col("event_id").cast("string")).alias("url"),
        F.col("value").alias("priority"),
    ).join(F.broadcast(delays), "host")
    sched = frontier_schedule(frontier, budget=3)
    return sched.select(
        "host",
        "url",
        F.col("fetch_slot").cast("bigint").alias("fetch_slot"),
        "fetch_offset_sec",
    ).orderBy("host", "fetch_slot")
