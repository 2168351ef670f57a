"""Window-family operators: sessionization, range merging, as-of join,
binned interval-overlap join.

Reference analogs: rolling verse concatenation (W5,
/root/reference/load/UpdateDBPTextFilesets.py:158-196), run-length
compression of ranges (W4, /root/reference/load/FilenameReducer.py:215-264),
and carry-forward sequencing (W6,
/root/reference/load/UpdateDBPBooksTable.py:179-214).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbp_etl_spark.session import local_frame


def sessionize(
    df: DataFrame,
    key: str,
    ts_col: str,
    gap_seconds: int,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Assign session ids: a new session starts when the gap to the
    previous event exceeds ``gap_seconds``. Classic lag + conditional
    cumulative sum — two window passes over the same (key, ts) sort,
    one shuffle."""
    order = [F.col(ts_col)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev_us = F.lag(us).over(w)
    new_session = F.when(
        prev_us.isNull() | (us - prev_us > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    return df.withColumn(
        "session_id",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )


def merge_overlapping_ranges(
    df: DataFrame, key: str, start_col: str, end_col: str
) -> DataFrame:
    """Collapse overlapping/adjacent [start, end] ranges per key into
    maximal spans (W5's rolling merge, generalized): a range whose
    start <= running-max(previous ends) merges into the open span.

    Returns (key, span_start, span_end, n_merged)."""
    w = Window.partitionBy(key).orderBy(start_col, end_col)
    prev_max_end = F.max(F.col(end_col)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_span = F.when(
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end), 1
    ).otherwise(0)
    spans = df.withColumn(
        "_span", F.sum(new_span).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return spans.groupBy(key, "_span").agg(
        F.min(start_col).alias("span_start"),
        F.max(end_col).alias("span_end"),
        F.count(F.lit(1)).alias("n_merged"),
    ).drop("_span")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    direction: str = "backward",
) -> DataFrame:
    """As-of join without a native Spark operator: union the probe and
    build sides tagged by origin, sort per key by time, carry the last
    build-side values forward with last(..., ignorenulls), then keep
    probe rows. ONE shuffle on (key, ts) — no per-group Python, no
    range-condition blowup; at 100 TB this beats the pd.merge_asof
    applyInPandas variant because it never materializes groups.

    ``direction='backward'`` (default): for each left row, the latest
    right row with right_ts <= left_ts. ``'forward'``: the earliest
    right row with right_ts >= left_ts (same one-shuffle plan, frame
    flipped to [current, unbounded following] with first(ignorenulls)).
    """
    if direction not in ("backward", "forward"):
        raise NotImplementedError(f"unsupported as-of direction {direction!r}")
    l_tag = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_is_probe"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"_r_{c}") for c in right_cols],
    )
    r_tag = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_probe"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{f.name}:{f.dataType.simpleString()}" for f in left.schema.fields) + ">"
        ).alias("_l"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
    )
    carried = r_tag.unionByName(l_tag)
    if direction == "backward":
        # build rows sort before probe rows at equal ts => "<=" semantics
        w = Window.partitionBy("_k").orderBy("_ts", "_is_probe")
        frame = w.rowsBetween(Window.unboundedPreceding, 0)
        pick = lambda c: F.last(c, ignorenulls=True)  # noqa: E731
    else:
        # probe rows sort before build rows at equal ts => ">=" semantics
        w = Window.partitionBy("_k").orderBy(F.col("_ts"), F.col("_is_probe").desc())
        frame = w.rowsBetween(0, Window.unboundedFollowing)
        pick = lambda c: F.first(c, ignorenulls=True)  # noqa: E731
    for c in right_cols:
        carried = carried.withColumn(f"_r_{c}", pick(F.col(f"_r_{c}")).over(frame))
    out = carried.filter(F.col("_is_probe") == 1)
    return out.select(
        *[F.col(f"_l.{c}").alias(c) for c in left.columns],
        *[F.col(f"_r_{c}").alias(c) for c in right_cols],
    )


def overlap_join_binned(
    left: DataFrame,
    right: DataFrame,
    left_range: tuple[str, str],
    right_range: tuple[str, str],
    bin_seconds: int,
) -> DataFrame:
    """Interval overlap join WITHOUT an equi key: pairs where
    ``[l_start, l_end) ∩ [r_start, r_end) ≠ ∅``.

    Spark has no native band join, and the naive form is a cartesian
    with a range filter — O(|L|·|R|) and a single-task
    BroadcastNestedLoopJoin at scale. This decomposes time into
    fixed-width bins: each interval explodes to the bins it covers,
    the join is an EQUI join on the bin id (shuffle keyed by bin,
    normal SortMergeJoin parallelism), and each overlapping pair is
    emitted exactly once by keeping only the bin containing the pair's
    first overlap instant ``max(l_start, r_start)`` — no distinct pass.

    ``bin_seconds`` sizing: pick ≈ the typical interval length —
    explode factor is interval_len/bin (rows), while too-coarse bins
    put many intervals in one bin (join fan-out). A hot bin (e.g. an
    outage hour everyone's interval crosses) is an ordinary skewed
    join key: AQE skew-join splitting applies as usual.

    Column names of the two sides must be disjoint (the result carries
    both). End-exclusive, empty intervals never match. Timestamp or
    numeric-seconds columns accepted.
    """
    l_s, l_e = left_range
    r_s, r_e = right_range
    shared = set(left.columns) & set(right.columns)
    if shared:
        raise ValueError(f"column names must be disjoint, both sides have {sorted(shared)}")

    bin_us = int(bin_seconds) * 1_000_000

    def _us(side: DataFrame, col: str):
        dt = dict(side.dtypes)[col]
        c = F.col(col)
        return F.unix_micros(c) if dt.startswith("timestamp") else (c.cast("double") * 1_000_000).cast("long")

    def _bin_of(x):
        # exact floor-division on longs (double division can misplace
        # exact bin-boundary instants); pmod keeps floor semantics for
        # pre-epoch negatives
        return ((x - F.pmod(x, F.lit(bin_us))) / F.lit(bin_us)).cast("long")

    def _binned(side: DataFrame, s: str, e: str, bin_name: str) -> DataFrame:
        s_us, e_us = _us(side, s), _us(side, e)
        return side.withColumn(
            bin_name,
            F.explode(F.sequence(_bin_of(s_us), _bin_of(e_us - F.lit(1)))),
        ).filter(s_us < e_us)

    lb = _binned(left, l_s, l_e, "_lbin")
    rb = _binned(right, r_s, r_e, "_rbin")
    joined = lb.join(rb, lb["_lbin"] == rb["_rbin"], "inner")
    l_s_us, r_s_us = _us(joined, l_s), _us(joined, r_s)
    l_e_us, r_e_us = _us(joined, l_e), _us(joined, r_e)
    first_overlap_bin = _bin_of(F.greatest(l_s_us, r_s_us))
    return (
        joined.filter((l_s_us < r_e_us) & (r_s_us < l_e_us))
        .filter(F.col("_lbin") == first_overlap_bin)
        .drop("_lbin", "_rbin")
    )


def assign_global_sequence(
    df: DataFrame,
    order_by: list,
    coarse_key: "Column",
    seq_col: str = "seq",
    map_inline_max: int = 10_000,
) -> DataFrame:
    """Globally-ordered 1-based sequence WITHOUT a single-partition sort.

    The naive ``row_number() OVER (ORDER BY ...)`` funnels every row
    through one task — a scale-killer at 10^10 rows. This is the
    per-range zipWithIndex decomposition instead:

    1. rows are grouped by ``coarse_key`` (a caller-supplied expression
       aligned with the order: every row of bucket k sorts before every
       row of bucket k+1 — e.g. month(ts) when ordering by ts);
    2. a per-bucket window ranks locally (sort parallelism = #buckets);
    3. bucket row-counts (a bounded collect, one per bucket) become
       cumulative offsets; seq = offset[bucket] + local rank.

    Deterministic and recompute-safe — bucket membership derives from
    the data, not from physical partition ids, so no persist() is
    needed between the two passes.

    Reference analog: the same TOC sequencing as the window form
    (/root/reference/load/UpdateDBPBooksTable.py:179-214).
    """
    order = [F.col(c) if isinstance(c, str) else c for c in order_by]
    d = df.withColumn("_ck", coarse_key)
    w = Window.partitionBy("_ck").orderBy(*order)
    d = d.withColumn("_lrn", F.row_number().over(w))
    counts = {
        r["_ck"]: r["n"]
        for r in df.groupBy(coarse_key.alias("_ck")).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # a NULL coarse key is one bucket; it sorts FIRST to mirror Spark's
    # nulls-first default in the naive ORDER BY form
    offsets, acc = {}, 0
    for ck in sorted(counts, key=lambda x: (x is not None, x)):
        offsets[ck] = acc
        acc += counts[ck]
    null_off = offsets.pop(None, None)
    drop_cols = ["_ck", "_lrn"]
    if len(offsets) > map_inline_max:
        # plan-size guard: inlining tens of thousands of create_map
        # literals bloats the logical plan (slow analysis, big task
        # binaries). Past the threshold, ship the offsets as a tiny
        # broadcast-joined table instead — same result, O(1) plan size.
        ck_field = next(f for f in d.schema.fields if f.name == "_ck")
        off_df = local_frame(
            df.sparkSession,
            list(offsets.items()),
            T.StructType(
                [
                    T.StructField("_ck_join", ck_field.dataType),
                    T.StructField("_off", T.LongType()),
                ]
            ),
        )
        d = d.join(
            F.broadcast(off_df), F.col("_ck") == F.col("_ck_join"), "left"
        ).drop("_ck_join")
        off_expr = F.col("_off")
        drop_cols.append("_off")
    elif offsets:
        mapping = F.create_map(
            *[x for ck, off in offsets.items() for x in (F.lit(ck), F.lit(off))]
        )
        off_expr = mapping[F.col("_ck")]
    else:
        off_expr = F.lit(None).cast("long")
    if null_off is not None:
        off_expr = F.when(F.col("_ck").isNull(), F.lit(null_off)).otherwise(off_expr)
    return d.withColumn(
        seq_col, (off_expr + F.col("_lrn")).cast("long")
    ).drop(*drop_cols)


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    tokens_col: str = "n_tokens",
    order_by: list | None = None,
    coarse_key: "Column | None" = None,
) -> DataFrame:
    """GPT-style sequence packing (concat-and-chop): documents are
    concatenated in a deterministic order and chopped into fixed
    ``seq_len``-token training sequences; each document learns which
    packs it lands in. The LM-pretraining batching op — the answer to
    "which context windows does doc X occupy" without materializing
    token streams.

    Adds: ``start_offset`` (global tokens before this doc),
    ``first_pack``/``last_pack`` (``start_offset // seq_len`` and the
    pack of the doc's last token) and ``n_packs`` (how many windows
    the doc spans; 0-token docs span none).

    The global prefix sum uses the same two-phase decomposition as
    ``assign_global_sequence`` — per-``coarse_key`` window cumsum +
    bounded per-bucket totals as offsets — so nothing funnels through
    a single-partition ORDER BY. ``coarse_key`` must be order-aligned
    (every row of bucket k sorts before bucket k+1).
    """
    order = [F.col(c) if isinstance(c, str) else c for c in (order_by or ["doc_id"])]
    ck = coarse_key if coarse_key is not None else F.lit(0)
    d = df.withColumn("_ck", ck)
    w = (
        Window.partitionBy("_ck")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_prefix = F.coalesce(F.sum(F.col(tokens_col)).over(w), F.lit(0)).cast("long")
    totals = {
        r["_ck"]: r["s"]
        for r in df.groupBy(ck.alias("_ck"))
        .agg(F.coalesce(F.sum(tokens_col), F.lit(0)).alias("s"))
        .collect()  # bounded: one row per coarse bucket
    }
    offsets, acc = {}, 0
    for b in sorted(totals, key=lambda x: (x is not None, x)):
        offsets[b] = acc
        acc += totals[b]
    null_off = offsets.pop(None, None)
    if offsets:
        mapping = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        )
        off_expr = mapping[F.col("_ck")]
    else:
        off_expr = F.lit(None).cast("long")
    if null_off is not None:
        off_expr = F.when(F.col("_ck").isNull(), F.lit(null_off)).otherwise(off_expr)
    start = (off_expr + local_prefix).cast("long")
    n_tok = F.col(tokens_col).cast("long")
    first_pack = (start / seq_len).cast("long")
    last_pack = ((start + n_tok - 1) / seq_len).cast("long")
    return (
        d.withColumn("start_offset", start)
        .withColumn("first_pack", F.when(n_tok > 0, first_pack))
        .withColumn("last_pack", F.when(n_tok > 0, last_pack))
        .withColumn(
            "n_packs",
            F.when(n_tok > 0, last_pack - first_pack + 1).otherwise(F.lit(0)).cast("long"),
        )
        .drop("_ck")
    )


def range_lookup_join(
    facts,
    ranges,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bucket_bits: int = 24,
    how: str = "left",
):
    """Point-in-range enrichment (CIDR/geo-IP style): attach the range
    row whose ``[lo, hi]`` interval contains ``facts[value_col]``.

    A naive non-equi join is a BroadcastNestedLoopJoin — every fact
    row scans every range. Instead each range EXPLODES into the
    fixed-width buckets it covers (bucket = value >> bucket_bits) and
    the join becomes a broadcast HASH join on the bucket key with the
    BETWEEN as a join-side residual: each fact probes one hash slot
    holding only the ranges that touch its bucket. Fan-out per range
    row = width / 2^bucket_bits (a /16 CIDR at the default 24 bits is
    one row; the whole IPv4 space is 256) — the exploded dim stays
    broadcast-sized, and the fact side never shuffles: map-only at
    10^10 facts.

    Ranges are assumed non-overlapping (CIDR tables are); ``how`` is
    ``left`` (keep unmatched facts, NULL enrichment) or ``inner``.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"how must be left or inner, got {how!r}")
    v = F.col(value_col)
    b = F.explode(
        F.sequence(
            F.shiftright(F.col(lo_col), bucket_bits),
            F.shiftright(F.col(hi_col), bucket_bits),
        )
    ).alias("_bkt")
    bucketed = ranges.select(b, "*")
    cond = (
        (F.shiftright(v, bucket_bits) == bucketed["_bkt"])
        & (v >= bucketed[lo_col])
        & (v <= bucketed[hi_col])
    )
    return facts.join(F.broadcast(bucketed), cond, how).drop("_bkt", lo_col, hi_col)
