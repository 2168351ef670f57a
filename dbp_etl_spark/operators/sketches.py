"""Mergeable sketches as JVM-side aggregations: HyperLogLog distinct
counting and Count-Min frequency estimation.

Why sketches at 100 TB: an exact ``count(DISTINCT url)`` or a full
frequency table shuffles every distinct key; a sketch is a tiny,
MERGEABLE summary (registers / counters) that each partition builds
locally and a single reduce combines — the canonical scale pattern for
cardinality and heavy-hitter questions over a 10^10-row log. The
production-safe use is two-pass: the sketch PRUNES candidates cheaply,
an exact pass verifies only the survivors (see the
``hll_prefilter_groups`` / ``cm_candidate_keys`` helpers and their
driver-oracled queries) — answers stay exact, the exact pass touches
a fraction of the keys.

Everything here is built from deterministic ``xxhash64`` expressions
and plain groupBy/max/sum — no UDF, no RDD, no randomness; the same
input always yields the same sketch, which is what makes the error
bounds unit-testable.

Public-knowledge basis: Flajolet et al., "HyperLogLog: the analysis of
a near-optimal cardinality estimation algorithm" (2007); Cormode &
Muthukrishnan, "An improved data stream summary: the count-min sketch
and its applications" (2005).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbp_etl_spark.session import local_frame

# ----------------------------------------------------------------- HLL


def hll_registers(df: DataFrame, col: str, p: int = 12, group_by: list[str] | None = None) -> DataFrame:
    """Build HLL registers for ``col``: 2^p rows (register_id, rho) per
    group — the mergeable sketch state.

    register_id = low ``p`` bits of xxhash64(col); rho = 1 + leading
    zeros of the remaining 64-p bits. One shuffle keyed by (group,
    register) with map-side partial max — at any scale the reduce
    state is ≤ 2^p rows per group.
    """
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    h = F.xxhash64(F.col(col))
    # low p bits -> register; remaining bits shifted down
    reg = F.pmod(h, F.lit(1 << p)).cast("int")
    rest = F.shiftrightunsigned(h, p)
    # rho = position of the first 1-bit in the (64-p)-bit suffix,
    # counting from 1; all-zero suffix -> 64-p+1
    width = 64 - p
    # exact bit_length via the binary-string length (log2+floor on a
    # double misplaces 2^k-1 boundary values at 50+ bits)
    bitlen = F.when(rest == 0, F.lit(0)).otherwise(F.length(F.bin(rest)).cast("int"))
    rho = (F.lit(width) - bitlen + 1).cast("int")
    keys = [F.col(g) for g in (group_by or [])]
    out = (
        df.filter(F.col(col).isNotNull())
        .select(*keys, reg.alias("register_id"), rho.alias("rho"))
        .groupBy(*keys, "register_id")
        .agg(F.max("rho").alias("rho"))
    )
    return out


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union registers from independently built sketches (same p and
    grouping): register-wise max — the lossless HLL merge."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    keys = [c for c in out.columns if c != "rho"]
    return out.groupBy(*keys).agg(F.max("rho").alias("rho"))


def hll_estimate(sketch: DataFrame, p: int = 12, group_by: list[str] | None = None) -> DataFrame:
    """Harmonic-mean estimate with the standard small-range (linear
    counting) correction; returns one row per group with
    ``approx_distinct`` (double). Relative standard error ≈
    1.04/sqrt(2^p)."""
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)  # Flajolet's alpha_m for m >= 128
    keys = [F.col(g) for g in (group_by or [])]
    agg = sketch.groupBy(*keys).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("_sum_inv"),
        F.count("*").alias("_m_used"),
    )
    zeros = F.lit(float(m)) - F.col("_m_used")  # registers never hit
    raw = F.lit(alpha * m * m) / (F.col("_sum_inv") + zeros)
    # linear counting when the raw estimate is small and empty
    # registers remain (the regime where LC dominates HLL accuracy)
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    est = F.when((raw <= 2.5 * m) & (zeros > 0), lc).otherwise(raw)
    return agg.select(*[g for g in (group_by or [])], est.alias("approx_distinct"))


def hll_error_bound(p: int, sigmas: float = 3.0) -> float:
    """Relative error envelope: sigmas * 1.04 / sqrt(2^p)."""
    return sigmas * 1.04 / math.sqrt(1 << p)


def hll_prefilter_groups(
    df: DataFrame,
    group: str,
    col: str,
    min_distinct: int,
    p: int = 12,
    sigmas: float = 6.0,
) -> DataFrame:
    """Two-pass exact ``HAVING count(DISTINCT col) >= min_distinct``:
    the HLL pass drops every group whose approx distinct is below the
    threshold minus a ``sigmas``-wide envelope (a group that passes the
    exact bar is kept with overwhelming probability; the default 6
    sigma makes a false drop astronomically unlikely while still
    pruning the bulk of the groups), then the exact distinct runs only
    on survivors. Returns (group, distinct_cnt) EXACT rows. A looser
    envelope costs extra exact work, never correctness of kept rows."""
    sk = hll_registers(df, col, p=p, group_by=[group])
    est = hll_estimate(sk, p=p, group_by=[group])
    cut = min_distinct * (1.0 - hll_error_bound(p, sigmas=sigmas))
    candidates = est.filter(F.col("approx_distinct") >= F.lit(cut)).select(group)
    # r6 (ADVICE r5): no forced broadcast — the candidate count is
    # data-dependent and unbounded (a loose threshold at 10^10-key
    # scale could OOM the driver via a mandatory broadcast). AQE picks
    # broadcast at runtime whenever the survivors actually fit.
    exact = (
        df.join(candidates, group)
        .groupBy(group)
        .agg(F.countDistinct(col).alias("distinct_cnt"))
        .filter(F.col("distinct_cnt") >= min_distinct)
    )
    return exact


# ----------------------------------------------------------- Count-Min


def cm_sketch(df: DataFrame, col: str, width: int = 2048, depth: int = 4) -> DataFrame:
    """Count-Min sketch: ``depth`` hash rows × ``width`` counters as a
    (row, bucket, cnt) DataFrame — mergeable by summing cnt. One
    explode (×depth) + one shuffle bounded by depth·width counters."""
    if depth < 1 or width < 1:
        raise ValueError("width and depth must be >= 1")
    rows = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row")
    out = (
        df.filter(F.col(col).isNotNull())
        .select(F.col(col).alias("_k"))
        .select("_k", rows)
        .select(
            "row",
            F.pmod(F.xxhash64(F.col("_k"), F.col("row")), F.lit(width)).cast("int").alias("bucket"),
        )
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    return out


def cm_merge(*sketches: DataFrame) -> DataFrame:
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cm_estimate(sketch: DataFrame, keys: DataFrame, col: str, width: int = 2048, depth: int = 4) -> DataFrame:
    """Point estimates for ``keys[col]``: min over the depth rows of
    the matching counters. Never underestimates; overestimates by at
    most eps·N (eps = e/width) with prob 1-(1/2)^depth."""
    probes = keys.select(F.col(col).alias("_k")).distinct()
    probes = probes.select(
        "_k", F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row")
    ).select(
        "_k",
        "row",
        F.pmod(F.xxhash64(F.col("_k"), F.col("row")), F.lit(width)).cast("int").alias("bucket"),
    )
    joined = probes.join(sketch, ["row", "bucket"], "left").na.fill({"cnt": 0})
    return joined.groupBy("_k").agg(F.min("cnt").alias("approx_cnt")).withColumnRenamed("_k", col)


def cm_heavy_hitters_exact(
    df: DataFrame, col: str, min_count: int, width: int = 2048, depth: int = 4
) -> DataFrame:
    """Two-pass exact ``HAVING count(*) >= min_count``: the CM pass
    keeps keys whose estimate clears the bar (sound — CM never
    underestimates, so no true heavy hitter is dropped), the exact
    count runs only on survivors. Returns (col, cnt) EXACT rows."""
    sk = cm_sketch(df, col, width=width, depth=depth)
    est = cm_estimate(sk, df.select(col), col, width=width, depth=depth)
    candidates = est.filter(F.col("approx_cnt") >= min_count).select(col)
    # r6 (ADVICE r5): same as hll_prefilter_groups — candidate count is
    # unbounded, let AQE decide the join strategy at runtime.
    return (
        df.join(candidates, col)
        .groupBy(col)
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


# ------------------------------------------------- fixed-bin histogram


def fixed_histogram(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    nbins: int,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Mergeable fixed-bin histogram: ``nbins`` equal-width bins over
    [lo, hi); values outside clamp to the edge bins. Returns
    (group..., bin, cnt) — at any scale the reduce state is <= nbins
    rows per group (map-side partial sums do the heavy lifting), and
    two histograms merge by bin-wise ``sum`` — the property that lets
    each of 1000 executors summarize its shard locally.

    Deterministic (no sampling, no randomized compaction — unlike KLL/
    t-digest), which is what makes the quantile estimate below exactly
    reproducible across partitionings AND expressible as an oracle.
    """
    if nbins < 1:
        raise ValueError("nbins must be >= 1")
    if not hi > lo:
        raise ValueError("hi must be > lo")
    w = (hi - lo) / nbins
    x = F.col(col).cast("double")
    raw_bin = F.floor((x - F.lit(lo)) / F.lit(w)).cast("long")
    bin_ = F.greatest(F.lit(0), F.least(F.lit(nbins - 1), raw_bin))
    keys = [F.col(g) for g in (group_by or [])]
    return (
        df.filter(x.isNotNull())
        .select(*keys, bin_.alias("bin"))
        .groupBy(*keys, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge(*hists: DataFrame) -> DataFrame:
    """Bin-wise sum — the lossless merge of same-shape histograms."""
    out = hists[0]
    for h in hists[1:]:
        out = out.unionByName(h)
    keys = [c for c in out.columns if c != "cnt"]
    return out.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def hist_quantiles(
    hist: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    nbins: int,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Quantile estimates from a fixed-bin histogram by linear
    interpolation inside the covering bin (the lower-edge convention:
    the q-quantile's target rank is ``q * n``, the covering bin is the
    first whose running count reaches it, and the estimate is
    ``lo + w * (bin + (target - cum_before) / cnt)``).

    Error bound: one bin width (hi-lo)/nbins, by construction — the
    trade is bins vs accuracy, independent of data size. The window
    below runs over the AGGREGATED frame (<= nbins rows per group),
    not the data, so the plan is: narrow scan -> partial-agg shuffle
    of <= nbins rows -> tiny window. No global sort of the data — the
    thing exact percentile_disc would need.

    Returns (group..., q, est).
    """
    from pyspark.sql import Window

    w = (hi - lo) / nbins
    keys = list(group_by or [])
    win = Window.partitionBy(*[F.col(k) for k in keys]).orderBy("bin") if keys else Window.orderBy("bin")
    cum = hist.withColumn("_cum", F.sum("cnt").over(win)).withColumn(
        "_n", F.sum("cnt").over(Window.partitionBy(*[F.col(k) for k in keys]) if keys else Window.partitionBy())
    )
    qdf = cum.crossJoin(
        local_frame(cum.sparkSession, [(float(q),) for q in qs], "q double")
    )
    target = F.col("q") * F.col("_n")
    covering = qdf.where((F.col("_cum") >= target) & (F.col("_cum") - F.col("cnt") < target))
    est = F.lit(lo) + F.lit(w) * (
        F.col("bin") + (target - (F.col("_cum") - F.col("cnt"))) / F.col("cnt")
    )
    return covering.select(*keys, "q", est.alias("est"))


def cohort_overlap_exact_pruned(
    df: DataFrame,
    cohort_col: str,
    id_col: str,
    min_common: int,
    p: int = 12,
    sigmas: float = 6.0,
) -> DataFrame:
    """Pairwise cohort-overlap sizes ``|A ∩ B| >= min_common`` — EXACT
    output, HLL-pruned candidate pairs (the inclusion-exclusion
    composition over hll_registers/hll_merge).

    One sketch pass per cohort; per candidate pair the union sketch is
    the register-wise max, so est_overlap = est(A) + est(B) - est(A∪B).
    Subtraction amplifies relative error, so the prune envelope scales
    with the SUM of the three estimates (``sigmas`` × HLL rse × sum) —
    a pair that passes the exact bar survives the prune with
    overwhelming probability; a loose envelope costs extra exact work,
    never correctness. The exact pass self-joins the distinct
    (id, cohort) table restricted to cohorts in surviving pairs.

    Scale shape: sketch pass = one 2^p-bounded shuffle; pair expansion
    = two broadcast joins of the tiny pair list against the sketch
    (2^p × pairs rows, cohort-count-bounded, never id-scale); exact
    pass touches only surviving cohorts' ids. At 10^10 ids with
    hundreds of cohorts nothing driver-side or quadratic-in-ids exists.
    """
    sk = hll_registers(df, id_col, p=p, group_by=[cohort_col])
    est = hll_estimate(sk, p=p, group_by=[cohort_col])
    a = est.select(
        F.col(cohort_col).alias("type_a"), F.col("approx_distinct").alias("_ea")
    )
    b = est.select(
        F.col(cohort_col).alias("type_b"), F.col("approx_distinct").alias("_eb")
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    ska = pairs.join(F.broadcast(sk), F.col(cohort_col) == F.col("type_a")).select(
        "type_a", "type_b", "register_id", "rho"
    )
    skb = pairs.join(F.broadcast(sk), F.col(cohort_col) == F.col("type_b")).select(
        "type_a", "type_b", "register_id", "rho"
    )
    union_sk = (
        ska.unionByName(skb)
        .groupBy("type_a", "type_b", "register_id")
        .agg(F.max("rho").alias("rho"))
    )
    est_u = hll_estimate(union_sk, p=p, group_by=["type_a", "type_b"]).withColumnRenamed(
        "approx_distinct", "_eu"
    )
    cand = (
        pairs.join(est_u, ["type_a", "type_b"])
        .withColumn("_overlap", F.col("_ea") + F.col("_eb") - F.col("_eu"))
        .withColumn(
            "_envelope",
            F.lit(hll_error_bound(p, sigmas=sigmas) / 3.0)
            * (F.col("_ea") + F.col("_eb") + F.col("_eu")),
        )
        .filter(F.col("_overlap") >= F.lit(float(min_common)) - F.col("_envelope"))
        .select("type_a", "type_b")
    )
    keep_cohorts = (
        cand.select(F.col("type_a").alias(cohort_col))
        .unionByName(cand.select(F.col("type_b").alias(cohort_col)))
        .distinct()
    )
    dp = (
        df.join(F.broadcast(keep_cohorts), cohort_col)
        .select(F.col(id_col).alias("_id"), F.col(cohort_col).alias("_c"))
        .distinct()
    )
    x, y = dp.alias("x"), dp.alias("y")
    exact = (
        x.join(y, (F.col("x._id") == F.col("y._id")) & (F.col("x._c") < F.col("y._c")))
        .select(F.col("x._c").alias("type_a"), F.col("y._c").alias("type_b"))
        .join(F.broadcast(cand), ["type_a", "type_b"])
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    return exact


def key_skew_histogram(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Join/shuffle-key skew diagnosis: the count-of-counts histogram
    of a key column set, log2-bucketed. Before shuffling 10^10 rows on
    a key, this answers "is there a whale?" — a key landing in bucket
    30 (2^30 rows) needs salting/AQE-skew handling, a flat histogram
    does not. Two aggregations, both map-side combined (per-key count,
    then per-bucket rollup); output is at most 64 rows regardless of
    input size, so the diagnosis costs one pass and shuffles ~distinct
    keys, never rows.

    Returns (log2_bucket, n_keys, n_rows, max_count) — bucket b holds
    keys with count in [2^b, 2^(b+1)); floor(log2) is computed exactly
    via binary-string length (no float log), so every engine agrees on
    bucket edges.
    """
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("c"))
    bucket = (F.length(F.bin(F.col("c"))) - 1).cast("int")
    return (
        counts.groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.max("c").alias("max_count"),
        )
        .orderBy("log2_bucket")
    )
