"""Plan-shape regression tests: pushdown, pruning, broadcast and
exchange counts."""

from pyspark.sql import functions as F

from dbp_etl_spark.plans import (
    assert_broadcast_join,
    assert_pushed_filter,
    count_exchanges,
)
from dbp_etl_spark.plans.checks import assert_read_schema_pruned

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_orderkey", "l_quantity")
    assert_pushed_filter(q, "l_shipdate")
    assert_read_schema_pruned(q, 3)  # orderkey, quantity, shipdate only


def test_broadcast_dim_chain(spark):
    from dbp_etl_spark.queries import QUERIES

    df = QUERIES["revenue_by_region"](spark, SF)
    assert_broadcast_join(df, at_least=2)  # nation and region broadcast


def test_exchange_count_single_shuffle_agg(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    agg = ev.groupBy("event_type").agg(F.sum("value"))
    # partial aggregation => exactly one exchange
    assert count_exchanges(agg) == 1


def test_pricing_summary_plan_shape(spark):
    """TPC-H Q1 shape: one exchange (map-side partials), filter pushed
    to the scan, scan reads only the referenced columns."""
    from dbp_etl_spark.queries import QUERIES

    df = QUERIES["pricing_summary"](spark, SF)
    assert count_exchanges(df) == 1
    assert_pushed_filter(df, "l_shipdate")
    assert_read_schema_pruned(df, 6)  # flag,status,qty,price,discount,shipdate


def test_dedup_exchange_budget(spark):
    """Salted two-phase dedup costs exactly two exchanges (one per
    window pass); unsalted costs one."""
    from dbp_etl_spark.cdc import generate_changes
    from dbp_etl_spark.cdc.dedup import cdc_order, dedup_latest

    ev = generate_changes(spark, 1000, 100, n_batches=1)
    assert count_exchanges(dedup_latest(ev, "url", cdc_order(), salt_buckets=0)) == 1
    assert count_exchanges(dedup_latest(ev, "url", cdc_order(), salt_buckets=8)) == 2


def test_agg_dedup_one_exchange_with_partial_agg(spark):
    """The merge hot path's dedup (dedup_latest_cdc) must plan as ONE
    exchange with map-side partial aggregation below it — the shape
    that collapses hot keys per mapper and shuffles ~distinct keys
    instead of every event. A window-based plan (exchange directly over
    the scan, no partial agg) would shuffle the full event volume."""
    from dbp_etl_spark.cdc import generate_changes
    from dbp_etl_spark.cdc.dedup import dedup_latest_cdc

    ev = generate_changes(spark, 1000, 100, n_batches=1).drop("batch_id")
    df = dedup_latest_cdc(ev, "url")
    assert count_exchanges(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    # partial + final aggregate = two agg operators around the exchange
    n_aggs = sum(plan.count(k) for k in ("SortAggregate", "HashAggregate", "ObjectHashAggregate"))
    assert n_aggs >= 2, plan
    assert "max_by" in plan or "maxby" in plan.lower(), plan


def test_semi_anti_join_no_extra_exchange(spark):
    """Left-semi/anti keep the two-input single-shuffle shape."""
    from dbp_etl_spark.queries import QUERIES

    semi = QUERIES["customers_with_bigticket"](spark, SF)
    anti = QUERIES["customers_without_orders"](spark, SF)
    # small inputs broadcast => zero exchanges, or sort-merge => <=2
    assert count_exchanges(semi) <= 2
    assert count_exchanges(anti) <= 2


def test_global_sequence_scalable_avoids_single_partition_sort(spark):
    """assign_global_sequence's window sorts per coarse bucket: the plan
    must carry a hash exchange on the bucket key, NOT SinglePartition."""
    from dbp_etl_spark.operators.windows import assign_global_sequence

    # coarse key must be ORDER-ALIGNED (bucket k's rows all sort before
    # bucket k+1's): id DIV 100 is; id % 12 would interleave
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") / 100).cast("int").alias("m")
    )
    out = assign_global_sequence(df, ["k"], coarse_key=F.col("m"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "hashpartitioning(_ck" in plan
    # and the values still equal the naive global window
    from pyspark.sql import Window

    naive = df.select("k", F.row_number().over(Window.orderBy("k")).cast("long").alias("seq"))
    assert sorted(map(tuple, out.select("k", "seq").collect())) == sorted(
        map(tuple, naive.collect())
    )


def test_ivf_assignment_is_map_only(spark):
    """IVF cell assignment must not shuffle the corpus: centroids are
    inlined as literals, so the plan has ZERO exchanges."""
    from dbp_etl_spark.operators.similarity import _assign_nearest, kmeans_centroids

    corpus = spark.range(100).selectExpr(
        "id as vec_id",
        "transform(sequence(1, 8), i -> cast(pmod(id * i, 7) as float)) as embedding",
    )
    cents = kmeans_centroids(corpus, 8, k=4, iterations=0)
    assigned = _assign_nearest(corpus, cents, "embedding")
    assert count_exchanges(assigned) == 0
    assert assigned.count() == 100


def test_mor_read_plan_no_base_shuffle(spark, tmp_path):
    """Merge-on-read resolution physical shape: the table-sized base
    side must NOT shuffle — delta keys broadcast into a hash anti-join;
    the only exchanges are the churn-sized delta window's. The
    read-optimized view must be a plain scan (no window, no join)."""
    from pyspark.sql import types as T

    from dbp_etl_spark.cdc import merge_batch
    from dbp_etl_spark.lake import LakeTable, TableSchema

    pages = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        TableSchema.from_struct(pages),
        key="url",
        num_buckets=4,
        merge_on_read=True,
    )
    rows = [(f"u{i}", 100, f"<p>{i}</p>".encode(), "insert") for i in range(500)]
    df = spark.createDataFrame(
        rows, "url string, ts long, html binary, op string"
    ).select("url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "op")
    merge_batch(t, df, "seed")
    t = t.refresh()
    t.compact("fold")
    churn = spark.createDataFrame(
        [("u1", 200, b"<p>v2</p>", "update")], "url string, ts long, html binary, op string"
    ).select("url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "op")
    merge_batch(t, churn, "churn")
    t = t.refresh()

    resolved = t.read()
    plan = resolved._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan  # base never shuffles into a join
    # shuffle exchanges belong to the delta window only (tiny side, one
    # per consuming branch); the base feeds the anti-join directly via
    # a single BroadcastExchange of the resolved delta keys
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles <= 2
    assert plan.count("BroadcastExchange") == 1

    ro = t.read(read_optimized=True)
    ro_plan = ro._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in ro_plan and "Join" not in ro_plan
    assert count_exchanges(ro) == 0


def test_bigram_lm_plan_is_pure_jvm(spark):
    """LM scoring must stay inside whole-stage codegen: no Python
    evaluation nodes anywhere (the model and the scoring are plain
    aggregates + equi-joins)."""
    from dbp_etl_spark.functions.quality import bigram_lm_nll
    from dbp_etl_spark.plans.checks import plan_str

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_str(bigram_lm_nll(docs))
    assert "Python" not in p and "BatchEval" not in p


def test_lsh_probe_join_is_equi_not_cartesian(spark):
    """The band-key candidate join (batch LSH and the index probe both
    compile to it) must be an equi-join — a cartesian/BNL plan here
    would be the O(n^2) near-dup anti-pattern."""
    from dbp_etl_spark.operators.dedup_ops import minhash_lsh_candidates
    from dbp_etl_spark.plans.checks import plan_str

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_str(minhash_lsh_candidates(docs))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "Python" not in p


def test_pagerank_dangling_mass_broadcasts(spark):
    """Each iteration folds the 1-row dangling aggregate in via a
    broadcast nested-loop over a SINGLE row (never a shuffled join),
    and the loop contains no Python nodes."""
    from dbp_etl_spark.operators.graph import pagerank
    from dbp_etl_spark.plans.checks import plan_str

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], ["src", "dst"]
    )
    pr = pagerank(edges, iters=1, checkpoint=False)
    p = plan_str(pr)
    assert "BroadcastNestedLoopJoin" in p and "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    for node in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert node not in p


def test_segment_and_span_dedup_plans_are_agg_join_shaped(spark):
    """The keep-first election must be a partial-aggregated groupBy +
    equi-join — never a pairing join: no cartesian/nested-loop, and
    the min-struct agg carries map-side partials."""
    from dbp_etl_spark.operators.dedup_ops import (
        dup_span_mask,
        segment_dedup,
        segment_windows,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    segs = docs.select("doc_id", segment_windows(F.col("text"), 8).alias("segments"))
    for out in (segment_dedup(segs), dup_span_mask(docs, k=8)):
        p = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
        assert "partial_min" in p or "partial" in p.lower()


def test_semdedup_pairs_join_is_equi_on_cell(spark):
    """SemDeDup's in-cell pairwise check must join by cell id (hash
    exchange), not cross the corpus."""
    from dbp_etl_spark.operators.similarity import semdedup_prune

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = semdedup_prune(emb, dim=64, n_cells=4, eps=0.4)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_pack_sequences_avoids_single_partition_window(spark):
    """The packing prefix sum must window per coarse bucket (hash
    exchange on _ck), never SinglePartition."""
    from dbp_etl_spark.operators.windows import pack_sequences

    d = spark.range(2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 90 + 1).alias("n_tok")
    )
    out = pack_sequences(
        d,
        seq_len=128,
        tokens_col="n_tok",
        order_by=["doc_id"],
        coarse_key=(F.col("doc_id") / 200).cast("long"),
    )
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in p
    assert "hashpartitioning(_ck" in p


def test_dsir_scoring_pass_is_shuffle_free(spark):
    """After the bounded table build, DSIR scoring must be a map-only
    projection over the scan: zero exchanges, zero Python."""
    from dbp_etl_spark.functions.quality import dsir_log_ratio_table, dsir_score_expr
    from dbp_etl_spark.plans import count_exchanges

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lr = dsir_log_ratio_table(docs, F.col("source") == "src0", n_buckets=16, seed=7)
    scored = docs.select("doc_id", dsir_score_expr(lr, seed=7).alias("s"))
    assert count_exchanges(scored) == 0
    p = scored._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_url_queries_plan_shapes(spark):
    """New URL/tokenizer ops stay JVM-only and shuffle-minimal:
    canonicalization/SURT/outlink extraction are map-side expression
    trees (their only exchange is the final count shuffle); BPE pair
    counting pays exactly its two aggregations (word freq, pair sum)."""
    from dbp_etl_spark.plans.checks import plan_str

    from dbp_etl_spark.queries import QUERIES

    for name, n_exchanges in (
        ("url_canonical_dedup", 1),
        ("surt_host_keys", 1),
        ("html_outlink_graph", 1),
    ):
        df = QUERIES[name](spark, SF)
        p = plan_str(df)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name
        # one partial+final agg pair = one shuffle
        assert count_exchanges(df) == n_exchanges, name

    bpe = QUERIES["bpe_pair_counts"](spark, SF)
    p = plan_str(bpe)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # word-freq shuffle + pair-count shuffle + top-k single partition
    assert count_exchanges(bpe) <= 3
