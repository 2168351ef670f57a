"""MERGE semantics, exactly-once replay, resume, dead-letter, evolution.

Mirrors the reference's test strategy (SURVEY §5): mock-based changeset
assertions (/root/reference/load/TestUpdateDBPFilesetTables.py),
replay-to-identical-state (/root/reference/load/TestCleanup.py:10-33),
and idempotent rerun => empty diff
(/root/reference/load/SQLBatchExec.py:171-173).
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbp_etl_spark.cdc import CDCRunner, generate_changes, merge_batch
from dbp_etl_spark.functions.extract import extract_text_py
from dbp_etl_spark.lake import LakeTable, TableSchema
from dbp_etl_spark.session import local_frame

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def mk_table(spark, tmp_path, name="pages", buckets=8):
    return LakeTable.create(
        spark, str(tmp_path / name), TableSchema.from_struct(PAGES), key="url", num_buckets=buckets
    )


def ev(spark, rows):
    """rows: (url, ts_sec, html_bytes|None, op)"""
    return local_frame(
        spark,
        rows, "url string, ts long, html binary, op string"
    ).select("url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "op")


def state(table):
    return {
        r["url"]: (r["text"], r["warc_ts"].timestamp())
        for r in table.read().collect()
    }


def test_insert_update_delete_counts(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    b1 = ev(
        spark,
        [
            ("u1", 100, b"<p>one</p>", "insert"),
            ("u2", 100, b"<p>two</p>", "insert"),
            ("u3", 100, b"<p>three</p>", "insert"),
        ],
    )
    r1 = merge_batch(t, b1, "b1")
    assert r1.counts.get("insert") == 3
    b2 = ev(
        spark,
        [
            ("u1", 200, b"<p>one-v2</p>", "update"),
            ("u2", 200, None, "delete"),
            ("u4", 200, b"<p>four</p>", "insert"),
        ],
    )
    r2 = merge_batch(t, b2, "b2")
    assert r2.counts.get("update") == 1
    assert r2.counts.get("delete") == 1
    assert r2.counts.get("insert") == 1
    s = state(t)
    assert set(s) == {"u1", "u3", "u4"}
    assert s["u1"][0] == "one-v2"
    assert s["u3"][0] == "three"


def test_extracted_text_byte_identical_to_oracle(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    html = "<html><body><h1>Tïtle</h1><p>café &amp; crème</p><script>x</script></body></html>".encode()
    merge_batch(t, ev(spark, [("u1", 100, html, "insert")]), "b1")
    got = t.read().filter(F.col("url") == "u1").collect()[0]["text"]
    assert got == extract_text_py(html)
    assert got.encode() == extract_text_py(html).encode()


def test_in_batch_dedup_latest_wins(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    b = ev(
        spark,
        [
            ("u1", 100, b"<p>old</p>", "insert"),
            ("u1", 300, b"<p>new</p>", "update"),
            ("u1", 200, b"<p>mid</p>", "update"),
        ],
    )
    r = merge_batch(t, b, "b1")
    assert r.counts.get("insert") == 1
    assert state(t)["u1"][0] == "new"


def test_late_event_ignored(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 500, b"<p>current</p>", "insert")]), "b1")
    r = merge_batch(t, ev(spark, [("u1", 100, b"<p>stale</p>", "update")]), "b2")
    assert r.counts.get("late") == 1
    assert not r.dirty_buckets  # nothing rewritten
    assert state(t)["u1"][0] == "current"
    # late delete also ignored
    merge_batch(t, ev(spark, [("u1", 99, None, "delete")]), "b3")
    assert "u1" in state(t)


def test_payload_unchanged_is_noop_no_rewrite(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>same</p>", "insert")]), "b1")
    files_before = sorted(f["path"] for f in t.manifest["files"])
    r = merge_batch(t, ev(spark, [("u1", 100, b"<p>same</p>", "update")]), "b2")
    assert r.counts.get("noop") == 1
    assert sorted(f["path"] for f in t.manifest["files"]) == files_before
    assert t.is_committed("b2")  # ledger still records the batch


def test_touch_update_reuses_extracted_text(spark, tmp_path):
    """Newer ts, identical payload: ts advances but text/lang are NOT
    recomputed (incremental compute). Probe transform would poison text
    if recomputation happened."""
    from dbp_etl_spark.cdc.merge import default_transform

    calls = []

    def probing_transform(df):
        out = default_transform(df)
        return out.withColumn(
            "text",
            F.when(F.col("_payload_changed"), F.concat(F.lit("RECOMPUTED:"), F.col("text"))).otherwise(
                F.col("text")
            ),
        )

    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>body</p>", "insert")]), "b1", transform=probing_transform)
    assert state(t)["u1"][0] == "RECOMPUTED:body"
    merge_batch(t, ev(spark, [("u1", 200, b"<p>body</p>", "update")]), "b2", transform=probing_transform)
    s = state(t)
    assert s["u1"][0] == "RECOMPUTED:body"  # reused, not double-recomputed
    assert s["u1"][1] == 200  # but event time advanced


def test_delete_then_reinsert_across_batches(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert")]), "b1")
    merge_batch(t, ev(spark, [("u1", 200, None, "delete")]), "b2")
    assert state(t) == {}
    merge_batch(t, ev(spark, [("u1", 300, b"<p>b</p>", "insert")]), "b3")
    assert state(t)["u1"][0] == "b"


def test_deadletter_routing_batch_still_commits(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    b = ev(
        spark,
        [
            ("u1", 100, b"<p>ok</p>", "insert"),
            (None, 100, b"<p>bad</p>", "insert"),
            ("u2", 100, b"<p>badop</p>", "upsert"),
            ("u3", 100, None, "insert"),
        ],
    )
    r = merge_batch(t, b, "b1")
    dead = {x["_dl_reason"] for x in r.deadletter.collect()}
    assert dead == {"null_url", "bad_op", "null_payload"}
    assert t.is_committed("b1")
    assert set(state(t)) == {"u1"}


def test_replay_full_log_identical_state(spark, tmp_path):
    events = generate_changes(spark, 3000, 150, n_batches=3, malformed_pct=2)
    t1 = mk_table(spark, tmp_path, "t1")
    rep1 = CDCRunner(t1).run(events)
    h1 = t1.state_hash()
    # replay same log on the SAME table: every batch skipped, state unchanged
    rep2 = CDCRunner(t1).run(events)
    assert rep2.n_skipped == rep2.n_batches == 3
    assert t1.state_hash() == h1
    # replay on a FRESH table: byte-identical final state
    t2 = mk_table(spark, tmp_path, "t2")
    CDCRunner(t2).run(events)
    assert t2.state_hash() == h1
    assert rep1.total_counts().get("insert", 0) > 0


def test_batch_split_invariance(spark, tmp_path):
    """Applying the same event log as 1 batch vs 5 batches yields the
    same final state (the reference's serial-per-key apply order made
    this trivially true; our guard conditions must preserve it)."""
    base = generate_changes(spark, 2000, 80, n_batches=5)
    one = base.withColumn("batch_id", F.lit(0))
    t1 = mk_table(spark, tmp_path, "one")
    t5 = mk_table(spark, tmp_path, "five")
    CDCRunner(t1).run(one)
    CDCRunner(t5).run(base)
    assert t1.state_hash() == t5.state_hash()


def test_resume_from_checkpoint(spark, tmp_path):
    events = generate_changes(spark, 2000, 100, n_batches=4)
    t = mk_table(spark, tmp_path, "resume")
    runner = CDCRunner(t)
    # simulate a crash after two batches
    runner.run(events.filter(F.col("batch_id") < 2))
    assert runner.last_committed_batch() == "1"
    # full rerun resumes: first two batches skipped
    rep = runner.run(events)
    assert rep.n_skipped == 2
    # state equals a clean single run
    t_clean = mk_table(spark, tmp_path, "clean")
    CDCRunner(t_clean).run(events)
    assert t.state_hash() == t_clean.state_hash()


def test_schema_evolution_mid_stream(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert")]), "b1")
    # batch 2 carries a new payload column -> table evolves, old rows read NULL
    b2 = ev(spark, [("u2", 200, b"<p>b</p>", "insert")]).withColumn("crawler", F.lit("cc-2026"))
    merge_batch(t, b2, "b2")
    df = t.read()
    assert "crawler" in df.columns
    got = {r["url"]: r["crawler"] for r in df.collect()}
    assert got == {"u1": None, "u2": "cc-2026"}
    # rename + widen keep MERGE working without rewrite
    t.rename_column("crawler", "crawler_id")
    merge_batch(t, ev(spark, [("u1", 300, b"<p>a2</p>", "update")]), "b3")
    got2 = {r["url"]: (r["text"], r["crawler_id"]) for r in t.read().collect()}
    assert got2["u1"] == ("a2", None)
    assert got2["u2"] == ("b", "cc-2026")


def test_widen_mid_stream(spark, tmp_path):
    """Widen an int payload column to long between batches: old files
    read as long, merge keeps working, large values fit."""
    t = mk_table(spark, tmp_path)
    b1 = ev(spark, [("u1", 100, b"<p>a</p>", "insert")]).withColumn(
        "views", F.lit(7).cast("int")
    )
    merge_batch(t, b1, "b1")
    t.widen_column("views", "long")
    big = 2**40
    b2 = ev(spark, [("u2", 200, b"<p>b</p>", "insert")]).withColumn(
        "views", F.lit(big).cast("long")
    )
    merge_batch(t, b2, "b2")
    got = {r["url"]: r["views"] for r in t.read().collect()}
    assert got == {"u1": 7, "u2": big}
    assert dict(t.read().dtypes)["views"] == "bigint"


def test_lineage_and_errors_side_outputs(spark, tmp_path):
    events = generate_changes(spark, 1000, 60, n_batches=2, malformed_pct=5)
    t = mk_table(spark, tmp_path)
    runner = CDCRunner(
        t,
        errors_path=str(tmp_path / "errors"),
        lineage_path=str(tmp_path / "lineage"),
    )
    rep = runner.run(events)
    errs = runner.errors()
    lin = runner.lineage()
    assert errs is not None and errs.count() > 0
    assert set(errs.columns) == {"batch_id", "url", "level", "message"}
    assert lin is not None
    per_action = {r["action"]: r["n"] for r in lin.groupBy("action").agg(F.sum("n").alias("n")).collect()}
    assert per_action.get("insert", 0) == rep.total_counts().get("insert", 0)
    # lineage is per-partition (bucket) grained
    assert lin.select("partition_id").distinct().count() > 1


# Spark jobs one merge_batch and one snapshot_batch run on the input of
# test_apply_tail_job_counts (local[4], 8 shuffle partitions), measured
# with the write's one bucket exchange after the transform
MERGE_JOBS = 10
SNAPSHOT_JOBS = 7


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    prev = {k: sc.getLocalProperty(k) for k in keys}
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_apply_tail_job_counts(spark, tmp_path):
    """merge_batch and snapshot_batch each run their Spark jobs under
    their own job group; neither runs more jobs than MERGE_JOBS and
    SNAPSHOT_JOBS."""
    from dbp_etl_spark.cdc import snapshot_batch

    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert")]), "b0")
    events = ev(
        spark,
        [
            ("u1", 200, b"<p>a2</p>", "update"),
            ("u2", 100, b"<p>b</p>", "insert"),
            ("u3", 100, None, "delete"),
        ],
    )
    merge_jobs = _jobs_in_group(
        spark, f"merge-{tmp_path.name}", lambda: merge_batch(t, events, "b1")
    )
    snap = ev(
        spark, [("u2", 100, b"<p>b</p>", "insert"), ("u4", 300, b"<p>d</p>", "insert")]
    ).drop("op")
    snapshot_jobs = _jobs_in_group(
        spark, f"snapshot-{tmp_path.name}", lambda: snapshot_batch(t, snap, "s1")
    )
    assert {r["url"] for r in t.read().collect()} == {"u2", "u4"}
    assert merge_jobs <= MERGE_JOBS
    assert snapshot_jobs <= SNAPSHOT_JOBS


@pytest.mark.parametrize("layout", ["cow_changelog", "mor"])
def test_merge_writes_one_file_per_dirty_bucket(spark, tmp_path, layout):
    """The merge clusters its new state by bucket in ONE exchange, the
    write's own, after the transform: each dirty bucket gains exactly
    one data file per commit. A separate exchange per branch (carried
    and tombstone rows, changed rows) writes one file per branch."""
    kw = {"changelog": True} if layout == "cow_changelog" else {"merge_on_read": True}
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TableSchema.from_struct(PAGES), num_buckets=8, **kw
    )
    merge_batch(
        t,
        ev(spark, [(f"u{i}", 100, f"<p>{i}</p>".encode(), "insert") for i in range(200)]),
        "b0",
    )
    before = {f["path"] for f in t.manifest["files"]}
    changes = [(f"u{i}", 200, f"<p>{i}b</p>".encode(), "update") for i in range(0, 200, 3)]
    changes += [(f"u{i}", 200, None, "delete") for i in range(1, 200, 3)]
    res = merge_batch(t, ev(spark, changes), "b1")
    new = [f["bucket"] for f in t.manifest["files"] if f["path"] not in before]
    assert res.dirty_buckets == list(range(8))
    assert sorted(new) == res.dirty_buckets


def test_hot_key_skew_correctness(spark, tmp_path):
    """80% of events on 2 urls: salted dedup + merge still correct."""
    events = generate_changes(
        spark, 4000, 100, n_batches=2, hot_fraction_pct=80, hot_urls=2
    )
    t = mk_table(spark, tmp_path)
    CDCRunner(t, salt_buckets=32).run(events)
    t2 = mk_table(spark, tmp_path, "nosalt")
    CDCRunner(t2, salt_buckets=0).run(events)
    assert t.state_hash() == t2.state_hash()
    # no duplicate keys in final state
    dup = t.read().groupBy("url").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_null_op_dead_lettered(spark, tmp_path):
    """A NULL op must be quarantined as bad_op (ADVICE r1): without the
    explicit null check it slipped past validation and either vanished
    silently or wrote an all-NULL row into state."""
    from dbp_etl_spark.cdc.merge import split_deadletter

    b = ev(spark, [("u1", 100, b"<p>x</p>", "insert"), ("u2", 100, b"<p>y</p>", None)])
    valid, dead = split_deadletter(b)
    assert valid.count() == 1
    d = dead.collect()
    assert len(d) == 1 and d[0]["_dl_reason"] == "bad_op" and d[0]["url"] == "u2"
    # end-to-end: the null-op row reaches neither state nor the void
    t = mk_table(spark, tmp_path)
    r = merge_batch(t, b, "b1")
    assert set(state(t)) == {"u1"}
    assert r.deadletter.count() == 1


def test_merge_cycle_on_uri_root(spark, tmp_path):
    """Full MERGE cycle against a non-POSIX table root (file: URI →
    HadoopFS metadata path): insert, update, delete, replay."""
    root = "file:" + str(tmp_path / "pages_uri")
    t = LakeTable.create(
        spark, root, TableSchema.from_struct(PAGES), key="url", num_buckets=4
    )
    merge_batch(
        t,
        ev(spark, [("u1", 100, b"<p>a</p>", "insert"), ("u2", 100, b"<p>b</p>", "insert")]),
        "b1",
    )
    merge_batch(
        t,
        ev(spark, [("u1", 200, b"<p>a2</p>", "update"), ("u2", 200, None, "delete")]),
        "b2",
    )
    merge_batch(  # replay of b2 must no-op via the ledger
        t,
        ev(spark, [("u1", 200, b"<p>a2</p>", "update"), ("u2", 200, None, "delete")]),
        "b2",
    )
    s = state(t)
    assert set(s) == {"u1"} and s["u1"][0] == "a2"


def test_staged_log_partition_prunes_per_batch(spark, tmp_path):
    """After stage_by_batch, a per-batch filter reads ONLY that batch's
    files (Catalyst partition pruning on the hive partition column) —
    and the runner's final state matches the unstaged run."""
    from dbp_etl_spark.cdc import CDCRunner, generate_changes

    events = generate_changes(spark, 2000, 100, n_batches=4, seed=33)
    staged = CDCRunner.stage_by_batch(events, str(tmp_path / "log"))
    files = (
        staged.filter(F.col("batch_id") == 2)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    assert files, "batch 2 slice is empty"
    assert all("batch_id=2" in r["f"] for r in files), "read touched other batches' files"
    # physical plan carries the partition filter (no full-log scan)
    plan = staged.filter(F.col("batch_id") == 2)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(batch_id" in plan

    t_staged = mk_table(spark, tmp_path, "staged")
    CDCRunner(t_staged).run(staged)
    t_plain = mk_table(spark, tmp_path, "plain")
    CDCRunner(t_plain).run(events)
    assert t_staged.state_hash() == t_plain.state_hash()


def test_fused_apply_matches_per_batch(spark, tmp_path):
    """fuse=N group commit: identical final state to per-batch apply
    (batch-split invariance), every member id in the ledger, replay
    no-ops, and mixed per-batch/fused resume converges."""
    from dbp_etl_spark.cdc import CDCRunner, generate_changes

    events = generate_changes(spark, 4000, 150, n_batches=4, seed=13)
    t1 = mk_table(spark, tmp_path, "fuse1")
    CDCRunner(t1).run(events)
    t2 = mk_table(spark, tmp_path, "fuse4")
    rep = CDCRunner(t2).run(events, fuse=4)
    assert t1.state_hash() == t2.state_hash()
    assert all(t2.is_committed(b) for b in range(4))
    assert len([r for r in rep.results if not r.skipped]) == 1  # one merge
    snap = t2.snapshot_id
    CDCRunner(t2).run(events, fuse=4)  # full replay: no-op
    assert t2.snapshot_id == snap
    # partial resume: batch 0 applied per-batch, rest fused
    t3 = mk_table(spark, tmp_path, "fuse_resume")
    CDCRunner(t3).run(events.filter(F.col("batch_id") == 0))
    CDCRunner(t3).run(events, fuse=3)
    assert t3.state_hash() == t1.state_hash()


def test_fused_equal_ts_extra_column_tie_matches_per_batch(spark, tmp_path):
    """Events tying on (url, ts, op, html) but differing in an EXTRA
    payload column across batches: per-batch apply keeps the earliest
    batch's row (later equal event no-ops); fused dedup must pick the
    same winner via the batch-id tiebreak in cdc_order."""
    rows = [
        ("u1", 100, b"<p>same</p>", "insert", "author_a", 0),
        ("u1", 100, b"<p>same</p>", "insert", "author_b", 1),
        ("u2", 100, b"<p>x</p>", "insert", "author_c", 0),
    ]
    ev2 = local_frame(
        spark,
        rows, "url string, ts long, html binary, op string, author string, batch_id long"
    ).select("url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "op", "author", "batch_id")

    from dbp_etl_spark.cdc import CDCRunner

    t_seq = mk_table(spark, tmp_path, "seq")
    CDCRunner(t_seq).run(ev2)
    t_fused = mk_table(spark, tmp_path, "fusedtie")
    CDCRunner(t_fused).run(ev2, fuse=2)
    assert t_seq.state_hash() == t_fused.state_hash()
    a = {r["url"]: r["author"] for r in t_fused.read().collect()}
    assert a["u1"] == "author_a"  # earliest batch won the full tie


def test_fused_lineage_reconciles_with_ledger(spark, tmp_path):
    """state_checks' ledger reconciliation must hold for fused runs:
    group counts keyed by the joined batch label."""
    from dbp_etl_spark.cdc import CDCRunner, generate_changes
    from dbp_etl_spark.lake.integrity import state_checks

    events = generate_changes(spark, 1200, 60, n_batches=3, seed=8)
    t = mk_table(spark, tmp_path, "fusedlin")
    runner = CDCRunner(t, lineage_path=str(tmp_path / "flin"))
    runner.run(events, fuse=3)
    rep = {r["check"]: r["n_violations"] for r in state_checks(t, runner.lineage()).collect()}
    assert rep["lineage_ledger_mismatch"] == 0
    assert rep["dup_visible_key"] == 0


def test_payload_only_table_merges_without_text_lang(spark, tmp_path):
    """A table carrying html but no text/lang columns (payload-only
    shape) must merge with the default transform degrading to identity
    instead of referencing derivation context the schema lacks."""
    from datetime import datetime, timezone

    slim = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "slim"), TableSchema.from_struct(slim), key="url", num_buckets=4
    )
    df = local_frame(
        spark,
        [
            ("u1", datetime.fromtimestamp(100, tz=timezone.utc), b"<p>x</p>", "update", 0),
            ("u1", datetime.fromtimestamp(200, tz=timezone.utc), b"<p>y</p>", "update", 1),
        ],
        "url string, warc_ts timestamp, html binary, op string, batch_id long",
    )
    CDCRunner(t).run(df)
    rows = t.read().collect()
    assert len(rows) == 1 and bytes(rows[0]["html"]) == b"<p>y</p>"
    assert "text" not in t.read().columns
