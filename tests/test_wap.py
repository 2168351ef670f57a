"""Write-audit-publish branches.

The Iceberg WAP pattern as a first-class lake primitive: a branch
handle stages commits invisibly to main readers, audit queries run
against the branch, and publish lands the branch atomically — fast-
forward when main is unmoved, bucket-disjoint rebase when it moved.
Staged branches pin their data files against GC; abandoning a branch
releases them to orphan collection.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbp_etl_spark.cdc import merge_batch
from dbp_etl_spark.lake import LakeTable, TableSchema
from dbp_etl_spark.lake.table import CommitConflict
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


def mk(spark, tmp_path, name, **kw):
    return LakeTable.create(
        spark,
        str(tmp_path / name),
        TableSchema.from_struct(PAGES),
        key="url",
        num_buckets=8,
        **kw,
    )


def ev(spark, rows):
    return local_frame(
        spark,
        rows, "url string, ts long, html binary, op string"
    ).select("url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "op")


B0 = [
    ("u1", 100, b"<p>one</p>", "insert"),
    ("u2", 100, b"<p>two</p>", "insert"),
    ("u3", 100, b"<p>three</p>", "insert"),
]
B1 = [
    ("u1", 200, b"<p>one-v2</p>", "update"),
    ("u4", 200, b"<p>four</p>", "insert"),
]


def seeded(spark, tmp_path, name, **kw):
    t = mk(spark, tmp_path, name, **kw)
    merge_batch(t, ev(spark, B0), "b0")
    return t.refresh()


def test_stage_audit_publish_fast_forward(spark, tmp_path):
    t = seeded(spark, tmp_path, "t")
    main_before = t.state_hash()
    br = t.wap_branch("audit-1")
    merge_batch(br, ev(spark, B1), "b1")
    br = br.refresh()
    # audit view sees the staged state; main readers do not
    assert {r["url"] for r in br.read().collect()} == {"u1", "u2", "u3", "u4"}
    t = t.refresh()
    assert t.state_hash() == main_before
    assert t.wap_ids() == ["audit-1"]
    t = t.publish_wap("audit-1")
    assert t.wap_ids() == []
    assert t.manifest["summary"]["wap_publish"]["mode"] == "fast_forward"
    # published state == a direct apply of the same batches
    ctl = seeded(spark, tmp_path, "ctl")
    merge_batch(ctl, ev(spark, B1), "b1")
    assert t.state_hash() == ctl.refresh().state_hash()
    # the branch's batch id merged into main's ledger: replay no-ops
    assert t.is_committed("b1")
    before = t.snapshot_id
    merge_batch(t, ev(spark, B1), "b1")
    assert t.refresh().snapshot_id == before


def test_publish_replay_is_idempotent(spark, tmp_path):
    t = seeded(spark, tmp_path, "t")
    br = t.wap_branch("a")
    merge_batch(br, ev(spark, B1), "b1")
    t = t.refresh().publish_wap("a")
    snap = t.snapshot_id
    t2 = t.refresh().publish_wap("a")  # crash-after-commit replay path
    assert t2.snapshot_id == snap


def test_abandon_releases_files_to_orphan_gc(spark, tmp_path):
    t = seeded(spark, tmp_path, "t")
    br = t.wap_branch("bad")
    merge_batch(br, ev(spark, B1), "b1")
    t = t.refresh()
    import json, os

    staged = json.loads(
        open(str(tmp_path / "t" / "_meta" / "wap" / "bad.json")).read()
    )
    branch_paths = [
        os.path.join(str(tmp_path / "t"), f["path"]) for f in staged["files"]
    ]
    # staged branch pins its DATA files even at zero grace (stray write
    # markers may still be swept — they are not referenced content)
    t.remove_orphan_files(grace_sec=0.0)
    assert all(os.path.exists(p) for p in branch_paths)
    br = t.wap_branch("bad")
    assert {r["url"] for r in br.read().collect()} == {"u1", "u2", "u3", "u4"}
    t.abandon_wap("bad")
    assert t.wap_ids() == []
    t.remove_orphan_files(grace_sec=0.0)
    # the branch-only files are reclaimed; fork-shared files survive
    main_live = {os.path.join(str(tmp_path / "t"), f["path"]) for f in t.manifest["files"]}
    assert all(not os.path.exists(p) for p in set(branch_paths) - main_live)
    assert all(os.path.exists(p) for p in main_live)
    # main is untouched and fully readable
    assert {r["url"] for r in t.read().collect()} == {"u1", "u2", "u3"}


def _bucket_of(t, url):
    from pyspark.sql import functions as F

    [r] = (
        t.spark.range(1)
        .select(F.lit(url).alias("url"))
        .select(t.bucket_expr("url").alias("b"))
        .collect()
    )
    return r["b"]


def _urls_in_distinct_buckets(t, n=2):
    """Find n urls hashing to pairwise-distinct buckets."""
    out, seen = [], set()
    i = 0
    while len(out) < n:
        u = f"ux{i}"
        b = _bucket_of(t, u)
        if b not in seen:
            seen.add(b)
            out.append(u)
        i += 1
    return out


def test_publish_rebases_over_disjoint_main_commits(spark, tmp_path):
    t = mk(spark, tmp_path, "t")
    ua, ub = _urls_in_distinct_buckets(t, 2)
    br = t.wap_branch("a")
    merge_batch(br, ev(spark, [(ua, 100, b"<p>a</p>", "insert")]), "b-branch")
    # main moves AFTER the fork, in a different bucket
    t = t.refresh()
    merge_batch(t, ev(spark, [(ub, 100, b"<p>b</p>", "insert")]), "b-main")
    t = t.refresh()
    t = t.publish_wap("a")
    assert t.manifest["summary"]["wap_publish"]["mode"] == "rebase"
    assert {r["url"] for r in t.read().collect()} == {ua, ub}
    assert t.is_committed("b-branch") and t.is_committed("b-main")


def test_publish_conflicts_on_overlapping_bucket(spark, tmp_path):
    t = mk(spark, tmp_path, "t")
    ua, _ = _urls_in_distinct_buckets(t, 2)
    br = t.wap_branch("a")
    merge_batch(br, ev(spark, [(ua, 100, b"<p>a</p>", "insert")]), "b-branch")
    t = t.refresh()
    merge_batch(t, ev(spark, [(ua, 100, b"<p>other</p>", "insert")]), "b-main")
    t = t.refresh()
    with pytest.raises(CommitConflict, match="both modified buckets"):
        t.publish_wap("a")
    # conflict resolution: abandon and re-stage from fresh state
    t.abandon_wap("a")


def test_multi_commit_branch_squashes_to_one_snapshot(spark, tmp_path):
    t = seeded(spark, tmp_path, "t")
    head = t.snapshot_id
    br = t.wap_branch("a")
    merge_batch(br, ev(spark, B1), "b1")
    br = br.refresh()
    merge_batch(br, ev(spark, [("u9", 300, b"<p>nine</p>", "insert")]), "b2")
    br = br.refresh()
    br = br.add_column("rank", "double")  # schema evolution on the branch
    t = t.refresh().publish_wap("a")
    assert t.snapshot_id == head + 1  # squashed
    assert "rank" in t.schema.names()
    assert {r["url"] for r in t.read().collect()} == {"u1", "u2", "u3", "u4", "u9"}
    assert t.is_committed("b1") and t.is_committed("b2")


def test_branch_only_schema_change_rebases(spark, tmp_path):
    """One-sided evolution (branch side) publishes over moved main:
    the branch's schema chain is adopted and main's since-fork files —
    written under the base version — project forward by column id."""
    t = mk(spark, tmp_path, "t")
    ua, ub = _urls_in_distinct_buckets(t, 2)
    br = t.wap_branch("a")
    br = br.add_column("rank", "double")
    merge_batch(br, ev(spark, [(ua, 100, b"<p>a</p>", "insert")]), "b-branch")
    merge_batch(t.refresh(), ev(spark, [(ub, 100, b"<p>b</p>", "insert")]), "b-main")
    t = t.refresh().publish_wap("a")
    assert t.manifest["summary"]["wap_publish"]["mode"] == "rebase"
    assert "rank" in t.schema.names()
    rows = {r["url"]: r["rank"] for r in t.read().collect()}
    assert set(rows) == {ua, ub}
    assert rows[ua] is None and rows[ub] is None  # new col backfills null
    # the adopted chain keeps evolving without id collisions
    t = t.add_column("grade", "string")
    assert "grade" in t.schema.names()


def test_main_only_schema_change_rebases(spark, tmp_path):
    """One-sided evolution (main side): the branch's since-fork files
    project into main's evolved schema on publish."""
    t = mk(spark, tmp_path, "t")
    ua, ub = _urls_in_distinct_buckets(t, 2)
    br = t.wap_branch("a")
    merge_batch(br, ev(spark, [(ua, 100, b"<p>a</p>", "insert")]), "b-branch")
    t = t.refresh().add_column("rank", "double")
    merge_batch(t, ev(spark, [(ub, 100, b"<p>b</p>", "insert")]), "b-main")
    t = t.refresh().publish_wap("a")
    assert t.manifest["summary"]["wap_publish"]["mode"] == "rebase"
    assert "rank" in t.schema.names()
    assert {r["url"] for r in t.read().collect()} == {ua, ub}


def test_both_sides_schema_change_blocks_rebase(spark, tmp_path):
    t = mk(spark, tmp_path, "t")
    _, ub = _urls_in_distinct_buckets(t, 2)
    br = t.wap_branch("a")
    br = br.add_column("rank", "double")
    t = t.refresh().add_column("grade", "string")
    merge_batch(t, ev(spark, [(ub, 100, b"<p>b</p>", "insert")]), "b-main")
    t = t.refresh()
    with pytest.raises(CommitConflict, match="both main and the WAP branch"):
        t.publish_wap("a")


def test_expire_pins_staged_branch_files(spark, tmp_path):
    t = seeded(spark, tmp_path, "t")
    br = t.wap_branch("a")
    merge_batch(br, ev(spark, B1), "b1")
    br = br.refresh()
    expect = {r["url"] for r in br.read().collect()}
    # churn main far past the fork, then expire aggressively
    t = t.refresh()
    for i in range(4):
        merge_batch(
            t, ev(spark, [(f"m{i}", 100 + i, b"<p>m</p>", "insert")]), f"bm{i}"
        )
        t = t.refresh()
    t.expire_snapshots(keep_last=1)
    # the staged branch still reads fully — its files were pinned
    br = t.refresh().wap_branch("a")
    assert {r["url"] for r in br.read().collect()} == expect


def test_runner_audited_ingest_publishes_on_pass(spark, tmp_path):
    """audit=callable: every group stages to a WAP branch, the audit
    sees the staged state, and publish lands it — final state and
    ledger identical to the direct (unaudited) run."""
    from dbp_etl_spark.cdc import CDCRunner, generate_changes

    events = generate_changes(spark, 2000, 80, n_batches=3, seed=7)
    audited_tables = []

    def audit(br):
        audited_tables.append(br.snapshot_id)
        # a real audit: no live row may have null extracted text
        return br.read().filter(F.col("text").isNull()).count() == 0

    ta = mk(spark, tmp_path, "audited")
    ra = CDCRunner(ta, audit=audit)
    ra.run(events)
    tc = mk(spark, tmp_path, "ctl")
    CDCRunner(tc).run(events)
    ta = ra.table.refresh()
    assert ta.state_hash() == tc.refresh().state_hash()
    assert len(audited_tables) == 3
    assert ta.wap_ids() == []  # nothing left staged
    # replay: everything committed, nothing re-staged
    r2 = CDCRunner(ta, audit=lambda br: (_ for _ in ()).throw(AssertionError))
    rep = r2.run(events)
    assert rep.n_skipped == 3


def test_runner_audit_rejection_halts_with_main_untouched(spark, tmp_path):
    from dbp_etl_spark.cdc import AuditFailed, CDCRunner, generate_changes

    events = generate_changes(spark, 1500, 60, n_batches=3, seed=11)
    t = mk(spark, tmp_path, "t")
    calls = []

    def audit(br):
        calls.append(1)
        return len(calls) < 2  # pass group 1, reject group 2

    r = CDCRunner(t, audit=audit)
    with pytest.raises(AuditFailed, match="audit rejected"):
        r.run(events)
    t = r.table.refresh()
    assert t.wap_ids() == []  # rejected branch abandoned
    ids = sorted(events.select("batch_id").distinct().toPandas()["batch_id"])
    assert t.is_committed(ids[0])
    assert not t.is_committed(ids[1]) and not t.is_committed(ids[2])
    # resume with the issue "fixed": applies exactly the remaining two
    rep = CDCRunner(t, audit=lambda br: True).run(events)
    assert rep.n_skipped == 1
    ctl = mk(spark, tmp_path, "ctl")
    CDCRunner(ctl).run(events)
    assert t.refresh().state_hash() == ctl.refresh().state_hash()


def test_chain_ops_rejected_on_branch_handles(spark, tmp_path):
    t = seeded(spark, tmp_path, "t")
    br = t.wap_branch("a")
    with pytest.raises(RuntimeError, match="main chain"):
        br.expire_snapshots(keep_last=1)
    with pytest.raises(RuntimeError, match="main chain"):
        br.remove_orphan_files(grace_sec=0.0)
    with pytest.raises(RuntimeError, match="main chain"):
        br.rollback_to(0)
    with pytest.raises(RuntimeError, match="main chain"):
        br.rebucket(16, "rb")
    with pytest.raises(RuntimeError, match="not a branch"):
        br.publish_wap("a")
