"""Write-time changelog (Delta CDF _change_data analog).

``create(changelog=True)`` makes every MERGE commit materialize its
row-level changes as parquet files recorded in the commit summary;
``read_changes`` then serves covered windows from those O(churn) files
instead of full-outer-joining two snapshots. Every test here pins the
fast path BYTE-EQUAL to the join path (``use_changelog=True`` vs
``False``) — the join path is the semantics oracle.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbp_etl_spark.cdc import merge_batch, snapshot_batch
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


def mk_table(spark, tmp_path, name="pages", **kw):
    kw.setdefault("num_buckets", 8)
    return LakeTable.create(
        spark, str(tmp_path / name), TableSchema.from_struct(PAGES), key="url",
        changelog=True, **kw,
    )


def ev(spark, rows, extra_schema=""):
    """rows: (url, ts_sec, html_bytes|None, op[, extras...])"""
    schema = "url string, ts long, html binary, op string" + extra_schema
    extras = [c.strip().split(" ")[0] for c in extra_schema.split(",") if c.strip()]
    return local_frame(spark, rows, schema).select(
        "url",
        F.timestamp_seconds("ts").alias("warc_ts"),
        "html",
        "op",
        *extras,
    )


def norm(df):
    """Collected rows as a sorted, hashable list (bytes-normalized)."""
    out = []
    for r in df.collect():
        d = r.asDict(recursive=True)
        out.append(
            tuple(
                (k, bytes(v) if isinstance(v, (bytearray, bytes)) else v)
                for k, v in sorted(d.items())
            )
        )
    return sorted(out)


def assert_parity(t, s0, s1=None, include_pre=False):
    fast = t.read_changes(s0, s1, include_pre=include_pre, use_changelog=True)
    join = t.read_changes(s0, s1, include_pre=include_pre, use_changelog=False)
    assert fast.columns == join.columns
    assert norm(fast) == norm(join)
    return fast


def test_single_commit_window_parity(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    merge_batch(
        t,
        ev(spark, [("u1", 100, b"<p>one</p>", "insert"), ("u2", 100, b"<p>two</p>", "insert")]),
        "b1",
    )
    t = t.refresh()
    s1 = t.snapshot_id
    merge_batch(
        t,
        ev(
            spark,
            [
                ("u1", 200, b"<p>one-v2</p>", "update"),
                ("u2", 200, None, "delete"),
                ("u3", 200, b"<p>three</p>", "insert"),
                ("u9", 200, None, "delete"),  # absent key: no visible change
            ],
        ),
        "b2",
    )
    t = t.refresh()
    feed = assert_parity(t, s1)
    # sanity on the semantics themselves
    got = {r["url"]: r["_change_type"] for r in feed.collect()}
    assert got == {"u1": "update_post", "u2": "delete", "u3": "insert"}
    assert_parity(t, s1, include_pre=True)
    # summary carries the changelog artifacts
    assert t.manifest["summary"]["row_change"] == "log"
    assert t.manifest["summary"]["changelog_files"]


def test_one_commit_changelog_window_has_no_exchange(spark, tmp_path):
    """A one-commit window (what a trickle replica sync reads) is the
    commit's changelog scan as-is: no groupBy, so no shuffle."""
    t = mk_table(spark, tmp_path)
    s0 = t.snapshot_id
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert")]), "b1")
    t = t.refresh()
    for include_pre in (False, True):
        feed = t.read_changes(s0, include_pre=include_pre, use_changelog=True)
        plan = feed._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


def test_multi_commit_net_merge_parity(spark, tmp_path):
    """Windows spanning several commits NET-merge per key: chains
    cancel (insert→delete), collapse (insert→update ⇒ insert with final
    values), and update-back-to-same-value emits nothing."""
    t = mk_table(spark, tmp_path)
    merge_batch(
        t,
        ev(
            spark,
            [
                ("stay", 100, b"<p>s</p>", "insert"),
                ("upd", 100, b"<p>a</p>", "insert"),
                ("gone", 100, b"<p>g</p>", "insert"),
                ("boomerang", 100, b"<p>x</p>", "insert"),
            ],
        ),
        "b1",
    )
    t = t.refresh()
    s1 = t.snapshot_id
    merge_batch(
        t,
        ev(
            spark,
            [
                ("upd", 200, b"<p>b</p>", "update"),
                ("gone", 200, None, "delete"),
                ("fresh", 200, b"<p>f</p>", "insert"),
                ("flash", 200, b"<p>fl</p>", "insert"),
                ("boomerang", 200, b"<p>y</p>", "update"),
            ],
        ),
        "b2",
    )
    t = t.refresh()
    merge_batch(
        t,
        ev(
            spark,
            [
                ("upd", 300, b"<p>c</p>", "update"),
                ("flash", 300, None, "delete"),  # insert→delete: cancels
                ("fresh", 300, b"<p>f2</p>", "update"),  # insert→update: insert
                ("boomerang", 300, b"<p>x</p>", "update"),  # back to v1 bytes (ts moved)
            ],
        ),
        "b3",
    )
    t = t.refresh()
    feed = assert_parity(t, s1)
    got = {r["url"]: r for r in feed.collect()}
    assert set(got) == {"upd", "gone", "fresh", "boomerang"}
    assert got["upd"]["_change_type"] == "update_post"
    assert bytes(got["upd"]["html"]) == b"<p>c</p>"
    assert got["gone"]["_change_type"] == "delete"
    assert bytes(got["gone"]["html"]) == b"<p>g</p>"  # pre-image
    assert got["fresh"]["_change_type"] == "insert"
    assert bytes(got["fresh"]["html"]) == b"<p>f2</p>"
    # ts moved even though bytes reverted => still an update
    assert got["boomerang"]["_change_type"] == "update_post"
    assert_parity(t, s1, include_pre=True)
    # sub-windows too
    assert_parity(t, s1, t.snapshot_id - 1)
    assert_parity(t, s1 + 1, t.snapshot_id, include_pre=True)


def test_delete_then_reinsert_within_window(spark, tmp_path):
    """delete→insert nets to update_post when values differ (key existed
    at both window ends)."""
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u", 100, b"<p>v1</p>", "insert")]), "b1")
    t = t.refresh()
    s1 = t.snapshot_id
    merge_batch(t, ev(spark, [("u", 200, None, "delete")]), "b2")
    t = t.refresh()
    merge_batch(t, ev(spark, [("u", 300, b"<p>v2</p>", "insert")]), "b3")
    t = t.refresh()
    feed = assert_parity(t, s1, include_pre=True)
    types = {r["_change_type"] for r in feed.collect()}
    assert types == {"update_post", "update_pre"}


def test_schema_evolution_in_window_parity(spark, tmp_path):
    """A payload column added mid-window: earlier commits' changelog
    rows align by column id (NULL before the add), matching the join
    path exactly."""
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert")]), "b1")
    t = t.refresh()
    s1 = t.snapshot_id
    merge_batch(
        t,
        ev(
            spark,
            [
                ("u1", 200, b"<p>b</p>", "update", 7),
                ("u2", 200, b"<p>c</p>", "insert", 8),
            ],
            extra_schema=", rank long",
        ),
        "b2",
    )
    t = t.refresh()
    assert "rank" in t.schema.names()
    assert_parity(t, s1)
    assert_parity(t, s1, include_pre=True)

    # rename inside a later window: pre-images keep flowing by id
    t = t.rename_column("rank", "prio")
    merge_batch(t.refresh(), ev(
        spark,
        [("u2", 300, b"<p>c2</p>", "update")],
    ), "b3")
    t = t.refresh()
    assert_parity(t, s1)
    assert_parity(t, s1 + 1, include_pre=True)


def test_fallback_on_uncovered_commit(spark, tmp_path):
    """A row-changing commit without changelog (bulk append — may even
    violate key-uniqueness, so no feed is derivable) inside the window:
    auto mode falls back to the join path (same answer),
    use_changelog=True refuses loudly."""
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert"),
                              ("u2", 100, b"<p>b</p>", "insert")]), "b1")
    t = t.refresh()
    s1 = t.snapshot_id
    extra = spark.range(1).select(
        F.lit("u3").alias("url"),
        F.timestamp_seconds(F.lit(500)).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit("bulk").alias("text"),
        F.lit("en").alias("lang"),
    )
    t = t.append(extra, batch_id="bulk")
    auto = t.read_changes(s1)
    join = t.read_changes(s1, use_changelog=False)
    assert norm(auto) == norm(join)
    with pytest.raises(ValueError, match="changelog does not cover"):
        t.read_changes(s1, use_changelog=True)


def test_dml_commits_emit_changelog(spark, tmp_path):
    """delete_where / update_where carry the feed too: parity with the
    join path, and update_where rows that assign UNCHANGED values stay
    out of the feed."""
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert"),
                              ("u2", 100, b"<p>b</p>", "insert"),
                              ("u3", 100, b"<p>c</p>", "insert")]), "b1")
    t = t.refresh()
    s1 = t.snapshot_id
    t = t.update_where(F.col("url") == "u1", {"lang": F.lit("fr")}, batch_id="dml1")
    # assigns the CURRENT value: visible state unchanged => empty feed row set
    t = t.update_where(F.col("url") == "u2", {"text": F.col("text")}, batch_id="dml2")
    t = t.delete_where(F.col("url") == "u3", batch_id="dml3")
    feed = assert_parity(t, s1, include_pre=True)
    got = {(r["url"], r["_change_type"]) for r in feed.collect()}
    assert got == {("u1", "update_post"), ("u1", "update_pre"), ("u3", "delete")}
    post = next(r for r in feed.collect() if r["_change_type"] == "update_post")
    assert post["lang"] == "fr"
    assert_parity(t, s1)
    assert_parity(t, s1 + 1, t.snapshot_id)


def test_state_preserving_commits_skipped(spark, tmp_path):
    """Compaction / schema / tag commits inside the window are provably
    state-preserving — the fast path skips them and stays available."""
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert")]), "b1")
    t = t.refresh()
    s1 = t.snapshot_id
    merge_batch(t, ev(spark, [("u1", 200, b"<p>b</p>", "update")]), "b2")
    t = t.refresh()
    t = t.compact("squash")
    t = t.tag_snapshot("audited")
    s2 = t.snapshot_id
    t = t.add_column("notes", "string")
    feed = assert_parity(t, s1, include_pre=True)
    assert {r["_change_type"] for r in feed.collect()} == {"update_post", "update_pre"}
    # a window with no file changes, read after a later column add: both
    # paths return the to-snapshot's columns, not the head's
    assert_parity(t, s2 - 1, s2)


def test_empty_and_noop_batches(spark, tmp_path):
    """A batch that changes nothing (all-late events) yields an empty
    feed on both paths; zero-churn window likewise."""
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 500, b"<p>a</p>", "insert")]), "b1")
    t = t.refresh()
    s1 = t.snapshot_id
    merge_batch(t, ev(spark, [("u1", 100, b"<p>late</p>", "update")]), "b2")
    t = t.refresh()
    feed = assert_parity(t, s1)
    assert feed.count() == 0
    assert t.read_changes(t.snapshot_id, use_changelog=True).count() == 0


def test_mor_table_changelog_parity(spark, tmp_path):
    """Merge-on-read commits emit the same changelog (the delta write
    and the feed are both churn-shaped)."""
    t = mk_table(spark, tmp_path, merge_on_read=True)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert"),
                              ("u2", 100, b"<p>b</p>", "insert")]), "b1")
    t = t.refresh()
    s1 = t.snapshot_id
    merge_batch(t, ev(spark, [("u1", 200, b"<p>a2</p>", "update"),
                              ("u2", 200, None, "delete"),
                              ("u3", 200, b"<p>c</p>", "insert")]), "b2")
    t = t.refresh()
    feed = assert_parity(t, s1, include_pre=True)
    got = {(r["url"], r["_change_type"]) for r in feed.collect()}
    assert got == {
        ("u1", "update_post"),
        ("u1", "update_pre"),
        ("u2", "delete"),
        ("u3", "insert"),
    }


def test_snapshot_compare_changelog_parity(spark, tmp_path):
    """The snapshot-compare path (inferred deletes) emits changelogs
    through the same assembly."""
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert"),
                              ("u2", 100, b"<p>b</p>", "insert")]), "b1")
    t = t.refresh()
    s1 = t.snapshot_id
    snap = local_frame(
        spark,
        [("u1", 200, b"<p>a2</p>"), ("u3", 200, b"<p>c</p>")],
        "url string, ts long, html binary",
    ).select("url", F.timestamp_seconds("ts").alias("warc_ts"), "html")
    snapshot_batch(t, snap, "snap1")
    t = t.refresh()
    feed = assert_parity(t, s1)
    got = {r["url"]: r["_change_type"] for r in feed.collect()}
    assert got == {"u1": "update_post", "u2": "delete", "u3": "insert"}


def test_patch_ops_changelog_parity(spark, tmp_path):
    """Sparse patch events land in the feed as update_post rows."""
    t = mk_table(spark, tmp_path)
    merge_batch(
        t,
        ev(spark, [("u1", 100, b"<p>a</p>", "insert", 1.5)], extra_schema=", score double"),
        "b1",
        patch_ops=True,
    )
    t = t.refresh()
    s1 = t.snapshot_id
    patch = ev(spark, [("u1", 200, None, "patch", 9.9)], extra_schema=", score double")
    merge_batch(t, patch, "b2", patch_ops=True)
    t = t.refresh()
    feed = assert_parity(t, s1, include_pre=True)
    rows = {r["_change_type"]: r for r in feed.collect()}
    assert rows["update_post"]["score"] == 9.9
    assert bytes(rows["update_post"]["html"]) == b"<p>a</p>"  # untouched col kept
    assert rows["update_pre"]["score"] == 1.5


def test_changelog_gc_expire_and_orphans(spark, tmp_path):
    """Changelog files live exactly as long as their manifest: expiry
    deletes expired commits' changelogs, keeps retained ones; the
    orphan sweep keeps live changelog files and collects debris."""
    t = mk_table(spark, tmp_path)
    for i, snap_files in enumerate([("u1", 100), ("u1", 200), ("u1", 300), ("u1", 400)]):
        merge_batch(
            t.refresh(),
            ev(spark, [(snap_files[0], snap_files[1], f"<p>v{i}</p>".encode(), "insert" if i == 0 else "update")]),
            f"b{i}",
        )
    t = t.refresh()
    all_cl = []
    for snap in range(1, t.snapshot_id + 1):
        m = t._manifest_at(snap)
        all_cl.extend((m["summary"] or {}).get("changelog_files") or [])
    assert len(all_cl) >= 4
    assert all(os.path.exists(os.path.join(t.root, p)) for p in all_cl)

    t.expire_snapshots(keep_last=2)
    t = t.refresh()
    kept, dropped = [], []
    for p in all_cl:
        (kept if os.path.exists(os.path.join(t.root, p)) else dropped).append(p)
    assert dropped, "expired commits' changelog files should be deleted"
    # retained commits keep theirs, and the feed still serves from them
    retained_cl = []
    for snap in range(t.min_retained_snapshot, t.snapshot_id + 1):
        m = t._manifest_at(snap)
        retained_cl.extend((m["summary"] or {}).get("changelog_files") or [])
    assert retained_cl and all(p in kept for p in retained_cl)
    assert_parity(t, t.min_retained_snapshot)

    # orphan sweep: fabricated debris goes, live changelog files stay
    debris = os.path.join(t.root, "data", "changelog-99-deadbeef")
    os.makedirs(debris)
    with open(os.path.join(debris, "part-junk.parquet"), "wb") as f:
        f.write(b"junk")
    t.remove_orphan_files(grace_sec=0.0)
    assert not os.path.exists(os.path.join(debris, "part-junk.parquet"))
    assert all(os.path.exists(os.path.join(t.root, p)) for p in retained_cl)
    assert_parity(t, t.min_retained_snapshot)


def test_changelog_replay_is_idempotent(spark, tmp_path):
    """Replaying a committed batch no-ops: no duplicate changelog."""
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert")]), "b1")
    t = t.refresh()
    s1 = t.snapshot_id
    batch = ev(spark, [("u1", 200, b"<p>b</p>", "update")])
    merge_batch(t, batch, "b2")
    t = t.refresh()
    before = norm(t.read_changes(s1, use_changelog=True))
    merge_batch(t, batch, "b2")  # replay
    t = t.refresh()
    assert norm(t.read_changes(s1, use_changelog=True)) == before


@pytest.mark.parametrize("span", ["one_commit", "two_commits"])
def test_rollback_emits_compensating_changes(spark, tmp_path, span):
    """rollback_to on a changelog table writes the INVERSE of the
    undone window as its changelog: feeds and streams ride through the
    rollback, and a window spanning bad-batch+rollback nets to zero.
    Undoing two commits (an insert→update chain on u3, an update→delete
    chain on u1) inverts the multi-commit net merge instead."""
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert"),
                              ("u2", 100, b"<p>b</p>", "insert")]), "b1")
    t = t.refresh()
    s1 = t.snapshot_id
    bad = [[("u1", 200, b"<p>a2</p>", "update"),
            ("u2", 200, None, "delete"),
            ("u3", 200, b"<p>c</p>", "insert")]]
    if span == "two_commits":
        bad.append([("u1", 300, None, "delete"),
                    ("u3", 300, b"<p>c2</p>", "update")])
    for i, rows in enumerate(bad):
        merge_batch(t, ev(spark, rows), f"bad{i}")
        t = t.refresh()
    s2 = t.snapshot_id
    t = t.rollback_to(s1)

    # the rollback commit alone = inverse of the bad batches (both paths)
    feed = assert_parity(t, s2, include_pre=True)
    rows = {(r["url"], r["_change_type"]): r for r in feed.collect()}
    if span == "one_commit":
        assert set(rows) == {
            ("u1", "update_post"), ("u1", "update_pre"),
            ("u2", "insert"), ("u3", "delete"),
        }
        assert bytes(rows[("u1", "update_post")]["html"]) == b"<p>a</p>"  # restored
        assert bytes(rows[("u1", "update_pre")]["html"]) == b"<p>a2</p>"  # undone
    else:
        assert set(rows) == {("u1", "insert"), ("u2", "insert"), ("u3", "delete")}
        assert bytes(rows[("u1", "insert")]["html"]) == b"<p>a</p>"  # restored
        assert bytes(rows[("u3", "delete")]["html"]) == b"<p>c2</p>"  # last undone value
    assert bytes(rows[("u2", "insert")]["html"]) == b"<p>b</p>"

    # bad batch + its rollback cancel over the spanning window
    spanning = assert_parity(t, s1)
    assert spanning.count() == 0


def test_replicator_follows_changelog_source(spark, tmp_path):
    """TableReplicator's feed reads now ride the changelog fast path
    when the source has one — replica still equals the source exactly,
    and the synced window is provably covered."""
    from dbp_etl_spark.cdc import CDCRunner, TableReplicator, generate_changes

    src = mk_table(spark, tmp_path, "src")
    tgt = LakeTable.create(
        spark, str(tmp_path / "tgt"), TableSchema.from_struct(PAGES),
        key="url", num_buckets=4,
    )
    CDCRunner(src).run(generate_changes(spark, 800, 60, n_batches=2, seed=3))
    src = src.refresh()
    rep = TableReplicator(src, tgt, name="pages")
    rep.sync()
    assert src._changelog_window(0, src.snapshot_id) is not None  # covered
    s = {(r["url"], r["text"]) for r in src.read().collect()}
    r = {(r["url"], r["text"]) for r in rep.target.read().collect()}
    assert s == r


def test_incremental_rollup_on_changelog_source(spark, tmp_path):
    """IncrementalRollup refresh over a changelog source: the pre/post
    pairs it retracts/applies come from changelog files."""
    from dbp_etl_spark.operators.incremental import IncrementalRollup

    t = mk_table(spark, tmp_path)
    merge_batch(
        t,
        ev(spark, [("u1", 100, b"<p>a</p>", "insert", 2.0),
                   ("u2", 100, b"<p>b</p>", "insert", 3.0)],
           extra_schema=", score double"),
        "b1",
    )
    t = t.refresh()
    roll = IncrementalRollup(t, str(tmp_path / "state"), ["lang"], "score")
    roll.refresh()
    merge_batch(
        t,
        ev(spark, [("u1", 200, b"<p>a2</p>", "update", 7.5),
                   ("u2", 200, None, "delete", None),
                   ("u3", 200, b"<p>c</p>", "insert", 1.0)],
           extra_schema=", score double"),
        "b2",
    )
    t = t.refresh()
    roll = IncrementalRollup(t, str(tmp_path / "state"), ["lang"], "score")
    roll.refresh()
    got = {r["lang"]: (r["n"], r["total"]) for r in roll.read().collect()}
    want = {
        r["lang"]: (r["n"], r["total"])
        for r in t.read().groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.coalesce("score", F.lit(0.0))).alias("total"),
        ).collect()
    }
    assert got == want
    assert t._changelog_window(0, t.snapshot_id) is not None


def test_txn_commits_carry_changelog(spark, tmp_path):
    """Changelog files written inside a multi-table transaction become
    live with the txn's manifests; the feed covers txn commits."""
    from dbp_etl_spark.lake.txn import TxnCoordinator

    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert")]), "b1")
    t = t.refresh()
    s1 = t.snapshot_id
    coord = TxnCoordinator(str(tmp_path / "_txn"))
    with coord.transaction([t]) as txn:
        (ta,) = txn.tables
        merge_batch(ta, ev(spark, [("u1", 200, b"<p>a2</p>", "update")]), "b2")
    t = LakeTable.load(spark, t.root)
    feed = assert_parity(t, s1)
    assert {r["_change_type"] for r in feed.collect()} == {"update_post"}
