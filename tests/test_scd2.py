"""SCD Type 2 history maintenance: incremental == one-shot, exactly-once."""

import time
from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbp_etl_spark.cdc.scd import SCD2Runner, scd2_intervals, scd2_schema
from dbp_etl_spark.lake import LakeTable
from dbp_etl_spark.session import local_frame


def ts(s):
    return datetime.fromisoformat(s)


EV_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("op", T.StringType()),
        T.StructField("val", T.DoubleType()),
        T.StructField("batch_id", T.LongType()),
    ]
)

# u1: three versions; u2: insert then delete then re-insert; u3: one
# version; u4: delete-only (never exists)
LOG = [
    ("u1", ts("2024-01-01 00:00:00"), b"<p>a1</p>", "update", 1.0, 0),
    ("u2", ts("2024-01-01 01:00:00"), b"<p>b1</p>", "update", 2.0, 0),
    ("u1", ts("2024-01-02 00:00:00"), b"<p>a2</p>", "update", 1.5, 1),
    ("u2", ts("2024-01-02 01:00:00"), None, "delete", None, 1),
    ("u4", ts("2024-01-02 02:00:00"), None, "delete", None, 1),
    ("u1", ts("2024-01-03 00:00:00"), b"<p>a3</p>", "update", 1.7, 2),
    ("u2", ts("2024-01-03 01:00:00"), b"<p>b2</p>", "update", 2.5, 2),
    ("u3", ts("2024-01-03 02:00:00"), b"<p>c1</p>", "update", 3.0, 2),
]


def mk_hist(spark, tmp_path, name="hist"):
    return LakeTable.create(
        spark, str(tmp_path / name), scd2_schema({"val": "double"}), key="url", num_buckets=8
    )


def log_df(spark, rows=LOG):
    return local_frame(spark, rows, EV_SCHEMA)


def hist_state(table):
    rows = table.read().collect()
    return sorted(
        (
            r["entity_url"],
            r["valid_from"].isoformat(),
            r["valid_to"].isoformat() if r["valid_to"] else None,
            r["is_current"],
            bytes(r["html"]),
            r["val"],
        )
        for r in rows
    )


def test_incremental_equals_oneshot(spark, tmp_path):
    t = mk_hist(spark, tmp_path)
    rep = SCD2Runner(t, count_late=True).run(log_df(spark))
    assert rep.n_batches == 3 and rep.n_skipped == 0 and rep.n_late == 0

    got = hist_state(t)
    oneshot = scd2_intervals(log_df(spark).drop("batch_id"))
    exp = sorted(
        (
            r["entity_url"],
            r["valid_from"].isoformat(),
            r["valid_to"].isoformat() if r["valid_to"] else None,
            r["is_current"],
            bytes(r["html"]),
            r["val"],
        )
        for r in oneshot.collect()
    )
    assert got == exp

    # shape checks: u1 has 3 versions chained; u2's delete closed v1 and
    # the re-insert opened v2; u4 never exists
    by_entity = {}
    for e, vf, vt, cur, html, val in got:
        by_entity.setdefault(e, []).append((vf, vt, cur, html, val))
    assert len(by_entity["u1"]) == 3
    u1 = by_entity["u1"]
    assert [v[3] for v in u1] == [b"<p>a1</p>", b"<p>a2</p>", b"<p>a3</p>"]
    assert u1[0][1] == u1[1][0] and u1[1][1] == u1[2][0]  # contiguous
    assert [v[2] for v in u1] == [False, False, True]
    u2 = by_entity["u2"]
    assert len(u2) == 2
    assert u2[0][1] == "2024-01-02T01:00:00" and not u2[0][2]  # delete closed it
    assert u2[1][2] and u2[1][1] is None
    assert "u4" not in by_entity
    # exactly one current row per live entity
    assert sum(1 for v in by_entity["u1"] if v[2]) == 1


def test_replay_skips_and_state_stable(spark, tmp_path):
    t = mk_hist(spark, tmp_path)
    SCD2Runner(t).run(log_df(spark))
    before = hist_state(t)
    rep2 = SCD2Runner(t).run(log_df(spark))
    assert rep2.n_skipped == 3
    assert hist_state(t) == before


def test_resume_after_partial_apply(spark, tmp_path):
    t = mk_hist(spark, tmp_path)
    runner = SCD2Runner(t)
    runner.run(log_df(spark, [r for r in LOG if r[5] == 0]))
    # resume over the full log: batch 0 skips, 1..2 apply
    rep = runner.run(log_df(spark))
    assert rep.n_skipped == 1
    ref = mk_hist(spark, tmp_path, "ref")
    SCD2Runner(ref).run(log_df(spark))
    assert hist_state(t) == hist_state(ref)


def test_late_event_is_dropped(spark, tmp_path):
    t = mk_hist(spark, tmp_path)
    runner = SCD2Runner(t, count_late=True)
    runner.run(log_df(spark))
    before = hist_state(t)
    late = [("u1", ts("2024-01-02 12:00:00"), b"<p>late</p>", "update", 9.9, 3)]
    rep = runner.run(log_df(spark, late))
    assert rep.n_late == 1
    assert hist_state(t) == before


def test_same_ts_delete_beats_write(spark, tmp_path):
    rows = [
        ("u1", ts("2024-01-01 00:00:00"), b"<p>a</p>", "update", 1.0, 0),
        ("u1", ts("2024-01-02 00:00:00"), b"<p>b</p>", "update", 2.0, 0),
        ("u1", ts("2024-01-02 00:00:00"), None, "delete", None, 0),
    ]
    t = mk_hist(spark, tmp_path)
    SCD2Runner(t).run(log_df(spark, rows))
    got = hist_state(t)
    # the (u1, 01-02) group resolves to the delete: one closed interval
    assert len(got) == 1
    e, vf, vt, cur, html, val = got[0]
    assert html == b"<p>a</p>" and vt == "2024-01-02T00:00:00" and not cur


def test_scd2_asof_lookup(spark, tmp_path):
    """The canonical consumer query: state as of T."""
    t = mk_hist(spark, tmp_path)
    SCD2Runner(t).run(log_df(spark))
    asof = ts("2024-01-02 12:00:00")
    rows = (
        t.read()
        .filter(
            (F.col("valid_from") <= F.lit(asof))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(asof)))
        )
        .select("entity_url", "val")
        .collect()
    )
    assert {(r["entity_url"], r["val"]) for r in rows} == {("u1", 1.5)}  # u2 deleted


def test_versions_get_extracted_text(spark, tmp_path):
    """Each version's text derives from its own html via the standard
    merge transform — history rows are first-class page rows."""
    t = mk_hist(spark, tmp_path)
    SCD2Runner(t).run(log_df(spark))
    texts = {
        (r["entity_url"], r["valid_from"].isoformat()): r["text"]
        for r in t.read().collect()
    }
    assert texts[("u1", "2024-01-01T00:00:00")] == "a1"
    assert texts[("u1", "2024-01-03T00:00:00")] == "a3"


def test_scd2_stream_matches_batch(spark, tmp_path):
    """Streaming SCD2 (run_scd2_stream) over a time-ordered parquet
    tail equals the batch runner; a checkpointed re-run no-ops."""
    from dbp_etl_spark.streaming import run_scd2_stream

    src = str(tmp_path / "changes")
    sub_schema = T.StructType(
        [EV_SCHEMA[n] for n in ("url", "warc_ts", "html", "op", "val")]
    )
    for b in range(3):
        log_df(spark, [r for r in LOG if r[5] == b]).drop("batch_id").coalesce(
            1
        ).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes -> deterministic stream file order

    t = mk_hist(spark, tmp_path, "stream_hist")
    q = run_scd2_stream(
        spark,
        src,
        t,
        checkpoint_path=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        changes_schema=sub_schema,
    )
    q.awaitTermination(120)

    ref = mk_hist(spark, tmp_path, "batch_hist")
    SCD2Runner(ref).run(log_df(spark))
    assert hist_state(t) == hist_state(ref)

    # restart from the same checkpoint: nothing new -> state unchanged
    q2 = run_scd2_stream(
        spark,
        src,
        t,
        checkpoint_path=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        changes_schema=sub_schema,
    )
    q2.awaitTermination(120)
    assert hist_state(t) == hist_state(ref)


def test_scd2_stream_maxwell_feed(spark, tmp_path):
    """A Maxwell envelope feed tails straight into SCD2 history:
    source_adapter composition, the Kafka-value stand-in."""
    import json as _json

    from dbp_etl_spark.sources import from_maxwell
    from dbp_etl_spark.streaming import run_scd2_stream

    def env(typ, ts_sec, image):
        return _json.dumps(
            {"database": "db", "table": "pages", "type": typ, "ts": ts_sec, "data": image}
        )

    import base64

    def b64(b):
        return base64.b64encode(b).decode()

    src = tmp_path / "mxw"
    src.mkdir()
    (src / "b0.jsonl").write_text(
        env("insert", 100, {"url": "u1", "html": b64(b"<p>v1</p>"), "val": 1.0})
    )
    time.sleep(1.1)  # distinct mtimes -> deterministic stream file order
    (src / "b1.jsonl").write_text(
        "\n".join(
            [
                env("update", 200, {"url": "u1", "html": b64(b"<p>v2</p>"), "val": 2.0}),
                env("delete", 300, {"url": "u1", "html": b64(b"<p>v2</p>"), "val": 2.0}),
            ]
        )
    )
    row = T.StructType([EV_SCHEMA[n] for n in ("url", "warc_ts", "html", "val")])
    t = mk_hist(spark, tmp_path, "mxw_hist")
    q = run_scd2_stream(
        spark,
        str(src),
        t,
        checkpoint_path=str(tmp_path / "mxw_ckpt"),
        max_files_per_trigger=1,
        source_format="text",
        source_adapter=lambda df: from_maxwell(df, row),
    )
    q.awaitTermination(120)
    got = hist_state(t)
    # two versions, both closed (the delete ends v2); no current row
    assert [(g[0], g[3], g[4]) for g in got] == [
        ("u1", False, b"<p>v1</p>"),
        ("u1", False, b"<p>v2</p>"),
    ]
    assert got[0][2] == "2024-01-01T00:00:00" or got[0][2] is not None


def test_late_event_after_delete_is_dropped(spark, tmp_path):
    """An out-of-contract event OLDER than the delete that closed an
    entity must be suppressed (the latest-state tombstone guard
    analog), not open an interval overlapping closed history."""
    rows = [
        ("u1", ts("2024-01-01 00:00:00"), b"<p>a</p>", "update", 1.0, 0),
        ("u1", ts("2024-01-05 00:00:00"), None, "delete", None, 0),
    ]
    t = mk_hist(spark, tmp_path)
    runner = SCD2Runner(t, count_late=True)
    runner.run(log_df(spark, rows))
    before = hist_state(t)
    assert len(before) == 1 and not before[0][3]  # one closed interval
    late = [("u1", ts("2024-01-03 00:00:00"), b"<p>zombie</p>", "update", 9.0, 1)]
    rep = runner.run(log_df(spark, late))
    assert rep.n_late == 1
    assert hist_state(t) == before


def mk_frontier(spark, tmp_path, name="frontier"):
    from dbp_etl_spark.cdc.scd import frontier_schema

    return LakeTable.create(
        spark, str(tmp_path / name), frontier_schema(), key="url", num_buckets=8
    )


def frontier_state(t):
    return sorted(
        (r["url"], r["warc_ts"].isoformat(), r["open_key"],
         r["open_from"].isoformat() if r["open_from"] else None)
        for r in t.read().collect()
    )


def expected_frontier_from_hist(hist):
    rows = hist.read().collect()
    by_e = {}
    for r in rows:
        e = r["entity_url"]
        cur = by_e.get(e, (None, None, None))
        ts = r["warc_ts"]
        best = max(cur[0], ts) if cur[0] else ts
        ok, of = cur[1], cur[2]
        if r["is_current"]:
            ok, of = r["url"], r["valid_from"]
        by_e[e] = (best, ok, of)
    return sorted(
        (e, ts.isoformat(), ok, of.isoformat() if of else None)
        for e, (ts, ok, of) in by_e.items()
    )


def test_frontier_mode_matches_plain_with_txn(spark, tmp_path):
    from dbp_etl_spark.lake.txn import TxnCoordinator

    hist = mk_hist(spark, tmp_path, "fhist")
    fr = mk_frontier(spark, tmp_path)
    coord = TxnCoordinator(str(tmp_path / "_txn"))
    runner = SCD2Runner(hist, frontier=fr, txn=coord, count_late=True)
    rep = runner.run(log_df(spark))
    assert rep.n_late == 0

    ref = mk_hist(spark, tmp_path, "ref")
    SCD2Runner(ref).run(log_df(spark))
    assert hist_state(runner.hist) == hist_state(ref)
    # frontier rows are exactly the per-entity derivation from history
    assert frontier_state(runner.frontier) == expected_frontier_from_hist(runner.hist)
    # replay: both ledgers skip, nothing changes
    before_f = frontier_state(runner.frontier)
    rep2 = runner.run(log_df(spark))
    assert rep2.n_skipped == 3
    assert frontier_state(runner.frontier) == before_f


def test_frontier_mode_late_after_delete(spark, tmp_path):
    rows = [
        ("u1", ts("2024-01-01 00:00:00"), b"<p>a</p>", "update", 1.0, 0),
        ("u1", ts("2024-01-05 00:00:00"), None, "delete", None, 0),
    ]
    hist = mk_hist(spark, tmp_path, "fhist")
    fr = mk_frontier(spark, tmp_path)
    runner = SCD2Runner(hist, frontier=fr, count_late=True)
    runner.run(log_df(spark, rows))
    # frontier carries the DELETE ts with no open key
    assert frontier_state(runner.frontier) == [("u1", "2024-01-05T00:00:00", None, None)]
    late = [("u1", ts("2024-01-03 00:00:00"), b"<p>zombie</p>", "update", 9.0, 1)]
    before = hist_state(runner.hist)
    rep = runner.run(log_df(spark, late))
    assert rep.n_late == 1 and hist_state(runner.hist) == before


def test_frontier_crash_repair_on_resume(spark, tmp_path):
    """History committed but frontier not (the non-txn crash window):
    resume re-derives the affected entities' frontier rows."""
    hist = mk_hist(spark, tmp_path, "fhist")
    fr = mk_frontier(spark, tmp_path)
    # batch 0 lands on history WITHOUT touching the frontier (the crash)
    SCD2Runner(hist).run(log_df(spark, [r for r in LOG if r[5] == 0]))
    hist = hist.refresh()

    runner = SCD2Runner(hist, frontier=fr)
    rep = runner.run(log_df(spark))
    assert rep.n_skipped == 1  # batch 0 skipped on history
    ref = mk_hist(spark, tmp_path, "ref")
    SCD2Runner(ref).run(log_df(spark))
    assert hist_state(runner.hist) == hist_state(ref)
    assert frontier_state(runner.frontier) == expected_frontier_from_hist(runner.hist)


def test_auto_mode_upgrades_bootstraps_and_matches_plain(spark, tmp_path):
    """mode='auto': batch 0 applies plain (history below the byte
    threshold), the next batch crosses it — frontier bootstrapped from
    history, sticky frontier applies from then on; final history equals
    the all-plain reference and the frontier equals its derivation."""
    hist = mk_hist(spark, tmp_path, "ahist")
    fr = mk_frontier(spark, tmp_path, "afr")
    runner = SCD2Runner(hist, frontier=fr, mode="auto", frontier_auto_bytes=1,
                        count_late=True)
    assert not runner._frontier_active
    rep = runner.run(log_df(spark))
    assert rep.n_late == 0 and runner._frontier_active

    ref = mk_hist(spark, tmp_path, "ref")
    SCD2Runner(ref).run(log_df(spark))
    assert hist_state(runner.hist) == hist_state(ref)
    assert frontier_state(runner.frontier) == expected_frontier_from_hist(runner.hist)
    fled = runner.frontier.manifest["committed_batches"]
    boots = [k for k in fled if k.startswith("scd2f::bootstrap::hist")]
    assert len(boots) == 1  # one upgrade, one bootstrap
    assert "scd2f::0" not in fled  # batch 0 was applied plain
    assert "scd2f::1" in fled and "scd2f::2" in fled

    # late guard still holds through the upgraded frontier path
    late = [("u2", ts("2024-01-02 00:30:00"), b"<p>zombie</p>", "update", 9.0, 7)]
    before = hist_state(runner.hist)
    rep2 = runner.run(log_df(spark, late))
    assert rep2.n_late == 1 and hist_state(runner.hist) == before


def test_metadata_commits_keep_frontier_in_sync(spark, tmp_path):
    """Tag, constraint and rebucket commits on the history change no
    rows: each ledger entry carries its state-preserving summary key,
    so the frontier stays in sync and is not re-bootstrapped."""
    hist = mk_hist(spark, tmp_path, "mhist")
    fr = mk_frontier(spark, tmp_path, "mfr")
    runner = SCD2Runner(hist, frontier=fr, mode="auto", frontier_auto_bytes=1)
    runner.run(log_df(spark))
    assert runner._frontier_active
    commits = {
        "tag": lambda h: h.tag_snapshot("audit"),
        "add_constraint": lambda h: h.add_constraint("ts_nn", "warc_ts IS NOT NULL"),
        "rebucket": lambda h: h.rebucket(2 * h.num_buckets, "rb"),
    }
    for key, commit in commits.items():
        runner.hist = commit(runner.hist)
        assert runner._frontier_in_sync(), key
        snap = runner.frontier.snapshot_id
        runner._ensure_frontier_synced()
        assert runner.frontier.snapshot_id == snap, key
        ledger = runner.hist.committed_batches()
        assert key in max(ledger.values(), key=lambda e: e["snapshot_id"])


def test_auto_mode_stays_plain_below_threshold(spark, tmp_path):
    hist = mk_hist(spark, tmp_path, "bhist")
    fr = mk_frontier(spark, tmp_path, "bfr")
    runner = SCD2Runner(hist, frontier=fr, mode="auto",
                        frontier_auto_bytes=10**15)
    runner.run(log_df(spark))
    assert not runner._frontier_active
    assert runner.frontier.refresh().snapshot_id == 0  # never touched
    ref = mk_hist(spark, tmp_path, "ref2")
    SCD2Runner(ref).run(log_df(spark))
    assert hist_state(runner.hist) == hist_state(ref)


def test_auto_mode_bootstrap_idempotent_and_validation(spark, tmp_path):
    import pytest

    hist = mk_hist(spark, tmp_path, "chist")
    fr = mk_frontier(spark, tmp_path, "cfr")
    runner = SCD2Runner(hist, frontier=fr, mode="auto", frontier_auto_bytes=1)
    runner.run(log_df(spark, [r for r in LOG if r[5] <= 1]))
    snap = runner.frontier.snapshot_id
    runner.bootstrap_frontier()  # same hist snapshot: ledger no-op
    assert runner.frontier.snapshot_id == snap

    with pytest.raises(ValueError, match="requires a frontier"):
        SCD2Runner(hist, mode="frontier")
    with pytest.raises(ValueError, match="stale"):
        SCD2Runner(hist, frontier=fr, mode="plain")
    with pytest.raises(ValueError, match="mode must be"):
        SCD2Runner(hist, frontier=fr, mode="bogus")
