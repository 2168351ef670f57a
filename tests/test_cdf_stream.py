"""``lake_cdf`` streaming source: readStream over the committed change
feed (changelog files), exactly-once via Spark's streaming checkpoint."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbp_etl_spark.cdc import merge_batch
from dbp_etl_spark.lake import LakeTable, TableSchema
from dbp_etl_spark.streaming.cdf_source import read_change_stream
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


def mk_table(spark, tmp_path, **kw):
    return LakeTable.create(
        spark, str(tmp_path / "pages"), TableSchema.from_struct(PAGES), key="url",
        num_buckets=4, changelog=True, **kw,
    )


def ev(spark, rows):
    return local_frame(
        spark,
        rows, "url string, ts long, html binary, op string"
    ).select("url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "op")


def run_once(df, ck, batches):
    """One availableNow pass; foreachBatch appends collected rows."""
    q = (
        df.writeStream.foreachBatch(lambda b, i: batches.append((i, b.collect())))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()


def norm_row(r):
    d = r.asDict()
    return tuple(
        (k, bytes(v) if isinstance(v, (bytearray, bytes)) else v)
        for k, v in sorted(d.items())
    )


def expected_feed(t, lo, hi):
    """Union of per-commit read_changes, stamped with the snapshot."""
    out = []
    for snap in range(lo + 1, hi + 1):
        feed = t.read_changes(snap - 1, snap).withColumn(
            "_commit_snapshot", F.lit(snap).cast("long")
        )
        out.extend(norm_row(r) for r in feed.collect())
    return sorted(out)


def test_stream_matches_read_changes(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert"),
                              ("u2", 100, b"<p>b</p>", "insert")]), "b1")
    t = t.refresh()
    merge_batch(t, ev(spark, [("u1", 200, b"<p>a2</p>", "update"),
                              ("u2", 200, None, "delete"),
                              ("u3", 200, b"<p>c</p>", "insert")]), "b2")
    t = t.refresh()
    merge_batch(t, ev(spark, [("u3", 300, b"<p>c2</p>", "update")]), "b3")
    t = t.refresh()

    batches = []
    df = read_change_stream(spark, t.root, startingSnapshot=0)
    assert df.columns == ["url", "warc_ts", "html", "text", "lang",
                          "_change_type", "_commit_snapshot"]
    run_once(df, str(tmp_path / "ck"), batches)
    got = sorted(norm_row(r) for _i, rows in batches for r in rows)
    assert got == expected_feed(t, 0, t.snapshot_id)


def test_stream_include_pre(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert")]), "b1")
    t = t.refresh()
    merge_batch(t, ev(spark, [("u1", 200, b"<p>a2</p>", "update")]), "b2")
    t = t.refresh()
    batches = []
    df = read_change_stream(spark, t.root, startingSnapshot=0, includePre=True)
    run_once(df, str(tmp_path / "ck"), batches)
    rows = [r for _i, rs in batches for r in rs]
    types = sorted(r["_change_type"] for r in rows)
    assert types == ["insert", "update_post", "update_pre"]
    pre = next(r for r in rows if r["_change_type"] == "update_pre")
    assert bytes(pre["html"]) == b"<p>a</p>"
    assert pre["_commit_snapshot"] == 2


def test_stream_tail_from_now_and_resume(spark, tmp_path):
    """Default start = head at stream start; a restart from the same
    checkpoint picks up exactly the commits since (exactly-once)."""
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert")]), "b1")
    t = t.refresh()
    ck = str(tmp_path / "ck")

    batches = []
    df = read_change_stream(spark, t.root)
    run_once(df, ck, batches)
    assert all(not rows for _i, rows in batches)  # history not replayed

    merge_batch(t, ev(spark, [("u2", 200, b"<p>b</p>", "insert")]), "b2")
    t = t.refresh()
    merge_batch(t, ev(spark, [("u1", 300, None, "delete")]), "b3")
    t = t.refresh()

    batches2 = []
    run_once(read_change_stream(spark, t.root), ck, batches2)
    got = sorted(norm_row(r) for _i, rows in batches2 for r in rows)
    assert got == expected_feed(t, 1, t.snapshot_id)

    # nothing new: a third pass emits nothing (no replay)
    batches3 = []
    run_once(read_change_stream(spark, t.root), ck, batches3)
    assert all(not rows for _i, rows in batches3)


def test_stream_uncovered_commit_error_and_skip(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert")]), "b1")
    t = t.refresh()
    extra = spark.range(1).select(
        F.lit("u9").alias("url"),
        F.timestamp_seconds(F.lit(500)).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit("bulk").alias("text"),
        F.lit("en").alias("lang"),
    )
    t = t.append(extra, batch_id="bulk")  # row change without changelog
    merge_batch(t, ev(spark, [("u2", 200, b"<p>b</p>", "insert")]), "b2")
    t = t.refresh()

    with pytest.raises(StreamingQueryException, match="without a changelog"):
        run_once(read_change_stream(spark, t.root, startingSnapshot=0),
                 str(tmp_path / "ck_err"), [])

    batches = []
    run_once(
        read_change_stream(spark, t.root, startingSnapshot=0, onMissingChangelog="skip"),
        str(tmp_path / "ck_skip"),
        batches,
    )
    got = {(r["url"], r["_change_type"]) for _i, rows in batches for r in rows}
    assert got == {("u1", "insert"), ("u2", "insert")}  # DML commit skipped


def test_stream_schema_evolution_alignment(spark, tmp_path):
    """Changelog files written before a column existed stream NULL for
    it; the stream schema is the head schema at start."""
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert")]), "b1")
    t = t.refresh()
    batch2 = local_frame(
        spark,
        [("u2", 200, b"<p>b</p>", "insert", 7)],
        "url string, ts long, html binary, op string, rank long",
    ).select("url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "op", "rank")
    merge_batch(t, batch2, "b2")
    t = t.refresh()

    batches = []
    df = read_change_stream(spark, t.root, startingSnapshot=0)
    assert "rank" in df.columns
    run_once(df, str(tmp_path / "ck"), batches)
    rows = {r["url"]: r for _i, rs in batches for r in rs}
    assert rows["u1"]["rank"] is None
    assert rows["u2"]["rank"] == 7


def test_stream_replicates_state(spark, tmp_path):
    """The canonical consumer: fold the feed per key (last commit wins)
    and recover exactly the source's live state."""
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u1", 100, b"<p>a</p>", "insert"),
                              ("u2", 100, b"<p>b</p>", "insert")]), "b1")
    t = t.refresh()
    merge_batch(t, ev(spark, [("u1", 200, b"<p>a2</p>", "update"),
                              ("u2", 200, None, "delete"),
                              ("u3", 200, b"<p>c</p>", "insert")]), "b2")
    t = t.refresh()

    state: dict = {}

    def apply_batch(b, _i):
        for r in sorted(b.collect(), key=lambda r: r["_commit_snapshot"]):
            if r["_change_type"] == "delete":
                state.pop(r["url"], None)
            elif r["_change_type"] != "update_pre":
                state[r["url"]] = (bytes(r["html"]), r["text"])

    q = (
        read_change_stream(spark, t.root, startingSnapshot=0)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    src = {
        r["url"]: (bytes(r["html"]), r["text"]) for r in t.read().collect()
    }
    assert state == src


def test_stream_rate_limit_bounds_batches(spark, tmp_path):
    """maxSnapshotsPerBatch engages from the SECOND microbatch of a run
    (the first is uncapped by design: capping before partitions()
    reveals the checkpointed position could rewind a restarted stream's
    offsets and re-deliver). Steady-state backlog drains one commit per
    microbatch; the union equals the feed, no duplicates."""
    t = mk_table(spark, tmp_path)
    merge_batch(t, ev(spark, [("u0", 100, b"<p>0</p>", "insert")]), "b0")
    t = t.refresh()
    batches = []
    df = read_change_stream(spark, t.root, startingSnapshot=0, maxSnapshotsPerBatch=1)
    q = (
        df.writeStream.foreachBatch(lambda b, i: batches.append((i, b.collect())))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1 (uncapped first): snapshot 1
        for i in range(1, 4):  # backlog lands while the stream is live
            merge_batch(
                t.refresh(),
                ev(spark, [(f"u{i}", 100 + i, f"<p>{i}</p>".encode(), "insert")]),
                f"b{i}",
            )
        t = t.refresh()
        q.processAllAvailable()
    finally:
        q.stop()
    non_empty = [rows for _i, rows in batches if rows]
    assert len(non_empty) >= 4  # the 3-commit backlog drained one per batch
    assert all(len({r["_commit_snapshot"] for r in rows}) == 1 for rows in non_empty)
    got = sorted(norm_row(r) for rows in non_empty for r in rows)
    assert got == expected_feed(t, 0, t.snapshot_id)  # complete, no dupes


def test_stream_expired_offset_fails_cleanly(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t = mk_table(spark, tmp_path)
    for i in range(6):
        merge_batch(
            t.refresh(),
            ev(spark, [("u", 100 + i, f"<p>{i}</p>".encode(), "insert" if i == 0 else "update")]),
            f"b{i}",
        )
    t = t.refresh()
    t.expire_snapshots(keep_last=2)
    with pytest.raises((StreamingQueryException, Exception), match="expired"):
        run_once(read_change_stream(spark, t.root, startingSnapshot=1),
                 str(tmp_path / "ck"), [])


def _src_with_churn(spark, tmp_path, seed, n=600, urls=50, batches=2):
    from dbp_etl_spark.cdc import CDCRunner, generate_changes

    src = mk_table(spark, tmp_path)
    ev_ = generate_changes(spark, n, urls, n_batches=batches, seed=seed)
    CDCRunner(src).run(ev_)
    return src.refresh()


def _state(t):
    return {(r["url"], r["text"], r["warc_ts"]) for r in t.read().collect()}


def test_replicate_stream_end_to_end(spark, tmp_path):
    """lake_cdf -> foreachBatch -> replica MERGE: the replica equals
    the source after each drain, catch-up is incremental, and a replay
    with nothing new is a no-op (exactly-once across both layers)."""
    from dbp_etl_spark.cdc import CDCRunner, generate_changes
    from dbp_etl_spark.streaming.cdf_replicate import replicate_stream

    src = _src_with_churn(spark, tmp_path, seed=5)
    tgt = LakeTable.create(
        spark, str(tmp_path / "replica"), TableSchema.from_struct(PAGES),
        key="url", num_buckets=2,
    )
    ck = str(tmp_path / "ck")
    # rate-limited drain: availableNow falls back to a single batch for
    # python sources, so pair the per-trigger cap with a continuous
    # trigger + processAllAvailable (the deployment shape the cap is for)
    q = replicate_stream(
        spark, src.root, tgt, ck, maxSnapshotsPerBatch=1, available_now=False
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    tgt = tgt.refresh()
    assert _state(tgt) == _state(src)
    snap_after_first = tgt.snapshot_id

    # more churn, same checkpoint: incremental catch-up
    more = generate_changes(spark, 300, 50, n_batches=1, seed=6).withColumn(
        "batch_id", F.lit("extra"))
    CDCRunner(src).run(more)
    src = src.refresh()
    q = replicate_stream(spark, src.root, tgt, ck)
    q.awaitTermination(180); q.stop()
    tgt = tgt.refresh()
    assert _state(tgt) == _state(src)

    # nothing new: no target commit
    before = tgt.snapshot_id
    q = replicate_stream(spark, src.root, tgt, ck)
    q.awaitTermination(180); q.stop()
    assert tgt.refresh().snapshot_id == before
    assert before > snap_after_first  # the catch-up really committed


def test_replicate_stream_survives_checkpoint_recreation(spark, tmp_path):
    """A deleted checkpoint re-delivers history; the snapshot-range
    ledger ids + cursor guard skip it instead of regressing the
    replica."""
    from dbp_etl_spark.streaming.cdf_replicate import replicate_stream

    src = _src_with_churn(spark, tmp_path, seed=7)
    tgt = LakeTable.create(
        spark, str(tmp_path / "replica"), TableSchema.from_struct(PAGES),
        key="url", num_buckets=2,
    )
    q = replicate_stream(spark, src.root, tgt, str(tmp_path / "ck1"))
    q.awaitTermination(180); q.stop()
    tgt = tgt.refresh()
    want = _state(src)
    assert _state(tgt) == want
    before = tgt.snapshot_id

    # fresh checkpoint: full history re-delivered, replica must not move
    q = replicate_stream(spark, src.root, tgt, str(tmp_path / "ck2"))
    q.awaitTermination(180); q.stop()
    tgt = tgt.refresh()
    assert tgt.snapshot_id == before
    assert _state(tgt) == want


def test_replicate_stream_filtered(spark, tmp_path):
    """Filtered streaming replica: equals source.read().filter(pred),
    move-outs deleted."""
    from dbp_etl_spark.streaming.cdf_replicate import replicate_stream

    src = _src_with_churn(spark, tmp_path, seed=9)
    pred = "url like '%1%'"
    tgt = LakeTable.create(
        spark, str(tmp_path / "replica"), TableSchema.from_struct(PAGES),
        key="url", num_buckets=2,
    )
    q = replicate_stream(spark, src.root, tgt, str(tmp_path / "ck"), where=pred)
    q.awaitTermination(180); q.stop()
    tgt = tgt.refresh()
    want = {(r["url"], r["text"]) for r in src.read().filter(pred).collect()}
    got = {(r["url"], r["text"]) for r in tgt.read().collect()}
    assert got == want and want


def seed_rows(spark, urls, ts=100):
    return local_frame(
        spark,
        [(u, ts, f"<p>{u}</p>".encode(), f"text {u}", "en") for u in urls],
        "url string, ts long, html binary, text string, lang string",
    ).select(
        "url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "text", "lang"
    )


def test_append_insert_feed_seed_then_tail(spark, tmp_path):
    """append(feed='insert') covers the seed-then-tail lifecycle: bulk
    load a corpus, then tail CDC — the stream (default
    onMissingChangelog='error') sees the seed as inserts served from
    the commit's own data files, then the merge commits as usual."""
    t = mk_table(spark, tmp_path)
    t = t.append(seed_rows(spark, ["u1", "u2", "u3"]), batch_id="seed", feed="insert")
    merge_batch(t, ev(spark, [("u1", 200, b"<p>a2</p>", "update"),
                              ("u2", 200, None, "delete"),
                              ("u4", 200, b"<p>d</p>", "insert")]), "b2")
    t = t.refresh()

    batches = []
    run_once(read_change_stream(spark, t.root, startingSnapshot=0),
             str(tmp_path / "ck"), batches)
    got = sorted(norm_row(r) for _i, rows in batches for r in rows)
    assert got == expected_feed(t, 0, t.snapshot_id)
    seed_types = {
        (r["url"], r["_change_type"])
        for _i, rows in batches for r in rows if r["_commit_snapshot"] == 1
    }
    assert seed_types == {("u1", "insert"), ("u2", "insert"), ("u3", "insert")}

    # includePre over the insert-only commit: no pre rows for it
    batches2 = []
    run_once(read_change_stream(spark, t.root, startingSnapshot=0, includePre=True),
             str(tmp_path / "ck2"), batches2)
    pre = [r for _i, rows in batches2 for r in rows
           if r["_change_type"] == "update_pre"]
    assert {r["url"] for r in pre} == {"u1"}  # only the merge's update


def test_append_insert_feed_batch_read_changes(spark, tmp_path):
    """Batch half: read_changes(use_changelog=True) serves the append
    from its data files, and a window spanning seed+merge NET-merges
    (seed insert then update of the same key => net insert w/ final
    values)."""
    t = mk_table(spark, tmp_path)
    t = t.append(seed_rows(spark, ["u1", "u2"]), batch_id="seed", feed="insert")
    got = {(r["url"], r["_change_type"], r["text"])
           for r in t.read_changes(0, 1, use_changelog=True).collect()}
    assert got == {("u1", "insert", "text u1"), ("u2", "insert", "text u2")}

    merge_batch(t, ev(spark, [("u1", 200, b"<p>a2</p>", "update"),
                              ("u2", 200, None, "delete")]), "b2")
    t = t.refresh()
    netted = {(r["url"], r["_change_type"])
              for r in t.read_changes(0, 2, use_changelog=True).collect()}
    # u1: insert->update nets to insert; u2: insert->delete cancels
    assert netted == {("u1", "insert")}
    # parity with the join-path diff
    join_path = {(r["url"], r["_change_type"])
                 for r in t.read_changes(0, 2, use_changelog=False).collect()}
    assert netted == join_path


def test_append_insert_feed_verification(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    # duplicate keys within the batch
    dup = seed_rows(spark, ["u1", "u1"])
    with pytest.raises(ValueError, match="key-unique"):
        t.append(dup, batch_id="s1", feed="insert")
    t = t.append(seed_rows(spark, ["u1"]), batch_id="s2", feed="insert")
    # key already visible in the table
    with pytest.raises(ValueError, match="already visible"):
        t.append(seed_rows(spark, ["u1", "u9"]), batch_id="s3", feed="insert")
    # tombstones are not inserts
    tomb = seed_rows(spark, ["u7"]).withColumn("_deleted", F.lit(True))
    with pytest.raises(ValueError, match="tombstone"):
        t.append(tomb, batch_id="s4", feed="insert")
    # failed verifications committed nothing
    assert t.refresh().snapshot_id == 1
    # non-changelog table
    plain = LakeTable.create(
        spark, str(tmp_path / "plain"), TableSchema.from_struct(PAGES),
        key="url", num_buckets=2,
    )
    with pytest.raises(ValueError, match="changelog=True"):
        plain.append(seed_rows(spark, ["u1"]), batch_id="s5", feed="insert")
    # exactly-once: replaying the committed batch id is a no-op
    assert t.append(seed_rows(spark, ["zz"]), "s2", feed="insert").snapshot_id == 1


def test_append_insert_feed_replicator_bootstrap(spark, tmp_path):
    """Replicator over a seed-then-tail source: the streaming replica
    bootstraps from the insert feed and converges to source state."""
    from dbp_etl_spark.streaming.cdf_replicate import replicate_stream

    src = mk_table(spark, tmp_path)
    src = src.append(seed_rows(spark, [f"u{i}" for i in range(20)]),
                     batch_id="seed", feed="insert")
    merge_batch(src, ev(spark, [("u3", 200, b"<p>n3</p>", "update"),
                                ("u5", 200, None, "delete"),
                                ("u99", 200, b"<p>x</p>", "insert")]), "b2")
    src = src.refresh()
    tgt = LakeTable.create(
        spark, str(tmp_path / "replica"), TableSchema.from_struct(PAGES),
        key="url", num_buckets=2,
    )
    q = replicate_stream(spark, src.root, tgt, str(tmp_path / "ck"),
                         startingSnapshot=0)
    q.awaitTermination(180); q.stop()
    assert _state(tgt.refresh()) == _state(src)
