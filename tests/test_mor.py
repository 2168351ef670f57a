"""Merge-on-read: delta-file commits resolve identically to copy-on-write.

The MOR table (Hudi-MOR / Iceberg-v2 analog) writes only the CHANGED
rows per MERGE as sequence-numbered delta files; reads resolve per key
(newest delta wins, base rows shadowed). These tests pin the contract:
byte-identical visible state to a copy-on-write table fed the same
batches, O(churn) write amplification, compaction folding, CDF over
delta commits, and pruning safety (a delta must shadow its base row
even when file bounds would prune the delta file).
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbp_etl_spark.cdc import merge_batch
from dbp_etl_spark.cdc.merge import snapshot_batch
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


def mk(spark, tmp_path, name, mor, **kw):
    return LakeTable.create(
        spark,
        str(tmp_path / name),
        TableSchema.from_struct(PAGES),
        key="url",
        num_buckets=8,
        merge_on_read=mor,
        **kw,
    )


def ev(spark, rows):
    return local_frame(
        spark,
        rows, "url string, ts long, html binary, op string"
    ).select("url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "op")


BATCHES = [
    [
        ("u1", 100, b"<p>one</p>", "insert"),
        ("u2", 100, b"<p>two</p>", "insert"),
        ("u3", 100, b"<p>three</p>", "insert"),
        ("u4", 100, b"<p>four</p>", "insert"),
    ],
    [
        ("u1", 200, b"<p>one-v2</p>", "update"),
        ("u2", 200, None, "delete"),
        ("u5", 200, b"<p>five</p>", "insert"),
    ],
    [
        ("u1", 150, b"<p>stale</p>", "update"),  # late: must stay suppressed
        ("u2", 150, b"<p>zombie</p>", "insert"),  # older than tombstone
        ("u3", 300, b"<p>three-v2</p>", "update"),
    ],
]


def apply_all(spark, t, batches=BATCHES):
    for i, rows in enumerate(batches):
        merge_batch(t, ev(spark, rows), f"b{i}")
        t = t.refresh()
    return t


def delta_entries(t):
    return [f for f in t.manifest["files"] for _ in [0] if f.get("delta")]


def test_mor_state_matches_cow(spark, tmp_path):
    cow = apply_all(spark, mk(spark, tmp_path, "cow", mor=False))
    mor = apply_all(spark, mk(spark, tmp_path, "mor", mor=True))
    assert mor.state_hash() == cow.state_hash()
    assert delta_entries(mor) and not delta_entries(cow)
    # resolved read agrees row-for-row, deleted keys stay hidden
    urls = {r["url"] for r in mor.read().collect()}
    assert urls == {"u1", "u3", "u4", "u5"}
    row = {r["url"]: bytes(r["html"]) for r in mor.read().collect()}
    assert row["u1"] == b"<p>one-v2</p>"  # late b2 event lost
    assert row["u3"] == b"<p>three-v2</p>"


def test_mor_write_amplification_is_churn_sized(spark, tmp_path):
    t = apply_all(spark, mk(spark, tmp_path, "t", mor=True), BATCHES[:1])
    base_paths = {f["path"] for f in t.manifest["files"]}
    t = t.refresh()
    merge_batch(t, ev(spark, BATCHES[1]), "b-churn")
    t = t.refresh()
    # every pre-existing file carried forward untouched; only deltas added
    assert base_paths <= {f["path"] for f in t.manifest["files"]}
    added = [f for f in t.manifest["files"] if f["path"] not in base_paths]
    assert added and all(f.get("delta") and f["seq"] == t.snapshot_id for f in added)
    # the delta bytes hold exactly the churn: 2 upserts + 1 tombstone
    n = sum(
        t.spark.read.parquet(str(tmp_path / "t" / f["path"])).count() for f in added
    )
    assert n == 3


def test_mor_compact_folds_deltas(spark, tmp_path):
    t = apply_all(spark, mk(spark, tmp_path, "t", mor=True))
    before = t.state_hash()
    assert delta_entries(t)
    t = t.compact("compact-1")
    assert not delta_entries(t)
    assert t.state_hash() == before
    # post-compaction merge starts a fresh delta generation
    t = t.refresh()
    merge_batch(t, ev(spark, [("u9", 400, b"<p>nine</p>", "insert")]), "b9")
    t = t.refresh()
    assert delta_entries(t)
    assert {r["url"] for r in t.read().collect()} >= {"u9"}


def test_mor_where_does_not_resurrect_shadowed_base(spark, tmp_path):
    # stats-pruning trap: u1's update moves warc_ts out of the base
    # file's bounds — pruning the delta file while keeping the base
    # would resurrect the OLD row inside the predicate range
    t = mk(spark, tmp_path, "t", mor=True, stats_columns=["warc_ts"])
    t = apply_all(spark, t)
    got = {
        r["url"]: bytes(r["html"])
        for r in t.read(where=[("warc_ts", "<=", __import__("datetime").datetime.utcfromtimestamp(150))]).collect()
    }
    # u1 was updated to ts=200: it must NOT appear in a <=150 scan
    assert "u1" not in got
    assert set(got) == {"u4"}  # u2 deleted, u3 updated to 300, u5 at 200


def test_mor_cdf_matches_cow(spark, tmp_path):
    cow = apply_all(spark, mk(spark, tmp_path, "cow", mor=False))
    mor = apply_all(spark, mk(spark, tmp_path, "mor", mor=True))

    def feed(t):
        rows = t.read_changes(1, t.snapshot_id).collect()
        return sorted(
            (r["url"], r["_change_type"], bytes(r["html"]) if r["html"] else None)
            for r in rows
        )

    assert feed(mor) == feed(cow)


def test_mor_dml_and_vacuum_fold_buckets(spark, tmp_path):
    t = apply_all(spark, mk(spark, tmp_path, "t", mor=True))
    t = t.delete_where(F.col("url") == "u4", "dml-1")
    assert {r["url"] for r in t.read().collect()} == {"u1", "u3", "u5"}
    # the rewritten bucket's deltas folded; others may keep theirs
    b_u4 = t.read(include_deleted=True)  # sanity: tombstone present
    assert b_u4.filter((F.col("url") == "u4") & F.col("_deleted")).count() == 1


def test_mor_replay_and_empty_batch(spark, tmp_path):
    t = apply_all(spark, mk(spark, tmp_path, "t", mor=True))
    h = t.state_hash()
    snap = t.snapshot_id
    r = merge_batch(t, ev(spark, BATCHES[1]), "b1")  # same batch id: replay
    assert r.skipped and t.snapshot_id == snap
    # late-only batch: no delta file written, still ledger-committed
    r2 = merge_batch(t, ev(spark, [("u1", 90, b"<p>old</p>", "update")]), "b-late")
    t = t.refresh()
    assert t.is_committed("b-late")
    assert t.state_hash() == h


def test_mor_snapshot_compare(spark, tmp_path):
    t = mk(spark, tmp_path, "t", mor=True)
    t = apply_all(spark, t, BATCHES[:1])

    snap = local_frame(
        spark,
        [("u1", 500, b"<p>one-snap</p>"), ("u2", 100, b"<p>two</p>")],
        "url string, ts long, html binary",
    ).select("url", F.timestamp_seconds("ts").alias("warc_ts"), "html")
    t = t.refresh()
    snapshot_batch(t, snap, "s1")
    t = t.refresh()
    assert {r["url"] for r in t.read().collect()} == {"u1", "u2"}
    assert delta_entries(t)  # snapshot churn landed as deltas
    # idempotent re-apply: empty diff, no new snapshot files
    files_before = len(t.manifest["files"])
    snapshot_batch(t, snap, "s2")
    t = t.refresh()
    assert len(t.manifest["files"]) == files_before


def test_write_deltas_rejects_cow_table(spark, tmp_path):
    t = mk(spark, tmp_path, "t", mor=False)
    with pytest.raises(ValueError, match="merge_on_read"):
        t.write_deltas(t.read().limit(0), [], "x")


def test_max_delta_commits_bound_is_structural(spark, tmp_path):
    """max_delta_commits=2: a bucket that accumulates 2 delta commits is
    folded back into base files inside the same write_deltas call — the
    read-plan union width is bounded by the table property, not by an
    external maintenance cadence. State stays byte-identical to COW."""
    t = mk(spark, tmp_path, "bounded", mor=True, max_delta_commits=2)
    cow = mk(spark, tmp_path, "cow", mor=False)
    rows = [
        [("u1", 100 + i, f"<p>v{i}</p>".encode(), "update" if i else "insert")]
        for i in range(5)
    ]
    for i, batch in enumerate(rows):
        merge_batch(t, ev(spark, batch), f"b{i}")
        t = t.refresh()
        counts = t.delta_commit_counts()
        # the bound held after EVERY commit, not just at the end
        assert all(n < 2 for n in counts.values()), counts
        merge_batch(cow, ev(spark, batch), f"b{i}")
        cow = cow.refresh()
    assert t.state_hash() == cow.state_hash()
    assert any(k.startswith("autocompact-") for k in t.committed_batches())
    [r] = t.read().collect()
    assert bytes(r["html"]) == b"<p>v4</p>"


def test_max_delta_commits_requires_mor(spark, tmp_path):
    with pytest.raises(ValueError, match="merge_on_read"):
        mk(spark, tmp_path, "bad", mor=False, max_delta_commits=2)
    with pytest.raises(ValueError, match=">= 1"):
        mk(spark, tmp_path, "bad2", mor=True, max_delta_commits=0)


def test_stream_onto_mor_table_matches_cow(spark, tmp_path):
    """The streaming tail shares merge_batch, so a MOR sink composes:
    microbatch epochs land as delta commits, resolved state equals the
    batch COW apply of the same log."""
    from dbp_etl_spark.cdc import CDCRunner, generate_changes
    from dbp_etl_spark.streaming import run_stream

    events = generate_changes(spark, 2000, 100, n_batches=3, seed=17)
    src = str(tmp_path / "changes")
    events.repartition(3, "batch_id").write.parquet(src)

    mor = mk(spark, tmp_path, "mor_stream", mor=True)
    q = run_stream(
        spark,
        src,
        mor,
        checkpoint_path=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert delta_entries(mor)  # epochs committed through the delta path

    cow = mk(spark, tmp_path, "cow_batch", mor=False)
    CDCRunner(cow).run(events.withColumn("batch_id", F.lit(0)))
    assert mor.state_hash() == cow.state_hash()


def test_mor_patch_ops_parity_with_cow(spark, tmp_path):
    """Sparse patch events onto a MOR table: the ladder reads the
    RESOLVED target (base shadowed by deltas), overlays per column, and
    writes the full resolved row as a new delta — identical final state
    to a COW apply of the same log, including an untouched column
    surviving two generations of deltas."""
    from dbp_etl_spark.cdc import CDCRunner

    def pev(rows):
        return local_frame(
            spark,
            rows, "url string, ts long, html binary, score double, op string, batch_id long"
        ).select(
            "url",
            F.timestamp_seconds("ts").alias("warc_ts"),
            "html",
            "score",
            "op",
            "batch_id",
        )

    log = [
        ("u1", 100, b"<p>a</p>", 1.5, "insert", 0),
        ("u2", 100, b"<p>b</p>", 2.5, "insert", 0),
        ("u1", 200, None, 9.9, "patch", 1),  # score only
        ("u1", 300, b"<p>a-v2</p>", None, "patch", 2),  # html only
        ("u2", 250, None, None, "delete", 2),
    ]
    mor = mk(spark, tmp_path, "mor", mor=True)
    mor = LakeTable.load(spark, mor.root).add_column("score", "double")
    CDCRunner(mor, patch_ops=True).run(pev(log))
    cow = mk(spark, tmp_path, "cow", mor=False).add_column("score", "double")
    CDCRunner(cow, patch_ops=True).run(pev(log))
    assert delta_entries(mor) and not delta_entries(cow)
    assert mor.state_hash() == cow.state_hash()
    s = {r["url"]: (r["text"], r["score"]) for r in mor.read().collect()}
    assert s == {"u1": ("a-v2", 9.9)}


def test_delete_keys_equality_fast_path(spark, tmp_path):
    """Equality deletes: tombstone deltas by key, no target read.
    Unconditional against current state; as_of_ts guards future late
    events; unknown keys are harmless; replay no-ops."""
    import datetime

    t = apply_all(spark, mk(spark, tmp_path, "t", mor=True), BATCHES[:1])
    t = t.refresh()
    keys = local_frame(spark, [("u2",), ("u3",), ("ghost",)], "url string")
    t = t.delete_keys(keys, datetime.datetime(2024, 1, 1), "eqdel-1")
    assert {r["url"] for r in t.read().collect()} == {"u1", "u4"}
    # the commit wrote only tombstone deltas (no base rewrite)
    last = [f for f in t.manifest["files"] if f.get("seq") == t.snapshot_id]
    assert last and all(f.get("delta") for f in last)
    # replay no-ops
    snap = t.snapshot_id
    t = t.delete_keys(keys, datetime.datetime(2024, 1, 1), "eqdel-1")
    assert t.snapshot_id == snap
    # a strictly newer event resurrects; an older one stays suppressed
    merge_batch(
        t,
        ev(
            spark,
            [
                ("u2", int(datetime.datetime(2024, 1, 2).timestamp()), b"<p>back</p>", "update"),
                ("u3", 50, b"<p>too-old</p>", "update"),
            ],
        ),
        "resurrect",
    )
    t = t.refresh()
    s = {r["url"] for r in t.read().collect()}
    assert "u2" in s and "u3" not in s
    # COW tables refuse the fast path
    cow = mk(spark, tmp_path, "cow", mor=False)
    with pytest.raises(ValueError, match="merge_on_read"):
        cow.delete_keys(keys, datetime.datetime(2024, 1, 1), "x")


def test_read_optimized_view_is_base_only(spark, tmp_path):
    """Hudi RO-vs-RT split: read_optimized scans base files only (the
    state as of the last compaction), the default read resolves deltas.
    After compaction the two converge."""
    t = apply_all(spark, mk(spark, tmp_path, "t", mor=True), BATCHES[:1])
    t = t.refresh()
    t = t.compact("fold-seed")
    merge_batch(t, ev(spark, BATCHES[1]), "churn")
    t = t.refresh()
    rt = {r["url"]: bytes(r["html"]) for r in t.read().collect()}
    ro = {r["url"]: bytes(r["html"]) for r in t.read(read_optimized=True).collect()}
    assert rt["u1"] == b"<p>one-v2</p>" and "u2" not in rt and "u5" in rt
    assert ro["u1"] == b"<p>one</p>" and "u2" in ro and "u5" not in ro  # stale view
    t = t.compact("fold-churn")
    ro2 = {r["url"]: bytes(r["html"]) for r in t.read(read_optimized=True).collect()}
    assert ro2 == rt


def test_mor_schema_evolution_lands_as_deltas(spark, tmp_path):
    """A batch carrying a new payload column on a MOR table: the
    add_column commit is metadata-only, the churn lands as deltas under
    the NEW schema version, and resolution projects old base files
    (null-filled) and new delta files by column id."""
    t = apply_all(spark, mk(spark, tmp_path, "t", mor=True), BATCHES[:1])
    t = t.refresh()
    batch = local_frame(
        spark,
        [("u1", 200, b"<p>one-v2</p>", 7.5, "update"), ("u9", 200, b"<p>nine</p>", 1.0, "insert")],
        "url string, ts long, html binary, rank double, op string",
    ).select("url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "rank", "op")
    merge_batch(t, batch, "evolve")
    t = t.refresh()
    assert "rank" in t.schema.names()
    rows = {r["url"]: r["rank"] for r in t.read().collect()}
    assert rows["u1"] == 7.5 and rows["u9"] == 1.0
    assert rows["u2"] is None and rows["u3"] is None  # base rows null-fill
    # the evolved churn is delta files, base files untouched
    last = [f for f in t.manifest["files"] if f.get("seq") == t.snapshot_id]
    assert last and all(f.get("delta") for f in last)
    # compaction folds across schema versions
    h = t.state_hash()
    t = t.compact("fold")
    assert not any(f.get("delta") for f in t.manifest["files"])
    assert t.state_hash() == h
