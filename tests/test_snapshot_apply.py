"""Snapshot-compare CDC mode: full dimension snapshot vs state, deletes
inferred from absent keys (reference metadata-load shape,
/root/reference/load/UpdateDBPBiblesTable.py:65-126)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbp_etl_spark.cdc import CDCRunner
from dbp_etl_spark.lake import LakeTable, TableSchema

from test_lake import PAGES, mk_rows

SNAP_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
    ]
)


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "dim"), TableSchema.from_struct(PAGES), key="url", num_buckets=8
    )


def snap_rows(spark, urls_payloads, base_ts=1700000000):
    """urls_payloads: list of (url, payload_str, ts_offset)."""
    import datetime

    rows = [
        (
            u,
            datetime.datetime.utcfromtimestamp(base_ts + off),
            f"<html><body><p>{p}</p></body></html>".encode(),
        )
        for u, p, off in urls_payloads
    ]
    return spark.createDataFrame(rows, SNAP_SCHEMA)


def test_snapshot_apply_full_diff(spark, table):
    r = CDCRunner(table)
    s1 = snap_rows(spark, [("u/a", "alpha", 0), ("u/b", "beta", 1), ("u/c", "gamma", 2)])
    res = r.apply_snapshot(s1, batch_id="snap1")
    assert res.counts.get("insert") == 3
    assert table.read().count() == 3

    # second snapshot: a gone (inferred delete), b unchanged, c new
    # payload, d new key
    s2 = snap_rows(spark, [("u/b", "beta", 1), ("u/c", "gamma2", 5), ("u/d", "delta", 6)])
    res = r.apply_snapshot(s2, batch_id="snap2")
    assert res.counts.get("delete") == 1
    assert res.counts.get("update") == 1
    assert res.counts.get("insert") == 1
    assert res.counts.get("noop") == 1
    state = {row["url"]: row for row in table.read().collect()}
    assert set(state) == {"u/b", "u/c", "u/d"}
    assert "gamma2" in state["u/c"]["text"]


def test_snapshot_apply_structurally_idempotent(spark, table):
    """The reference property: rerunning the same extract produces zero
    SQL. Same snapshot content under a NEW batch id => empty diff, no
    bucket rewritten; same batch id => ledger skip."""
    r = CDCRunner(table)
    s1 = snap_rows(spark, [("u/a", "alpha", 0), ("u/b", "beta", 1)])
    r.apply_snapshot(s1, batch_id="snap1")
    h = table.state_hash()
    files_before = sorted(f["path"] for f in table.manifest["files"])

    res = r.apply_snapshot(s1, batch_id="snap1_replayed")
    assert not res.dirty_buckets
    assert {k: v for k, v in res.counts.items() if k not in ("noop", "keep")} == {}
    assert table.state_hash() == h
    assert sorted(f["path"] for f in table.manifest["files"]) == files_before

    res = r.apply_snapshot(s1, batch_id="snap1")  # exactly-once
    assert res.skipped


def test_snapshot_value_driven_update_at_equal_ts(spark, table):
    """Snapshot compare is VALUE-driven: changed payload applies even at
    an identical warc_ts (the stream path's ts-tiebreak would not
    guarantee this)."""
    r = CDCRunner(table)
    r.apply_snapshot(snap_rows(spark, [("u/a", "old", 0)]), batch_id="s1")
    r.apply_snapshot(snap_rows(spark, [("u/a", "new", 0)]), batch_id="s2")  # same ts
    row = table.read().collect()[0]
    assert "new" in row["text"]


def test_snapshot_inferred_delete_guards_late_events(spark, table):
    """Inferred tombstones carry the replaced row's warc_ts: an older
    CDC event stays suppressed, a newer one resurrects — snapshot mode
    composes with the event-stream mode on the same table."""
    r = CDCRunner(table, salt_buckets=4)
    r.apply_snapshot(snap_rows(spark, [("u/a", "alpha", 100), ("u/b", "beta", 1)]), batch_id="s1")
    r.apply_snapshot(snap_rows(spark, [("u/b", "beta", 1)]), batch_id="s2")  # a deleted
    assert table.read().filter("url = 'u/a'").count() == 0

    def ev(ts_off, bid):
        return snap_rows(spark, [("u/a", "late", ts_off)]).select(
            "url", "warc_ts", "html", F.lit("update").alias("op"),
            F.lit(bid).cast("long").alias("batch_id"),
        )

    r.run(ev(50, 10))  # older than the deleted row's ts=100: suppressed
    assert table.read().filter("url = 'u/a'").count() == 0
    r.run(ev(200, 11))  # newer: resurrects
    assert table.read().filter("url = 'u/a'").count() == 1


def test_snapshot_dead_letters_malformed_rows(spark, table, tmp_path):
    import datetime

    r = CDCRunner(table, errors_path=str(tmp_path / "errors"))
    good = snap_rows(spark, [("u/a", "alpha", 0)])
    bad = spark.createDataFrame(
        [(None, datetime.datetime.utcfromtimestamp(1700000000), b"<p>x</p>")], SNAP_SCHEMA
    )
    res = r.apply_snapshot(good.unionByName(bad), batch_id="s1")
    assert table.read().count() == 1
    errs = r.errors()
    assert errs is not None and errs.filter("message = 'null_url'").count() == 1


def test_snapshot_schema_evolution_extra_columns(spark, table):
    """Extra snapshot columns evolve the table schema, same as the
    stream path."""
    r = CDCRunner(table)
    s1 = snap_rows(spark, [("u/a", "alpha", 0)]).withColumn("mirror_of", F.lit("u/z"))
    r.apply_snapshot(s1, batch_id="s1")
    assert "mirror_of" in table.schema.names()
    assert table.read().collect()[0]["mirror_of"] == "u/z"


@pytest.mark.parametrize("merge_on_read", [False, True], ids=["cow", "mor"])
def test_snapshot_lineage_reconciles_with_ledger(spark, tmp_path, merge_on_read):
    """Snapshot-compare lineage side outputs agree with the ledger's
    counts, on copy-on-write and merge-on-read tables alike."""
    from dbp_etl_spark.lake.integrity import state_checks

    t = LakeTable.create(
        spark,
        str(tmp_path / "dim"),
        TableSchema.from_struct(PAGES),
        key="url",
        num_buckets=8,
        merge_on_read=merge_on_read,
    )
    r = CDCRunner(t, lineage_path=str(tmp_path / "lineage"))
    r.apply_snapshot(
        snap_rows(spark, [("u/a", "alpha", 0), ("u/b", "beta", 1), ("u/c", "gamma", 2)]),
        batch_id="snap1",
    )
    res = r.apply_snapshot(
        snap_rows(spark, [("u/b", "beta", 1), ("u/c", "gamma2", 5), ("u/d", "delta", 6)]),
        batch_id="snap2",
    )
    assert (res.counts["insert"], res.counts["update"], res.counts["delete"]) == (1, 1, 1)
    chk = {x["check"]: x["n_violations"] for x in state_checks(t, r.lineage()).collect()}
    assert chk["lineage_ledger_mismatch"] == 0
    assert sum(chk.values()) == 0
    lin = r.lineage().filter(F.col("batch_id") == "snap2").collect()
    assert {x["action"] for x in lin} >= {"insert", "update", "delete"}
