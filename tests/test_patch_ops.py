"""Sparse patch events (op='patch'; NULL payload column = unchanged) —
the engine's form of the reference's per-column changesets
(/root/reference/load/SQLBatchExec.py:118-129)."""

import pytest
from pyspark.sql import functions as F

from dbp_etl_spark.cdc import CDCRunner, merge_batch
from dbp_etl_spark.lake import LakeTable, TableSchema
from dbp_etl_spark.session import local_frame

from test_merge import PAGES, mk_table


def pev(spark, rows):
    """rows: (url, ts_sec, html|None, score|None, op, batch)."""
    return local_frame(
        spark,
        rows, "url string, ts long, html binary, score double, op string, batch_id long"
    ).select(
        "url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "score", "op", "batch_id"
    )


def state(table):
    return {
        r["url"]: (r["text"], r["score"], r["warc_ts"].timestamp())
        for r in table.read().collect()
    }


def test_patch_preserves_untouched_columns(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    r = CDCRunner(t, patch_ops=True)
    r.run(pev(spark, [("u1", 100, b"<p>body</p>", 1.5, "insert", 0)]))
    # patch touches only score: html/text must survive, ts advances
    r.run(pev(spark, [("u1", 200, None, 9.9, "patch", 1)]))
    s = state(t)
    assert s["u1"] == ("body", 9.9, 200.0)

    # patch touches only html: score must survive, text re-extracted
    r.run(pev(spark, [("u1", 300, b"<p>body-v2</p>", None, "patch", 2)]))
    s = state(t)
    assert s["u1"] == ("body-v2", 9.9, 300.0)


def test_patch_never_inserts_or_resurrects(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    r = CDCRunner(t, patch_ops=True)
    # patch on an absent key: nothing created
    r.run(pev(spark, [("ghost", 100, None, 1.0, "patch", 0)]))
    assert t.read().count() == 0
    # patch on a tombstone: stays dead
    r.run(
        pev(
            spark,
            [
                ("u1", 100, b"<p>a</p>", 1.0, "insert", 1),
                ("u1", 200, None, None, "delete", 2),
            ],
        )
    )
    r.run(pev(spark, [("u1", 300, None, 5.0, "patch", 3)]))
    assert t.read().filter("url = 'u1'").count() == 0


def test_patch_ts_guards(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    r = CDCRunner(t, patch_ops=True)
    r.run(pev(spark, [("u1", 200, b"<p>a</p>", 1.0, "insert", 0)]))
    # late patch (ts < row): no-op
    r.run(pev(spark, [("u1", 100, None, 7.0, "patch", 1)]))
    assert state(t)["u1"] == ("a", 1.0, 200.0)
    # equal-ts patch: no-op (full event wins every tie)
    r.run(pev(spark, [("u1", 200, None, 7.0, "patch", 2)]))
    assert state(t)["u1"] == ("a", 1.0, 200.0)


def test_patches_compose_within_a_batch(spark, tmp_path):
    """Two patches to different columns in ONE batch both apply (the
    fold), matching what per-event apply would do."""
    t = mk_table(spark, tmp_path)
    r = CDCRunner(t, patch_ops=True)
    r.run(pev(spark, [("u1", 100, b"<p>a</p>", 1.0, "insert", 0)]))
    r.run(
        pev(
            spark,
            [
                ("u1", 200, None, 5.0, "patch", 1),
                ("u1", 300, b"<p>b</p>", None, "patch", 1),
            ],
        )
    )
    assert state(t)["u1"] == ("b", 5.0, 300.0)


def test_patch_batch_split_invariance(spark, tmp_path):
    """The flagship guarantee extended to patches: the same log applied
    as one batch, as per-batch merges, or fused, yields byte-identical
    state."""
    rows = [
        ("u1", 100, b"<p>a1</p>", 1.0, "insert", 0),
        ("u2", 110, b"<p>b1</p>", 2.0, "insert", 0),
        ("u3", 120, b"<p>c1</p>", 3.0, "insert", 0),
        ("u1", 200, None, 5.0, "patch", 1),
        ("u2", 210, b"<p>b2</p>", None, "patch", 1),
        ("u3", 220, None, None, "delete", 1),
        ("u1", 300, b"<p>a2</p>", None, "patch", 2),
        ("u3", 310, None, 9.0, "patch", 2),  # patch on tombstone: no-op
        ("u2", 320, b"<p>b3</p>", 8.0, "update", 2),
        ("u2", 315, None, 4.0, "patch", 3),  # late patch: no-op
        ("u4", 330, None, 1.0, "patch", 3),  # patch on absent key: no-op
        ("u1", 340, None, 6.5, "patch", 3),
    ]
    log = pev(spark, rows)
    t_one = mk_table(spark, tmp_path, "one")
    t_many = mk_table(spark, tmp_path, "many")
    t_fused = mk_table(spark, tmp_path, "fused")
    CDCRunner(t_one, patch_ops=True).run(log.withColumn("batch_id", F.lit(0)))
    CDCRunner(t_many, patch_ops=True).run(log)
    CDCRunner(t_fused, patch_ops=True).run(log, fuse=4)
    assert t_one.state_hash() == t_many.state_hash() == t_fused.state_hash()
    s = state(t_one)
    assert set(s) == {"u1", "u2"}
    assert s["u1"] == ("a2", 6.5, 340.0)
    assert s["u2"] == ("b3", 8.0, 320.0)


def test_patch_rejected_without_flag(spark, tmp_path):
    t = mk_table(spark, tmp_path)
    res = merge_batch(t, pev(spark, [("u1", 100, None, 1.0, "patch", 0)]), "b0")
    dead = res.deadletter.collect()
    assert len(dead) == 1 and dead[0]["_dl_reason"] == "bad_op"


def test_patch_lineage_reconciles(spark, tmp_path):
    from dbp_etl_spark.lake.integrity import state_checks

    t = mk_table(spark, tmp_path)
    r = CDCRunner(t, lineage_path=str(tmp_path / "lin"), patch_ops=True)
    r.run(
        pev(
            spark,
            [
                ("u1", 100, b"<p>a</p>", 1.0, "insert", 0),
                ("u1", 200, None, 2.0, "patch", 1),
            ],
        )
    )
    chk = {x["check"]: x["n_violations"] for x in state_checks(t, r.lineage()).collect()}
    assert chk["lineage_ledger_mismatch"] == 0
    acts = {x["action"] for x in r.lineage().collect()}
    assert "patch" in acts


def test_late_full_event_with_newer_patch_in_same_batch(spark, tmp_path):
    """A batch holding a LATE full update plus a newer patch must not
    resurrect the stale full payload: the full part loses to table
    state, the patch still applies column-wise. Per-batch, one-batch
    and fused applies all agree (review r4 finding #1)."""

    def run(split):
        t = mk_table(spark, tmp_path / f"s{split}")
        r = CDCRunner(t, patch_ops=True)
        seed = [("u1", 200, b"<p>current</p>", 2.0, "insert", 0)]
        mix = [
            ("u1", 150, b"<p>stale</p>", 3.0, "update", 1),  # late vs table
            ("u1", 300, None, 9.0, "patch", 2),  # applies
        ]
        if split == "per_batch":
            for i, ev in enumerate(seed + mix):
                r.run(pev(spark, [ev]))
        elif split == "fused":
            r.run(pev(spark, seed + mix), fuse=3)
        else:  # seed, then one mixed batch
            r.run(pev(spark, seed))
            r.run(pev(spark, [(u, ts, h, sc, op, 1) for (u, ts, h, sc, op, _b) in mix]))
        return state(t)

    expect = {"u1": ("current", 9.0, 300.0)}  # html kept, score patched
    assert run("mixed") == expect
    assert run("per_batch") == expect
    assert run("fused") == expect


def test_late_delete_with_newer_patch_in_same_batch(spark, tmp_path):
    """A late delete in the same batch as a newer patch: the delete is
    a no-op, the patch must still apply (old compose dropped it)."""

    def run(tag, as_one):
        t = mk_table(spark, tmp_path / tag)
        r = CDCRunner(t, patch_ops=True)
        r.run(pev(spark, [("u1", 200, b"<p>keep</p>", 1.0, "insert", 0)]))
        mix = [
            ("u1", 150, None, None, "delete", 1),  # late: no-op
            ("u1", 300, None, 8.0, "patch", 1 if as_one else 2),
        ]
        if as_one:
            r.run(pev(spark, mix))
        else:
            for ev in mix:
                r.run(pev(spark, [ev]))
        return state(t)

    expect = {"u1": ("keep", 8.0, 300.0)}
    assert run("one", True) == expect
    assert run("per", False) == expect


def test_applied_delete_still_discards_patches(spark, tmp_path):
    """A delete that APPLIES (newer than the row) kills same-batch
    patches that are newer than the delete — a patch never resurrects."""
    t = mk_table(spark, tmp_path)
    r = CDCRunner(t, patch_ops=True)
    r.run(pev(spark, [("u1", 100, b"<p>a</p>", 1.0, "insert", 0)]))
    r.run(
        pev(
            spark,
            [
                ("u1", 200, None, None, "delete", 1),
                ("u1", 300, None, 9.0, "patch", 1),
            ],
        )
    )
    assert t.read().filter("url = 'u1'").count() == 0
    # the tombstone sits at the DELETE's ts (200), NOT the discarded
    # patch's (300): an event at 150 stays suppressed, one at 250
    # legitimately resurrects
    r.run(pev(spark, [("u1", 150, b"<p>older</p>", 1.0, "update", 2)]))
    assert t.read().filter("url = 'u1'").count() == 0
    r.run(pev(spark, [("u1", 250, b"<p>back</p>", 1.0, "update", 3)]))
    assert state(t)["u1"] == ("back", 1.0, 250.0)


def test_per_column_patch_lateness(spark, tmp_path):
    """Patches straddling the table row's ts apply PER COLUMN: a folded
    patch pair (score@150, html@300) against a row@200 must take only
    the html — folding both to ts300 would smuggle in the late score."""

    def run(tag, as_one):
        t = mk_table(spark, tmp_path / tag)
        r = CDCRunner(t, patch_ops=True)
        r.run(pev(spark, [("u1", 200, b"<p>row</p>", 5.0, "insert", 0)]))
        mix = [
            ("u1", 150, None, 7.7, "patch", 1),  # late for score
            ("u1", 300, b"<p>new</p>", None, "patch", 1 if as_one else 2),
        ]
        if as_one:
            r.run(pev(spark, mix))
        else:
            for ev in mix:
                r.run(pev(spark, [ev]))
        return state(t)

    expect = {"u1": ("new", 5.0, 300.0)}  # score keeps table value
    assert run("one", True) == expect
    assert run("per", False) == expect
