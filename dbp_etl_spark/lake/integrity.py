"""Final-state invariant checks a user can point at any table.

Reference analog: the post-load integrity queries of
/root/reference/load/CompleteCheck.py:66-117 and
/root/reference/load/DatabaseCheck.py:14-60 — after a run, assert the
state is internally consistent instead of trusting the pipeline.

Checks (each one row ``(check, n_violations)``; all lazy — the whole
report is ONE Spark job of unioned 1-row aggregates):

* ``null_key``                 — visible rows with a NULL merge key
* ``dup_visible_key``          — keys with more than one visible row
* ``tombstone_supersedes_visible`` — a visible row whose key also has a
  tombstone at ``warc_ts`` >= the row's (the MERGE late-event guard
  promises this never happens)
* ``lineage_ledger_mismatch``  — (when a lineage DataFrame is given)
  per-(batch, action) sums in the lineage side-output disagree with
  the counts the commit ledger recorded in the manifest. Two
  independently-written artifacts must agree: both come from the one
  per-bucket lineage pass of merge_batch / snapshot_batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbp_etl_spark.session import local_frame

MUTATING_ACTIONS = ("insert", "update", "delete", "patch")


def _counted(tag: str, df: DataFrame) -> DataFrame:
    return df.agg(
        F.lit(tag).alias("check"), F.count(F.lit(1)).cast("long").alias("n_violations")
    )


def frame_checks(
    visible: DataFrame,
    key: str,
    ts_col: str,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Structural checks over an arbitrary state DataFrame.

    ``tombstones``: (key, ts) rows of deletion markers; when given, a
    visible row superseded by an equal-or-newer tombstone of its key is
    a violation.
    """
    nk = _counted("null_key", visible.filter(F.col(key).isNull()))
    dup = _counted(
        "dup_visible_key",
        visible.groupBy(key).agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1),
    )
    out = nk.union(dup)
    if tombstones is not None:
        t = tombstones.select(F.col(key).alias("_tk"), F.col(ts_col).alias("_tts"))
        sup = visible.join(
            t,
            (visible[key] == t["_tk"]) & (t["_tts"] >= visible[ts_col]),
            "left_semi",
        )
        out = out.union(_counted("tombstone_supersedes_visible", sup))
    return out


def state_checks(table, lineage: DataFrame | None = None) -> DataFrame:
    """Run every invariant over a LakeTable's current state.

    Returns a (check, n_violations) DataFrame; a healthy table is all
    zeros. ``lineage``: the runner's lineage parquet for the ledger
    reconciliation check.
    """
    key = table.key
    visible = table.read()
    full = table.read(include_deleted=True)
    tomb = full.filter(F.col("_deleted")).select(key, "warc_ts")
    out = frame_checks(visible, key, "warc_ts", tombstones=tomb)

    if lineage is not None:
        ledger = table.committed_batches()
        # fused group commits record the GROUP's counts under every
        # member id plus the EXACT label the runner used for the
        # group's lineage rows ("fused_group", written by merge_batch) —
        # key the expected side by that label so the two independently
        # written artifacts join precisely. De-dup members via the
        # label itself (all members carry identical entries).
        seen_labels: set = set()
        exp_rows = []
        for b, ent in ledger.items():
            label = ent.get("fused_group") or str(b)
            if label in seen_labels:
                continue
            seen_labels.add(label)
            counts = ent.get("counts") or {}
            exp_rows.extend(
                (label, a, int(n))
                for a, n in counts.items()
                if a in MUTATING_ACTIONS
            )
        spark = table.spark
        exp = local_frame(spark, exp_rows, "batch_id string, action string, expected long")
        act = (
            lineage.filter(F.col("action").isin(*MUTATING_ACTIONS))
            .groupBy("batch_id", "action")
            .agg(F.sum("n").alias("actual"))
        )
        mism = (
            exp.join(act, ["batch_id", "action"], "full_outer")
            .withColumn("_e", F.coalesce("expected", F.lit(0)))
            .withColumn("_a", F.coalesce("actual", F.lit(0)))
            .filter(F.col("_e") != F.col("_a"))
        )
        out = out.union(_counted("lineage_ledger_mismatch", mism))
    return out
