"""Incremental view maintenance from the change-data feed.

Consumes ``LakeTable.read_changes(include_pre=True)`` to keep a derived
group-by rollup in sync with a source table WITHOUT rescanning it:
inserts and update-postimages add their contribution, deletes and
update-preimages retract theirs — classic delta-maintenance of an
algebraic aggregate (count/sum are self-maintainable; avg = sum/count).

Reference analog: the reference recomputes dependent rollup tables
after each load inside the same controller pass
(/root/reference/load/DBPLoadController.py:126-140 drives dependent
table updates; /root/reference/load/CompleteCheck.py:66-117 then
re-reads full tables to validate). This operator replaces the re-read
with a churn-proportional delta apply.

Exactly-once: derived state is versioned BY SOURCE SNAPSHOT — refresh
writes ``v{to_snapshot}`` under the state dir and swings a VERSION
pointer; a replayed window sees the version already present and
no-ops. Cost per refresh scales with the churn between snapshots (the
CDF scans only dirty buckets), plus a join against the (small) derived
state.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbp_etl_spark.session import local_frame


def rollup_delta(changes: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """Per-group (d_n, d_sum) contribution of a change feed.

    insert / update_post rows contribute +1/+value; delete / update_pre
    rows contribute -1/-value. One shuffle, keyed by the group — never
    by the source table.
    """
    sign = F.when(F.col("_change_type").isin("insert", "update_post"), F.lit(1)).otherwise(
        F.lit(-1)
    )
    return changes.groupBy(*group_cols).agg(
        F.sum(sign).cast("long").alias("d_n"),
        F.sum(sign * F.coalesce(F.col(value_col), F.lit(0.0))).alias("d_sum"),
    )


class IncrementalRollup:
    """A maintained ``group -> (n, total)`` rollup over a LakeTable.

    ``refresh()`` advances the rollup from its last-applied source
    snapshot to the source head by applying the CDF delta; the result
    is identical to a full recompute (tested), at churn cost.
    """

    def __init__(self, source, state_dir: str, group_cols: list[str], value_col: str):
        self.source = source
        self.state_dir = state_dir
        self.group_cols = list(group_cols)
        self.value_col = value_col
        os.makedirs(state_dir, exist_ok=True)

    # -- versioned state ------------------------------------------------
    def _version_path(self) -> str:
        return os.path.join(self.state_dir, "VERSION")

    def last_applied_snapshot(self) -> int | None:
        try:
            with open(self._version_path()) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return None

    def _state_path(self, snap: int) -> str:
        return os.path.join(self.state_dir, f"v{snap}")

    def read(self) -> DataFrame:
        snap = self.last_applied_snapshot()
        spark = self.source.spark
        if snap is None:
            schema = ", ".join(
                [f"{c} string" for c in self.group_cols] + ["n long", "total double"]
            )
            return local_frame(spark, [], schema)
        return spark.read.parquet(self._state_path(snap))

    # -- maintenance ----------------------------------------------------
    def refresh(self) -> int:
        """Apply the change feed from the last applied source snapshot
        to the source head. Returns the new snapshot id. Idempotent: a
        window whose target version already exists is adopted, not
        recomputed (crash-safe: state write precedes the pointer
        swing, exactly like the lake's own commit)."""
        src = self.source.refresh()
        self.source = src
        to_snap = src.snapshot_id
        last = self.last_applied_snapshot()
        if last == to_snap:
            return to_snap
        target = self._state_path(to_snap)
        if not os.path.exists(os.path.join(target, "_SUCCESS")):
            if last is None:
                # bootstrap: one full aggregation of current state
                new_state = src.read().groupBy(*self.group_cols).agg(
                    F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum(F.coalesce(F.col(self.value_col), F.lit(0.0))).alias("total"),
                )
            else:
                delta = rollup_delta(
                    src.read_changes(last, to_snap, include_pre=True),
                    self.group_cols,
                    self.value_col,
                )
                cur = self.read()
                j = cur.join(delta, self.group_cols, "full_outer")
                new_state = j.select(
                    *self.group_cols,
                    (F.coalesce("n", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
                    .cast("long")
                    .alias("n"),
                    (
                        F.coalesce("total", F.lit(0.0)) + F.coalesce("d_sum", F.lit(0.0))
                    ).alias("total"),
                ).filter(F.col("n") > 0)
            new_state.write.mode("overwrite").parquet(target)
        with open(self._version_path(), "w") as f:
            f.write(str(to_snap))
        # retain only the live version (the pointer owns durability)
        for name in os.listdir(self.state_dir):
            if name.startswith("v") and name != f"v{to_snap}":
                shutil.rmtree(os.path.join(self.state_dir, name), ignore_errors=True)
        return to_snap
