"""MERGE INTO for the lake table: changeset planning + copy-on-write apply.

This is the Spark re-expression of the reference's CDC heart — the
read-state → diff → apply loop in
/root/reference/load/UpdateDBPFilesetTables.py:306-468 (audio/text/video
handlers), /root/reference/load/UpdateDBPTextFilesets.py:103-141
(verses) and /root/reference/load/UpdateDBPBooksTable.py:309-377
(books): existing rows are keyed and probed by input rows; matched →
column-diff update, unmatched input → insert, explicit tombstones →
delete. Differences from the reference, by design:

* deletes are explicit events (``op='delete'``) instead of
  leftover-key inference — the clean generalization (SURVEY §7);
* a monotonic guard ``s.warc_ts >= t.warc_ts`` makes late/out-of-order
  events no-ops (the reference applies batches serially per key,
  /root/reference/load/DBPLoadController.py:118-141);
* the column-diff guard (update only when the payload actually
  changed, reference /root/reference/load/UpdateDBPFilesetTables.py:350-375)
  additionally lets the transform stage REUSE previously extracted
  text for touch-only updates — incremental compute.

Physical shape (the 100 TB story): the batch's keys select candidate
buckets; only those buckets' files are scanned (file-level pruning);
the full-outer join runs bucket-partitioned with AQE skew handling;
only buckets with at least one real change are rewritten; everything
else carries forward by manifest reference. The write has ONE
exchange: the html->text transform runs on the changed rows in the
persisted join's partitions, coalesced to one wave of tasks, and the
union of carried rows, tombstones and transformed rows is clustered by
bucket once, by the lake write's own ``repartition(n, "_bucket")``
with ``n`` = min(dirty buckets, cores): one wave of write tasks. Each
dirty bucket gains one data file per commit, so the next merge's
bucket read lists few paths.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbp_etl_spark.cdc.dedup import cdc_order, dedup_latest, dedup_latest_cdc
from dbp_etl_spark.functions.extract import extract_and_lang_udf
from dbp_etl_spark.lake.table import LakeTable, changelog_partitions

VALID_OPS = ("insert", "update", "delete")

# core change-event columns; anything else in the batch is treated as a
# schema-evolution payload column
CORE_COLS = ("url", "warc_ts", "html", "op", "batch_id")


@dataclass
class MergeResult:
    batch_id: object
    skipped: bool = False
    counts: dict = field(default_factory=dict)
    dirty_buckets: list = field(default_factory=list)
    lineage: list = field(default_factory=list)  # per-bucket op counts
    snapshot_id: int | None = None
    max_warc_ts: str | None = None
    deadletter: DataFrame | None = None


def default_transform(df: DataFrame) -> DataFrame:
    """html -> (text, lang) in ONE Arrow round trip.

    A single struct-returning pandas UDF computes both columns and does
    the changed/unchanged branching inside the vectorized batch. This
    matters: a UDF referenced from several expressions (or nested under
    ``when``) gets re-evaluated per reference after projection collapse
    — measured 3×+ slower than the combined form. Rows whose payload
    bytes did not change reuse the previously extracted text/lang
    (incremental compute; reference column-diff guard analog,
    /root/reference/load/UpdateDBPFilesetTables.py:350-375).

    Payload-only tables (html without text/lang columns — e.g. an SCD2
    side table or raw-bytes corpus) have nothing to derive into: the
    merge then provides no _old_text/_old_lang context and the
    transform degrades to identity instead of referencing columns the
    schema does not carry."""
    if "_old_text" not in df.columns or "_old_lang" not in df.columns:
        return df
    ex = extract_and_lang_udf(
        F.col("html"), F.col("_payload_changed"), F.col("_old_text"), F.col("_old_lang")
    )
    return df.withColumn("_ex", ex).withColumn("text", F.col("_ex.text")).withColumn(
        "lang", F.col("_ex.lang")
    ).drop("_ex")


def split_deadletter(batch: DataFrame, patch_ops: bool = False) -> tuple[DataFrame, DataFrame]:
    """Route malformed events to the dead-letter side-output.

    Reference analog: quarantine CSV routing,
    /root/reference/load/FilenameReducer.py:44-70 — bad rows are set
    aside, the batch still commits.

    ``patch_ops``: additionally accept ``op='patch'`` events, whose
    NULL payload columns mean "unchanged" (so a NULL html is valid).
    """
    ops = (*VALID_OPS, "patch") if patch_ops else VALID_OPS
    payload_exempt = ("delete", "patch") if patch_ops else ("delete",)
    reason = (
        F.when(F.col("url").isNull(), "null_url")
        .when(F.col("op").isNull() | ~F.col("op").isin(*ops), "bad_op")
        .when(F.col("warc_ts").isNull(), "null_ts")
        .when(~F.col("op").isin(*payload_exempt) & F.col("html").isNull(), "null_payload")
    )
    tagged = batch.withColumn("_dl_reason", reason)
    valid = tagged.filter(F.col("_dl_reason").isNull()).drop("_dl_reason")
    dead = tagged.filter(F.col("_dl_reason").isNotNull())
    return valid, dead


# actions that change a bucket's visible contents: a bucket with none
# of them is clean and carries forward by manifest reference
_DIRTY_ACTIONS = ("insert", "update", "delete", "patch")


def _per_bucket_lineage(j: DataFrame, evt_ts: Column):
    """One aggregation pass over the joined changeset: per-bucket op
    counts (lineage), total counts, watermark, and the dirty-bucket
    set."""
    counts: dict[str, int] = {}
    lineage_rows: list[dict] = []
    max_ts = None
    per_bucket = (
        j.groupBy("_b", "_action")
        .agg(F.count(F.lit(1)).alias("n"), F.max(evt_ts).alias("max_ts"))
        .collect()
    )
    for r in per_bucket:
        counts[r["_action"]] = counts.get(r["_action"], 0) + r["n"]
        lineage_rows.append({"bucket": r["_b"], "action": r["_action"], "n": r["n"]})
        if r["max_ts"] is not None and (max_ts is None or r["max_ts"] > max_ts):
            max_ts = r["max_ts"]
    dirty = sorted(
        {r["bucket"] for r in lineage_rows if r["action"] in _DIRTY_ACTIONS}
    )
    return counts, lineage_rows, max_ts, dirty


def _evolve_schema(table: LakeTable, valid: DataFrame, extra_cols: list[str]):
    """Schema evolution driven by the batch: add every extra payload
    column the table does not carry yet. Returns the (possibly new)
    table handle and its column names."""
    schema_names = table.schema.names()
    for c in extra_cols:
        if c not in schema_names:
            table = table.add_column(c, _lake_type(valid.schema[c].dataType.simpleString()))
    return table, table.schema.names()


def _commit_empty(table: LakeTable, res: MergeResult, summary: dict, pre_commit) -> MergeResult:
    """Ledger-only commit: records the batch (exactly-once) and its
    summary without rewriting any bucket."""
    empty = table.read().limit(0)
    if pre_commit is not None:
        pre_commit(res)
    table.overwrite_buckets(empty, [], res.batch_id, summary=summary)
    res.snapshot_id = table.snapshot_id
    return res


def _apply_changeset(
    table: LakeTable,
    j: DataFrame,
    res: MergeResult,
    pre_commit,
    evt_ts: Column,
    summary_base: dict,
    candidates: list[int] | None,
    **assemble_kw,
) -> MergeResult:
    """The apply tail shared by merge_batch and snapshot_batch.

    ``j`` is the action-tagged join (``_action``, ``_b`` and the
    ``_t_*`` target columns). It is persisted, because both the lineage
    pass and the write job's three branches (carried / tombstones /
    changed) scan it. The lineage pass yields the counts, the watermark
    (max of ``evt_ts``) and the dirty buckets. With no dirty bucket the
    batch commits ledger-only. Otherwise the dirty buckets' new state is
    written and committed in one manifest swing: copy-on-write rewrites
    them whole, merge-on-read appends only the churn as delta files.
    The new state reaches the writer unclustered; the writer's bucket
    repartition is the write's only exchange.

    ``res`` carries the batch id and dead letters in and is filled in
    along the way; ``pre_commit`` sees it just before the commit.
    ``summary_base`` heads the manifest summary, ``candidates`` (when
    given) is recorded after it. ``assemble_kw`` are the caller's
    ``_assemble_new_state`` arguments: its columns, transform and the
    expressions that differ between the event and snapshot paths."""
    j = j.persist()
    try:
        res.counts, res.lineage, max_ts, dirty = _per_bucket_lineage(j, evt_ts)
        res.max_warc_ts = max_ts.isoformat() if max_ts else None
        summary = {
            **summary_base,
            "counts": res.counts,
            "max_warc_ts": res.max_warc_ts,
            "dirty_buckets": dirty,
        }
        if candidates is not None:
            summary["candidate_buckets"] = candidates
        if not dirty:
            return _commit_empty(table, res, summary, pre_commit)

        mor = bool(table.manifest.get("merge_on_read"))
        cl_enabled = bool(table.manifest.get("changelog")) and table._wap_id is None
        new_state, changelog_df, cl_persisted = _assemble_new_state(
            table,
            j.filter(F.col("_b").isin([int(b) for b in dirty])),
            include_carried=not mor,
            changelog=cl_enabled,
            **assemble_kw,
        )
        if pre_commit is not None:
            pre_commit(res)
        # merge-on-read: commit the churn as delta files (O(churn)
        # bytes written); copy-on-write: rewrite the dirty buckets
        # whole (O(dirty-bucket bytes)). Same new_state pipeline up to
        # the carried branch; same atomic ledger-keyed commit.
        writer = table.write_deltas if mor else table.overwrite_buckets
        try:
            writer(
                new_state,
                dirty,
                res.batch_id,
                summary=summary,
                changelog_df=changelog_df,
            )
        finally:
            if cl_persisted is not None:
                cl_persisted.unpersist()
        res.dirty_buckets = dirty
        res.snapshot_id = table.snapshot_id
        return res
    finally:
        j.unpersist()


def _assemble_new_state(
    table: LakeTable,
    in_dirty: DataFrame,
    schema_names: list[str],
    extra_cols: list[str],
    transform,
    carried_actions: tuple,
    tombstone_ts: Column,
    changed_actions: tuple,
    new_ts: Column,
    new_html: Column,
    new_payload,
    include_carried: bool = True,
    changelog: bool = False,
) -> tuple:
    """Build the complete new contents of the dirty buckets from the
    action-tagged join: carried rows by reference, ts-guarded
    tombstones, and changed rows routed through the transform. The
    transform runs on the changed rows where the persisted join holds
    them, coalesced (no exchange) to one wave of tasks; the three
    branches are unioned unclustered, and the write's own
    ``repartition(n, "_bucket")`` (``LakeTable._write_data``) is the one
    exchange that clusters them by bucket, one write task per dirty
    bucket up to one per core. The
    event-stream and snapshot-compare paths differ only in the
    expressions they pass in (which actions carry, which instant
    guards a tombstone, how a changed column resolves).

    ``include_carried=False`` — the merge-on-read write shape: emit
    ONLY the changed rows and tombstones (the delta file contents);
    unchanged rows survive as base-file bytes that were never read.

    Returns ``(new_state, changelog_df, persisted)``. With
    ``changelog=True`` the changed rows additionally carry their action
    and pre-image THROUGH the transform (zero extra scans — the
    transform contract requires passing unrecognized columns through,
    which every shipped transform satisfies), get persisted so the
    state write and the changelog write evaluate the Arrow UDF once,
    and come back as ``changelog_df`` — this commit's row-level feed
    (insert/update_post with ``_pre`` struct, delete with the pre-image
    in the regular columns). The caller unpersists ``persisted`` after
    the commit."""
    key = table.key
    carried = in_dirty.filter(F.col("_action").isin(*carried_actions)).select(
        F.col(key),
        *[F.col(f"_t_{c}").alias(c) for c in schema_names if c != key],
    )
    cur_struct = table.schema.to_struct()
    tombstones = in_dirty.filter(F.col("_action") == "delete").select(
        F.col(key),
        tombstone_ts.alias("warc_ts"),
        F.lit(True).alias("_deleted"),
        *[
            F.lit(None).cast(cur_struct[c].dataType).alias(c)
            for c in schema_names
            if c not in (key, "warc_ts", "_deleted")
        ],
    )
    # transform context columns exist only where the schema carries
    # their source: a payload-only table (no extracted text/lang — e.g.
    # an embedding corpus merged with an identity transform) must not
    # reference the missing _t_* columns
    ctx = []
    if "html" in schema_names:
        ctx.append((~new_html.eqNullSafe(F.col("_t_html"))).alias("_payload_changed"))
    else:
        ctx.append(F.lit(True).alias("_payload_changed"))
    if "text" in schema_names:
        ctx.append(F.col("_t_text").alias("_old_text"))
    if "lang" in schema_names:
        ctx.append(F.col("_t_lang").alias("_old_lang"))
    cl_cols = [c for c in schema_names if c not in (key, "_deleted")]
    cl_extra = []
    if changelog:
        cl_extra = [
            F.col("_action").alias("_cl_action"),
            F.struct(
                *[F.col(f"_t_{c}").alias(c) for c in cl_cols]
            ).alias("_pre"),
        ]
    changed = in_dirty.filter(F.col("_action").isin(*changed_actions)).select(
        F.col(key),
        new_ts.alias("warc_ts"),
        new_html.alias("html"),
        *ctx,
        F.lit(False).alias("_deleted"),
        *[
            new_payload(c).alias(c)
            for c in schema_names
            if c not in (key, "warc_ts", "html", "text", "lang", "_deleted")
        ],
        *cl_extra,
    )
    # an Arrow UDF task costs about 0.1 s of Python start-up even on an
    # empty partition, and the persisted join keeps its shuffle
    # partition count: narrow the changed rows to one wave of tasks
    # (coalesce, no exchange) before the transform. The deduplicated
    # changed rows spread evenly over the join's key-hashed
    # partitions, so one wave leaves no straggler tail on large
    # batches either.
    changed = transform(
        changed.coalesce(table.spark.sparkContext.defaultParallelism)
    )
    persisted = None
    changelog_df = None
    if changelog:
        missing = {"_cl_action", "_pre"} - set(changed.columns)
        if missing:
            raise ValueError(
                f"transform dropped pass-through column(s) {sorted(missing)}; "
                "changelog-enabled tables require transforms to preserve "
                "columns they do not recognize"
            )
        persisted = changed.select(*schema_names, "_cl_action", "_pre").persist()
        changed = persisted.select(*schema_names)
        pre_type = persisted.schema["_pre"].dataType
        changed_cl = persisted.select(
            F.col(key),
            *[F.col(c) for c in cl_cols],
            F.col("_pre"),
            F.when(F.col("_cl_action") == "insert", F.lit("insert"))
            .otherwise(F.lit("update_post"))
            .alias("_change_type"),
        )
        t_dead = F.coalesce(F.col("_t__deleted"), F.lit(False))
        # only a LIVE target's delete changes visible state (absent-key
        # tombstones and re-tombstones of dead rows do not)
        deleted_cl = in_dirty.filter(
            (F.col("_action") == "delete")
            & F.col("_t_warc_ts").isNotNull()
            & ~t_dead
        ).select(
            F.col(key),
            *[F.col(f"_t_{c}").alias(c) for c in cl_cols],
            F.lit(None).cast(pre_type).alias("_pre"),
            F.lit("delete").alias("_change_type"),
        )
        # both slices read persisted rows, so narrowing them to the
        # changelog writer's file-count bound loses no upstream
        # parallelism and spares the writer its bounding shuffle
        changelog_df = changed_cl.unionByName(deleted_cl).coalesce(
            changelog_partitions(table.spark)
        )
    else:
        changed = changed.select(*schema_names)
    new_state = tombstones.select(*schema_names).unionByName(changed)
    if include_carried:
        new_state = carried.select(*schema_names).unionByName(new_state)
    return new_state, changelog_df, persisted


def merge_batch(
    table: LakeTable,
    batch: DataFrame,
    batch_id,
    transform=default_transform,
    salt_buckets: int = 16,
    candidates: list[int] | None = None,
    batch_col: str = "batch_id",
    pre_commit=None,
    patch_ops: bool = False,
) -> MergeResult:
    """Apply one change batch to the table: exactly-once, atomic.

    ``pre_commit``: callable invoked with a partial MergeResult (batch
    id, lineage rows, dead letters) immediately BEFORE the manifest
    commit — the runner writes its side outputs here so a committed
    batch always has them on disk (atomic-with-commit; see
    CDCRunner._side_outputs for the crash story).

    ``patch_ops``: accept sparse ``op='patch'`` events — NULL payload
    column = "unchanged" (reference per-column changesets,
    /root/reference/load/SQLBatchExec.py:118-129). A patch applies only
    to a LIVE target row with a strictly older warc_ts, via column-wise
    coalesce; it never inserts, never resurrects a tombstone, and loses
    every equal-ts tie. In-batch folding (fold_patch_events) realizes
    the same total order, so batch-split invariance holds with patches.
    Off by default: the flag gates extra ladder branches and the fold's
    window passes out of the hot non-patch plan.

    MERGE semantics (full-outer-join form):
      WHEN NOT MATCHED AND op<>'delete'            THEN INSERT
      WHEN MATCHED AND s.ts>=t.ts AND op='delete'  THEN DELETE
      WHEN MATCHED AND s.ts> t.ts                  THEN UPDATE
      WHEN MATCHED AND s.ts= t.ts AND payload diff THEN UPDATE (det. tiebreak)
      WHEN MATCHED AND s.ts< t.ts                  THEN no-op (late event)

    Metrics: one aggregation pass over the persisted join yields the
    per-bucket op counts (the lineage side output), the watermark and
    the dirty-bucket set, so clean candidate buckets skip rewriting
    entirely (update-only-if-changed at file granularity). The apply
    tail from that pass to the commit is shared with snapshot_batch
    (``_apply_changeset``).
    """
    if table.is_committed(batch_id):
        return MergeResult(batch_id=batch_id, skipped=True, snapshot_id=table.snapshot_id)

    summary_base: dict = {}
    if isinstance(batch_id, (list, tuple)):
        # the exact label the runner uses for the group's lineage rows:
        # recorded in every member's ledger entry so reconciliation
        # (lake/integrity.py) can join the two artifacts precisely
        summary_base["fused_group"] = ",".join(str(b) for b in batch_id)

    key = table.key
    valid, dead = split_deadletter(batch, patch_ops=patch_ops)

    # --- schema evolution driven by the batch: extra payload columns
    # (the batch-grouping column, whatever its name, is transport
    # metadata — never part of table state) ---
    extra_cols = [c for c in valid.columns if c not in CORE_COLS and c != batch_col]
    table, schema_names = _evolve_schema(table, valid, extra_cols)

    # --- dedup: one event per url, latest warc_ts wins (salted).
    # Left lazy: it materializes exactly once, inside the (persisted)
    # merge join below.
    # batch-order tiebreak keeps fused (multi-batch) dedup byte-identical
    # to per-batch apply for events tying on (ts, op, payload)
    batch_tiebreak = batch_col if batch_col in valid.columns else None
    if patch_ops:
        from dbp_etl_spark.cdc.dedup import fold_patch_events

        src = fold_patch_events(
            valid,
            key,
            ["html", *extra_cols],
            batch_col=batch_tiebreak,
            salt_buckets=salt_buckets,
        )
    else:
        # agg-based dedup (map-side combine, shuffle ~keys not events;
        # winner identical to dedup_latest(cdc_order) — see dedup.py).
        # ``salt_buckets`` is unused here: partial aggregation already
        # collapses hot keys per mapper, which is what the salt
        # simulated for the window form.
        src = dedup_latest_cdc(
            valid,
            key,
            batch_col=batch_tiebreak,
            batch_order=(
                list(batch_id) if isinstance(batch_id, (list, tuple)) else [batch_id]
            ),
        )

    # --- candidate buckets from the RAW batch keys (file pruning):
    # a map-side-combined distinct over <= num_buckets values — far
    # cheaper than materializing the dedup just to probe buckets. The
    # runner precomputes these for ALL batches in one job and passes
    # them in, removing a per-batch driver round trip.
    if candidates is not None:
        cand = sorted(int(b) for b in candidates)
    else:
        cand = table.buckets_of(valid, key)

    res = MergeResult(batch_id=batch_id, deadletter=dead)
    if not cand:
        return _commit_empty(table, res, {**summary_base, "empty_batch": True}, pre_commit)

    tgt = table.read(buckets=cand, include_deleted=True)

    patch_part_cols = ["html", *extra_cols] if patch_ops else []
    s = src.select(
        F.col(key),
        F.col("warc_ts").alias("_s_ts"),
        F.col("html").alias("_s_html"),
        F.col("op").alias("_s_op"),
        *[F.col(c).alias(f"_s_{c}") for c in extra_cols],
        # patch part (fold_patch_events): last patch ts overall + the
        # (ts, value) of the last patch touching each payload column —
        # resolved against table state in the ladder/overlay below
        *(
            [F.col("_p_ts").alias("_s_p_ts")]
            + [F.col(f"_pts_{c}").alias(f"_s_pts_{c}") for c in patch_part_cols]
            + [F.col(f"_pv_{c}").alias(f"_s_pv_{c}") for c in patch_part_cols]
            if patch_ops
            else []
        ),
    )
    t = tgt.select(
        F.col(key),
        *[F.col(c).alias(f"_t_{c}") for c in schema_names if c != key],
    )

    j = t.join(s, key, "full_outer")

    same_payload = F.col("_s_html").eqNullSafe(F.col("_t_html"))
    s_md5 = F.md5(F.col("_s_html"))
    t_md5 = F.md5(F.col("_t_html"))
    t_dead = F.coalesce(F.col("_t__deleted"), F.lit(False))
    # Action ladder. Deletes write ts-guarded tombstone rows instead of
    # erasing state, so an out-of-order event arriving in a LATER batch
    # than the delete is still suppressed — this is what makes applying
    # the log as 1 batch vs N batches byte-identical (test_batch_split_
    # invariance). Ties at equal warc_ts follow cdc_order(): tombstone
    # beats write, then payload-md5-desc decides between writes.
    is_patch = F.col("_s_op") == "patch" if patch_ops else F.lit(False)
    action = (
        F.when(F.col("_s_op").isNull(), F.lit("keep"))
        # patch against an absent key: no row to patch — emit nothing
        # (no branch below selects 'skip_patch', so the row vanishes)
        .when(F.col("_t_warc_ts").isNull() & is_patch, F.lit("skip_patch"))
        .when(F.col("_t_warc_ts").isNull() & (F.col("_s_op") != "delete"), F.lit("insert"))
        .when(F.col("_t_warc_ts").isNull(), F.lit("delete"))  # tombstone for absent key
        .when(F.col("_s_ts") < F.col("_t_warc_ts"), F.lit("late"))
        .when(F.col("_s_op") == "delete", F.lit("delete"))  # s_ts >= t_ts: (re)tombstone
        .when(is_patch & t_dead, F.lit("noop"))  # a patch never resurrects
        .when(is_patch & (F.col("_s_ts") == F.col("_t_warc_ts")), F.lit("noop"))
        .when(is_patch, F.lit("patch"))  # strictly newer, live target
        .when(t_dead & (F.col("_s_ts") > F.col("_t_warc_ts")), F.lit("insert"))  # resurrect
        .when(t_dead, F.lit("noop"))  # equal-ts write vs tombstone: tombstone wins
        .when((F.col("_s_ts") == F.col("_t_warc_ts")) & same_payload, F.lit("noop"))
        .when(
            (F.col("_s_ts") == F.col("_t_warc_ts")) & (s_md5 <= t_md5), F.lit("noop")
        )  # equal-ts deterministic loser (mirrors dedup tiebreak)
        .otherwise(F.lit("update"))
    )
    if patch_ops:
        # patch overlay on a FULL event that resolved late/noop against
        # a live target: the full part lost, but patches strictly newer
        # than the target row still apply (exactly what per-event apply
        # would do) — upgrade to a patch action. Deletes that applied
        # (i.e. the row is now dead) never take patches; a LATE delete
        # resolves to 'late' and lands here like any late full event.
        overlay_late = (
            F.col("_s_p_ts").isNotNull()
            & F.col("_t_warc_ts").isNotNull()
            & ~t_dead
            & (F.col("_s_p_ts") > F.col("_t_warc_ts"))
        )
        action = F.when(
            overlay_late & action.isin("late", "noop"), F.lit("patch")
        ).otherwise(action)
    j = j.withColumn("_action", action).withColumn("_b", table.bucket_expr(key))

    # watermark instant of an event: its patch part's ts when present
    # (greatest ignores the NULL side), else the full event's ts
    _evt_ts = (
        F.greatest(F.col("_s_ts"), F.col("_s_p_ts")) if patch_ops else F.col("_s_ts")
    )

    # Patch overlay, per column: a column takes its patch value iff
    # THAT column's last patch is strictly newer than the resolved
    # base row — the base is the target for 'patch' actions (full
    # part lost or absent) and the fresh full value for
    # insert/update (every folded patch is newer than the full
    # winner by construction). A column whose last patch is late
    # keeps the base value; full rows take the event's value
    # wholesale (an explicit NULL stays NULL).
    patch_here = F.col("_action") == "patch" if patch_ops else F.lit(False)
    full_with_pp = (
        F.col("_s_p_ts").isNotNull() & F.col("_action").isin("insert", "update")
        if patch_ops
        else F.lit(False)
    )

    def _overlaid(c: str, base_full: Column, base_tgt: Column) -> Column:
        pv, pt = F.col(f"_s_pv_{c}"), F.col(f"_s_pts_{c}")
        return (
            F.when(patch_here & pt.isNotNull() & (pt > F.col("_t_warc_ts")), pv)
            .when(patch_here, base_tgt)
            .when(full_with_pp & pt.isNotNull(), pv)
            .otherwise(base_full)
        )

    new_html = (
        _overlaid("html", F.col("_s_html"), F.col("_t_html"))
        if patch_ops
        else F.col("_s_html")
    )

    def _new_payload(c: str) -> Column:
        src_c = F.col(f"_s_{c}") if c in extra_cols else F.col(f"_t_{c}")
        if patch_ops and c in extra_cols:
            return _overlaid(c, F.col(f"_s_{c}"), F.col(f"_t_{c}"))
        return src_c

    # event time of the written row: the last patch's ts whenever a
    # patch part rode along (it is the newest applied instant)
    new_ts = (
        F.when(
            (patch_here | full_with_pp) & F.col("_s_p_ts").isNotNull(),
            F.col("_s_p_ts"),
        ).otherwise(F.col("_s_ts"))
        if patch_ops
        else F.col("_s_ts")
    )

    return _apply_changeset(
        table,
        j,
        res,
        pre_commit,
        evt_ts=_evt_ts,
        summary_base=summary_base,
        candidates=cand,
        schema_names=schema_names,
        extra_cols=extra_cols,
        transform=transform,
        carried_actions=("keep", "late", "noop"),
        tombstone_ts=F.col("_s_ts"),
        changed_actions=("insert", "update", "patch"),
        new_ts=new_ts,
        new_html=new_html,
        new_payload=_new_payload,
    )


def _lake_type(simple: str) -> str:
    aliases = {"bigint": "long", "integer": "int", "smallint": "int"}
    return aliases.get(simple, simple)


def snapshot_batch(
    table: LakeTable,
    snapshot: DataFrame,
    batch_id,
    transform=default_transform,
    pre_commit=None,
) -> MergeResult:
    """Snapshot-compare apply: make the table equal a FULL dimension
    snapshot, with deletes INFERRED from absent keys.

    The reference's metadata-only load diffs an entire dimension
    snapshot against DB state and deletes whatever keys are left over —
    /root/reference/load/UpdateDBPBiblesTable.py:65-126 (leftover-key
    deletes at :81-86) and /root/reference/load/UpdateDBPLPTSTable.py:131-159.
    This is that flow as a first-class runner API, vs. the event-stream
    path (merge_batch) whose deletes must be explicit ``op='delete'``
    events.

    Semantics are VALUE-driven (the reference compares column values,
    not timestamps): a key present in both sides updates iff any payload
    column differs — the snapshot is authoritative regardless of
    warc_ts ordering. Inferred deletes write ts-guarded tombstones
    carrying the replaced row's warc_ts, so a late CDC event older than
    the deleted row stays suppressed and a genuinely newer event
    resurrects — snapshot mode composes with the event-stream mode on
    the same table.

    Structural idempotency (the reference's property — rerunning the
    same extract produces zero SQL): applying the same snapshot twice
    yields an empty diff; no bucket is rewritten, state_hash is
    unchanged (tested).

    Physical shape: candidates are ALL buckets (a full snapshot can
    delete anywhere — inherent to compare-against-everything); the diff
    is one bucket-partitioned full-outer join; only buckets with a real
    change are rewritten. Cost scales with table+snapshot size for the
    join but with the CHURN for the write.
    """
    if table.is_committed(batch_id):
        return MergeResult(batch_id=batch_id, skipped=True, snapshot_id=table.snapshot_id)
    key = table.key

    # malformed snapshot rows (null key / null ts / null payload) dead-letter;
    # op is synthesized so split_deadletter's ladder applies unchanged
    valid, dead = split_deadletter(snapshot.withColumn("op", F.lit("update")))
    valid = valid.drop("op")
    dead = dead.drop("op")

    extra_cols = [c for c in valid.columns if c not in CORE_COLS]
    table, schema_names = _evolve_schema(table, valid, extra_cols)

    # a snapshot must be key-unique; keep the latest-ts row if not
    # (defensive — deterministic total order via dedup_latest's hash
    # tiebreak; no op column in snapshot rows, so no tombstone rank)
    src = dedup_latest(
        valid, key, [F.col("warc_ts").desc(), F.md5(F.col("html")).desc_nulls_last()]
    )

    tgt = table.read(include_deleted=True)  # all buckets: deletes can be anywhere
    s = src.select(
        F.col(key),
        F.col("warc_ts").alias("_s_ts"),
        F.col("html").alias("_s_html"),
        *[F.col(c).alias(f"_s_{c}") for c in extra_cols],
    )
    t = tgt.select(
        F.col(key),
        *[F.col(c).alias(f"_t_{c}") for c in schema_names if c != key],
    )
    j = t.join(s, key, "full_outer")

    t_dead = F.coalesce(F.col("_t__deleted"), F.lit(False))
    # value compare across every snapshot-carried column (ts included:
    # a re-crawl with identical bytes but a new warc_ts IS a change —
    # final state must equal the snapshot exactly)
    row_differs = ~F.col("_s_ts").eqNullSafe(F.col("_t_warc_ts")) | ~F.col(
        "_s_html"
    ).eqNullSafe(F.col("_t_html"))
    for c in extra_cols:
        row_differs = row_differs | ~F.col(f"_s_{c}").eqNullSafe(F.col(f"_t_{c}"))
    s_absent = F.col("_s_ts").isNull() & F.col("_s_html").isNull()
    action = (
        F.when(F.col(key).isNull(), F.lit("keep"))  # defensive: never happens
        .when(s_absent & t_dead, F.lit("keep"))  # already tombstoned
        .when(s_absent, F.lit("delete"))  # inferred: key left over in state
        .when(F.col("_t_warc_ts").isNull() | t_dead, F.lit("insert"))
        .when(row_differs, F.lit("update"))
        .otherwise(F.lit("noop"))
    )
    j = j.withColumn("_action", action).withColumn("_b", table.bucket_expr(key))
    # inferred delete: tombstone guarded at the REPLACED row's ts —
    # late events older than what the snapshot superseded stay dead,
    # a strictly newer event resurrects (same rule as merge_batch)
    return _apply_changeset(
        table,
        j,
        MergeResult(batch_id=batch_id, deadletter=dead),
        pre_commit,
        evt_ts=F.col("_s_ts"),
        summary_base={"snapshot_compare": True},
        candidates=None,
        schema_names=schema_names,
        extra_cols=extra_cols,
        transform=transform,
        carried_actions=("keep", "noop"),
        tombstone_ts=F.col("_t_warc_ts"),
        changed_actions=("insert", "update"),
        new_ts=F.col("_s_ts"),
        new_html=F.col("_s_html"),
        new_payload=lambda c: (
            F.col(f"_s_{c}") if c in extra_cols else F.col(f"_t_{c}")
        ),
    )
