"""Structured-Streaming tail of a change-event directory.

The batch CDCRunner replays a bounded log; this module tails an
*unbounded* one: ``readStream`` over the change-event directory →
``foreachBatch`` applying each microbatch through the same
``merge_batch`` MERGE (so batch and streaming share one code path) →
exactly-once via BOTH Spark's streaming checkpoint (source offsets)
and the table's own batch-id ledger (idempotent re-apply if a batch is
redelivered after a checkpoint/commit race — the classic foreachBatch
at-least-once gap, closed by the ledger).

Reference analog: the driver loop that moves filesets through
validate→…→complete stages as they arrive
(/root/reference/load/DBPLoadController.py:229-283).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

import os
import uuid

from dbp_etl_spark.cdc.merge import default_transform, merge_batch
from dbp_etl_spark.lake.fs import fs_for
from dbp_etl_spark.lake.table import LakeTable


def _stream_identity(spark, checkpoint_path: str) -> str:
    """Stable per-checkpoint id persisted INSIDE the checkpoint dir.

    Streaming epoch ids restart at 0 whenever a checkpoint is deleted or
    a second stream (own checkpoint) feeds the same table — a bare
    ``stream-{epoch}`` ledger key would then silently no-op genuinely
    new microbatches. Namespacing the key with an id that lives and
    dies with the checkpoint makes the ledger correct across checkpoint
    recreation and multi-stream fan-in.

    Upgrade note (pre-identity checkpoints): a table+checkpoint created
    when the ledger key was bare ``stream-{epoch}`` gets a fresh stream
    id on first run under this scheme, so an epoch redelivered across
    the upgrade (crash-window only) no longer matches its old ledger
    entry and is re-applied ONCE. This is safe — the MERGE action
    ladder no-ops identical events (same ts/op/payload ties keep the
    applied row) — the only trace is a spurious snapshot/ledger entry.
    """
    fs = fs_for(checkpoint_path, spark)
    fs.mkdirs(checkpoint_path)
    marker = os.path.join(checkpoint_path, "_table_stream_id")
    if not fs.exists(marker):
        try:
            fs.create_text_exclusive(marker, uuid.uuid4().hex[:12])
        except FileExistsError:
            pass  # concurrent creator won; read theirs
    return fs.read_text(marker).strip()

def _changes_reader(
    spark: SparkSession, max_files_per_trigger: int | None, schema=None
):
    """Shared streaming reader scaffold for the change-event schema.

    A streaming file source needs a FIXED schema up front — columns
    absent from it are silently dropped at read time, so a tail whose
    events carry extra payload columns (schema evolution) MUST declare
    them via ``schema``; the default covers only the core event
    columns."""
    reader = spark.readStream.schema(schema if schema is not None else CHANGES_SCHEMA)
    if max_files_per_trigger is not None:
        if max_files_per_trigger <= 0:
            raise ValueError("max_files_per_trigger must be positive")
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader


def _maybe_available_now(writer, available_now: bool):
    return writer.trigger(availableNow=True) if available_now else writer


CHANGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("op", T.StringType()),
        T.StructField("batch_id", T.LongType()),
    ]
)


def run_stream(
    spark: SparkSession,
    changes_path: str,
    table: LakeTable,
    checkpoint_path: str,
    transform=default_transform,
    salt_buckets: int = 16,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    errors_path: str | None = None,
    lineage_path: str | None = None,
    allow_urls=None,
    expire_every: int | None = None,
    expire_keep_last: int = 8,
    patch_ops: bool = False,
    changes_schema=None,
    source_format: str = "parquet",
    source_adapter=None,
):
    """Tail ``changes_path`` (parquet change events) into ``table``.

    ``source_format="text"`` + ``source_adapter``: tail a line-oriented
    envelope feed instead — each line lands in a ``value`` column and
    ``source_adapter`` (a DataFrame->DataFrame of pure expressions,
    e.g. ``lambda df: from_debezium(df, row_schema)``) maps it to the
    change-event columns before the MERGE. This is the file-based
    stand-in for a Kafka value stream: swap the reader for
    ``readStream.format("kafka")`` and the same adapter applies
    unchanged. An adapter may also wrap a parquet source.

    ``available_now=True`` drains everything currently in the source
    and stops (the test/replay mode); False runs continuously.
    Returns the StreamingQuery (already started).

    Parity with the batch CDCRunner: each microbatch's candidate
    buckets are precomputed from its keys (one tiny aggregation job)
    so the MERGE state read is file-pruned to the touched buckets, and
    dead-letter / per-bucket lineage side-outputs are written through
    the same code path (``errors_path`` / ``lineage_path`` /
    ``allow_urls`` behave exactly as on CDCRunner).
    """
    from dbp_etl_spark.cdc.runner import CDCRunner

    # extra payload columns ride only if declared: the streaming source
    # reads a fixed schema, so pass ``changes_schema`` when the event
    # log carries evolution columns beyond the core five (they would
    # otherwise be silently dropped before the MERGE ever sees them)
    if source_format == "parquet":
        stream = _changes_reader(
            spark, max_files_per_trigger, schema=changes_schema
        ).parquet(changes_path)
    elif source_format == "text":
        reader = spark.readStream
        if max_files_per_trigger is not None:
            if max_files_per_trigger <= 0:
                raise ValueError("max_files_per_trigger must be positive")
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.text(changes_path)
    else:
        raise ValueError(f"unsupported source_format {source_format!r}")
    if source_adapter is not None:
        stream = source_adapter(stream)
    stream_id = _stream_identity(spark, checkpoint_path)
    applied = [0]  # microbatches since last expiry (foreachBatch closure state)
    side = CDCRunner(
        table,
        errors_path=errors_path,
        lineage_path=lineage_path,
        transform=transform,
        salt_buckets=salt_buckets,
        allow_urls=allow_urls,
    )

    def apply_batch(df, epoch_id: int):
        # ledger key: (checkpoint identity, streaming epoch). If the
        # stream restarts from an old checkpoint and redelivers an
        # epoch, the ledger no-ops it; a NEW checkpoint gets a new
        # identity, so its epoch 0 is not mistaken for an old one.
        bid = f"stream-{stream_id}-{epoch_id}"
        if table.is_committed(bid):
            return
        # candidate buckets from the microbatch keys: lets the state
        # read prune to touched files exactly like the batch runner
        cand = table.buckets_of(df)
        # side outputs ride the pre-commit hook so a committed epoch
        # always has its lineage/errors on disk — without it, a crash
        # between the MERGE commit and a post-hoc side-output write
        # leaves a committed epoch with no lineage forever (the ledger
        # early-return above would skip the replay). Same atomicity
        # contract as CDCRunner._side_outputs on the batch path.
        res = merge_batch(
            table,
            df,
            batch_id=bid,
            transform=transform,
            salt_buckets=salt_buckets,
            candidates=cand,
            pre_commit=side._side_outputs,
            patch_ops=patch_ops,
        )
        # inline retention, same contract as CDCRunner(expire_every=N):
        # an unbounded tail otherwise accretes one ledger entry and one
        # snapshot per microbatch forever
        if expire_every is not None:
            applied[0] += 1
            if applied[0] >= expire_every:
                table.expire_snapshots(keep_last=expire_keep_last)
                applied[0] = 0

    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    return _maybe_available_now(writer, available_now).start()


def run_scd2_stream(
    spark: SparkSession,
    changes_path: str,
    hist: LakeTable,
    checkpoint_path: str,
    salt_buckets: int = 16,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    changes_schema=None,
    source_format: str = "parquet",
    source_adapter=None,
):
    """Tail a change feed into an SCD2 HISTORY table (cdc/scd.py) —
    the streaming sibling of ``run_stream``, which maintains latest
    state. Same source options (parquet event log, or a line-oriented
    envelope feed through ``source_adapter`` — Debezium/Maxwell/Canal
    adapters plug in unchanged), same exactly-once contract: the
    ledger key is (checkpoint identity, epoch), so a redelivered epoch
    no-ops and a fresh checkpoint cannot collide with an old one.

    Ordering note: SCD2's late guard drops events at or before an
    entity's open interval, so the stream inherits the tail contract —
    microbatch arrival order must follow event time per entity (the
    binlog-tail norm). Replaying a time-ordered log with
    ``available_now=True`` satisfies this by construction.
    """
    from dbp_etl_spark.cdc.scd import SCD2Runner

    if source_format == "parquet":
        stream = _changes_reader(
            spark, max_files_per_trigger, schema=changes_schema
        ).parquet(changes_path)
    elif source_format == "text":
        reader = spark.readStream
        if max_files_per_trigger is not None:
            if max_files_per_trigger <= 0:
                raise ValueError("max_files_per_trigger must be positive")
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.text(changes_path)
    else:
        raise ValueError(f"unsupported source_format {source_format!r}")
    if source_adapter is not None:
        stream = source_adapter(stream)
    stream_id = _stream_identity(spark, checkpoint_path)
    runner = SCD2Runner(hist, salt_buckets=salt_buckets)

    def apply_batch(df, epoch_id: int):
        # the transport batch column (if the log carries one) is not
        # payload — the epoch IS the batch identity here
        if "batch_id" in df.columns:
            df = df.drop("batch_id")
        runner.apply_batch(df, f"scd2-{stream_id}-{epoch_id}")

    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    return _maybe_available_now(writer, available_now).start()


def deduped_changes_stream(
    spark: SparkSession,
    changes_path: str,
    checkpoint_path: str,
    output_path: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    changes_schema=None,
):
    """Streaming exact-duplicate suppression with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key's dedup state only
    until the watermark passes it — the streaming sibling of the batch
    ``dedup_latest`` (which sees the whole microbatch at once). Use it
    upstream of ``run_stream`` when the tail source redelivers events
    (at-least-once transports): only byte-identical redeliveries are
    suppressed — the dedup key includes op and the payload hash, so two
    DISTINCT events colliding on (url, warc_ts) (e.g. a write and a
    tombstone at the same instant — resolved deterministically by
    cdc_order in the MERGE) both pass through.

    Sink: parquet at ``output_path`` (checkpoint-recoverable).
    """
    from pyspark.sql import functions as F

    stream = _changes_reader(spark, max_files_per_trigger, schema=changes_schema).parquet(
        changes_path
    )
    # the redelivery hash must cover EVERY payload column the declared
    # schema carries — hashing html alone would treat two distinct
    # events differing only in an extra column as duplicates and drop
    # one, diverging from the batch path's full-row tiebreak
    extra_payload = [
        c for c in stream.columns if c not in ("url", "warc_ts", "op", "html", "batch_id")
    ]
    ph = F.md5(
        F.concat_ws(
            "\x00",
            F.coalesce(F.md5("html"), F.lit("")),
            *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in extra_payload],
        )
    )
    deduped = (
        stream.withColumn("_ph", ph)
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["url", "warc_ts", "op", "_ph"])
        .drop("_ph")
    )
    writer = (
        deduped.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
    )
    return _maybe_available_now(writer, available_now).start()
