"""Structured Streaming ingest variant.

The primary runner (``streaming.runner.replay``) drives bounded LSN
slices from the engine's own offset store — that is what gives
schema-per-epoch reads and LSN-aligned commits. This module is the
same pipeline on Spark's native streaming engine for deployments that
want it: ``readStream`` file source over the change-log directory →
``foreachBatch`` (the bounded loop's per-slice step: max-LSN dedup →
MERGE apply) → Spark's checkpointLocation for source offsets.

Correctness under arbitrary file-discovery order: each micro-batch is
deduped per key (max LSN within the batch) and ``merge_apply`` keeps a
row only if its LSN beats the stored ``_lsn`` (newer-LSN-wins), so the
final table state equals the fold of the whole log no matter how the
source groups or orders files — including re-delivered batches after a
crash (Spark replays the last uncommitted batch; the merge is
idempotent).

Known trade vs the bounded runner (and why it stays secondary):
* the file source needs ONE fixed schema — pre-evolution files read
  with late columns as nulls, so the target schema evolves at stream
  start rather than at the epoch boundary;
* source offsets live in Spark's checkpoint dir, not in the table
  snapshot — exactly-once here relies on merge idempotence rather than
  the atomic offsets+data commit.

reference: the cron-style re-poll scaffolding this replaces is
ReconciliationController.java:41 + SchedulerConfig.java:6-8.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from etl_reconciliate_spark.schemas import CHANGELOG_SCHEMA
from etl_reconciliate_spark.session import pinned_shuffle_partitions
from etl_reconciliate_spark.streaming.runner import apply_slice
from etl_reconciliate_spark.target.table import TargetTable


def replay_stream(
    spark: SparkSession,
    changelog_path: str,
    target_path: str,
    checkpoint_dir: str,
    n_partitions: int | None = None,
    max_files_per_trigger: int | None = None,
    compact_threshold: int = 8,
    dedup_within_watermark: str | None = None,
    changelog_format: str = "parquet",
) -> dict:
    """Process the change-log backlog as a stream (availableNow trigger:
    drain everything discoverable, then stop). Resumable/idempotent via
    ``checkpoint_dir`` + merge idempotence. Returns run stats.

    ``dedup_within_watermark`` (e.g. ``"10 minutes"``) inserts a native
    ``dropDuplicatesWithinWatermark(["lsn"])`` stage: re-delivered
    events whose LSN was already seen within the watermark horizon are
    dropped in the streaming state store BEFORE the per-batch dedup and
    merge — cutting shuffle+merge work for the common duplicate-delivery
    case. CONTRACT (r4 review — the old note claimed late events "pass
    through"; they do not): Spark's stateful dedup DISCARDS any input
    row whose event time is already behind the watermark, duplicates
    and genuinely-new late events alike. Enable it only when event-time
    lateness is bounded by the chosen delay (the mtime-ordered file
    source makes unbounded lateness possible — leave it OFF, the
    default, when that matters). Rows with a NULL ts (e.g. Debezium
    delete envelopes without ts_ms) BYPASS the dedup stage: they would
    otherwise be swallowed by the watermark operator, and imputing a
    timestamp to push them through it either contaminates the
    watermark (wall-clock) or goes late itself (a constant) — see the
    inline note at the dedup stage."""
    with pinned_shuffle_partitions(spark, n_partitions) as n_partitions:
        return _replay_stream_impl(
            spark, changelog_path, target_path, checkpoint_dir,
            n_partitions, max_files_per_trigger, compact_threshold,
            dedup_within_watermark, changelog_format,
        )


def _replay_stream_impl(
    spark: SparkSession,
    changelog_path: str,
    target_path: str,
    checkpoint_dir: str,
    n_partitions: int,
    max_files_per_trigger: int | None,
    compact_threshold: int,
    dedup_within_watermark: str | None,
    changelog_format: str,
) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # ordered_commits=False: the file source discovers files in mtime
    # order, NOT LSN order, so a lower-LSN event for a deleted key can
    # arrive after a compaction — compaction must therefore RETAIN
    # tombstones or read-time max-LSN resolution would resurrect deleted
    # rows. The bounded runner (LSN-ordered offsets) keeps the cheaper
    # drop-at-compaction behavior.
    table = TargetTable(
        spark,
        target_path,
        n_buckets=n_partitions,
        compact_threshold=compact_threshold,
        ordered_commits=False,
    )
    if not table.exists():
        payload = T.StructType(
            [f for f in CHANGELOG_SCHEMA.fields if f.name not in ("lsn", "op")]
        )
        table.init(payload)

    if changelog_format == "debezium-jsonl":
        # raw Debezium envelope lines → canonical changelog via the
        # batch/stream-polymorphic from_json adapter
        from etl_reconciliate_spark.sources.debezium import parse_debezium

        reader = spark.readStream.option("recursiveFileLookup", "true")
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = parse_debezium(reader.text(changelog_path), "value")
    elif changelog_format == "parquet":
        reader = (
            spark.readStream.schema(CHANGELOG_SCHEMA)
            .option("recursiveFileLookup", "true")
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(changelog_path)
    else:
        raise ValueError(f"unknown changelog_format: {changelog_format!r}")
    if dedup_within_watermark:
        # NULL-ts rows (tombstone envelopes without ts_ms) are routed
        # AROUND the watermarked dedup stage. This is the only correct
        # shape: any non-null imputation either contaminates the
        # watermark (coalesce(ts, current_timestamp()) jumps it to
        # wall-clock now, after which a historical-backlog replay drops
        # EVERY remaining event as late — near-total silent loss) or is
        # itself eventually late (a constant epoch falls behind the
        # watermark after the first real event) — r5 final review. The
        # union does read the source once per branch. For the PARQUET
        # format the null branch's `ts IS NULL` predicate reaches the
        # scan, so row groups with null_count=0 (the overwhelming
        # majority — tombstones are rare) are pruned via footer stats
        # and the second scan costs ~zero I/O. For debezium-jsonl the
        # predicate sits ABOVE from_json over a text scan — nothing
        # prunes, so enabling dedup_within_watermark there costs a
        # second full scan+parse per micro-batch; that 2× is the
        # deliberate price of correct null-ts routing (a text-level
        # ts_ms prefilter was considered and rejected: a malformed
        # ts_ms parses to NULL ts but would slip the prefilter — data
        # loss). Merge idempotence covers the un-deduped null-ts rows
        # downstream.
        with_ts = (
            stream.filter(F.col("ts").isNotNull())
            .withWatermark("ts", dedup_within_watermark)
            .dropDuplicatesWithinWatermark(["lsn"])
        )
        stream = with_ts.unionByName(stream.filter(F.col("ts").isNull()))

    batches: list[dict] = []

    def apply_batch(batch_df, batch_id: int) -> None:
        # skip empty micro-batches UNCONDITIONALLY: the stateful dedup
        # stage makes Spark run a trailing empty batch after the
        # watermark advances, and a checkpoint-restart can replay an
        # empty batch with dedup off — in both cases committing an empty
        # version is wasted work.
        if batch_df.isEmpty():
            return
        stats, n_events, _ops = apply_slice(
            table, batch_df, {"stream_batch_id": batch_id}, count_ops=False
        )
        batches.append(
            {
                "batch_id": batch_id,
                "version": stats["version"],
                "input_rows": n_events,
            }
        )

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {
        "batches": len(batches),
        "input_rows": sum(b["input_rows"] for b in batches),
        "target_rows": table.count_live(),
    }
