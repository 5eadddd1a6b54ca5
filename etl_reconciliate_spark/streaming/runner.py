"""CDC replay loop: tail → dedup → MERGE → metrics.

The Spark-first replacement for the reference's four sequential Spring
Batch tasklets (reference: config/BatchConfig.java:59-68). Structured
Streaming's file source can't give us LSN-bounded, resumable-by-offset
slices over an evolving-schema table, so the loop is the standard
"bounded micro-batch driven by our own offset store" pattern
(functionally ``foreachBatch`` with a custom source): each iteration
reads one (lo, hi] LSN slice, max-LSN-dedups it per key, MERGEs into
the target, and commits offsets atomically with the snapshot.

Scale notes (the 100 TB story):
* the slice read is pruned by the pushed lsn predicate — cost ∝ slice;
* the dedup is a ``max_by`` hash aggregate: its map-side partial
  combine collapses duplicate deliveries and multi-update keys BEFORE
  the shuffle, and its exchange hash-partitions by the key (the merge's
  partitioning) at the width of the pinned session shuffle partitions;
* size ``n_partitions`` for constant rows-per-task (~0.5-1M rows), NOT
  as a fixed constant: the r3b bench study measured the reduce stage
  (then a window sort + merge + write) at 3.2x the per-event CPU when task
  volume grew 637k → 2.55M rows (sort locality), with zero spill — at
  cluster scale let AQE's advisory partition size enforce this; and
  with a heavy shuffle codec (zstd level >= 8) pin the sort shuffle
  writer (``spark.shuffle.sort.bypassMergeThreshold=1``) — the bypass
  writer's one-compression-stream-per-partition cost 50% more map CPU
  at 64 partitions (BENCH/BASELINE.md r3b);
* the target side of the merge is hash-clustered on the key at write
  time (bucket emulation) — with real Iceberg bucket partitioning +
  storage-partitioned joins that side never shuffles either;
* the target is merge-on-read: one delta file set per slice, periodic
  compaction, and readers resolve base + deltas with a max-``_lsn``
  window; the Iceberg backend maps this to positional deletes, with no
  change above this layer.

Kill/resume: stop after any slice (or kill -9 mid-merge) and re-invoke —
the resume point is read from the last committed snapshot, and an
interrupted uncommitted slice simply re-runs (row-level newer-LSN-wins
makes partial overlap harmless).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from etl_reconciliate_spark.operators.dedup import dedup_max_lsn_agg
from etl_reconciliate_spark.plans.checkpoint import CheckpointManager
from etl_reconciliate_spark.plans.metrics import (
    observe_count,
    observe_ops,
    observed_or,
)
from etl_reconciliate_spark.session import pinned_shuffle_partitions
from etl_reconciliate_spark.sources.changelog import ChangeLogSource
from etl_reconciliate_spark.target.table import TargetTable


def apply_slice(
    table: TargetTable, raw: DataFrame, offsets: dict, count_ops: bool
) -> tuple[dict, int, dict]:
    """Dedup one raw change batch per key and MERGE it into ``table``.

    The per-slice step shared by the bounded loop and the stream
    runner's ``foreachBatch``. The input event count (and, with
    ``count_ops``, the winners' I/U/D counts) ride along with the
    merge's own write action via Observation, at no extra Spark job.
    Returns ``(merge stats, events, ops)``."""
    raw, obs_raw = observe_count(raw)
    deduped = dedup_max_lsn_agg(raw)
    obs = None
    if count_ops:
        deduped, obs = observe_ops(deduped)
    stats = table.merge_apply(deduped, offsets)
    # observed_or tolerates the empty-plan case where AQE eliminated
    # the CollectMetrics nodes
    n_events = observed_or(obs_raw, ("n",))["n"]
    ops = observed_or(obs, ("I", "U", "D")) if obs is not None else {}
    return stats, n_events, ops


def replay(
    spark: SparkSession,
    changelog_path: str,
    target_path: str,
    slice_size: int = 250_000,
    n_partitions: int | None = None,
    max_slices: int | None = None,
    collect_lineage: bool = True,
    expire_keep: int = 2,
    target_mode: str = "mor",
    compact_threshold: int = 8,
) -> dict:
    """Replay the change log into the target table; resumable.

    Returns run statistics: events applied, slices, wall seconds of the
    apply loop (excluding session startup), events/sec. ``target_mode``
    accepts only ``"mor"``, the one table mode.
    """
    if target_mode != "mor":
        raise ValueError(
            f"target_mode {target_mode!r}: the copy-on-write ('cow') mode "
            "was removed; tables are merge-on-read ('mor') only"
        )
    with pinned_shuffle_partitions(spark, n_partitions) as n_partitions:
        return _replay_loop(
            spark, changelog_path, target_path, slice_size, n_partitions,
            max_slices, collect_lineage, expire_keep, compact_threshold,
        )


def _replay_loop(
    spark: SparkSession,
    changelog_path: str,
    target_path: str,
    slice_size: int,
    n_partitions: int,
    max_slices: int | None,
    collect_lineage: bool,
    expire_keep: int,
    compact_threshold: int,
) -> dict:
    from pyspark.sql import types as T

    source = ChangeLogSource(spark, changelog_path)
    table = TargetTable(
        spark,
        target_path,
        n_buckets=n_partitions,
        compact_threshold=compact_threshold,
    )

    if not table.exists():
        # Initial schema = key + payload columns of the earliest events;
        # later files evolve it (add-column, widening) through merge_apply.
        payload = T.StructType(
            [f for f in source.initial_schema().fields if f.name not in ("lsn", "op")]
        )
        table.init(payload)

    ckpt = CheckpointManager(table)
    slices = ckpt.plan_slices(source.max_lsn(), slice_size)
    if max_slices is not None:
        slices = slices[:max_slices]

    t0 = time.monotonic()
    events = 0
    trailing_gap_hi = -1
    for lo, hi in slices:
        st = time.monotonic()
        # LSN-gap fast path (r5 review): real WAL/Debezium LSNs are
        # sparse byte offsets, so densely-tiled slices routinely cover
        # pure gaps. The source's footer index PROVES such a slice
        # empty — merging it anyway cost an empty delta (counting toward
        # the compaction threshold → a full base rewrite every Nth gap).
        # Skip the merge entirely: zero Spark jobs. The offset is
        # NOT advanced per gap — the next non-empty slice's commit
        # carries lsn_hi past the gap; a TRAILING run of gaps gets ONE
        # offsets-only commit after the loop (r5 final review: with
        # max_slices set, a gap wider than the slice budget would
        # otherwise re-plan the same gap slices forever — livelock).
        overlap = source.lineage(lo, hi)
        if not overlap:
            trailing_gap_hi = max(trailing_gap_hi, hi)
            ckpt.append_manifest(
                {"slice": [lo, hi], "events": 0, "skipped_empty_gap": True,
                 "secs": round(time.monotonic() - st, 3)}
            )
            continue
        trailing_gap_hi = -1
        # One index describes the log: the per-file lineage here and the
        # files read_slice scans are the same overlapping footer-index
        # entries (driver-side metadata, built once at open). The event
        # and op counts ride along with the merge's write (apply_slice).
        lineage = overlap if collect_lineage else []
        stats, n_events, ops = apply_slice(
            table, source.read_slice(lo, hi), ckpt.offsets_for(hi, lineage),
            count_ops=collect_lineage,
        )
        events += n_events
        ckpt.append_manifest(
            {
                "slice": [lo, hi],
                "events": n_events,
                "ops": ops,
                "snapshot": stats["version"],
                "target_rows": stats["row_count"],
                "n_deltas": stats.get("n_deltas"),
                "secs": round(time.monotonic() - st, 3),
            }
        )
        if expire_keep:
            table.expire_snapshots(keep_last=expire_keep)

    if trailing_gap_hi > ckpt.last_committed_lsn():
        # the run ENDED on skipped gap slices (only possible when
        # max_slices truncated the plan — an untruncated plan always
        # ends at an actual event's lsn): persist the high-water mark
        # with one metadata-only commit so the next bounded run plans
        # PAST the gap instead of re-walking it forever
        stats = table.commit_offsets(ckpt.offsets_for(trailing_gap_hi, []))
        ckpt.append_manifest(
            {"offsets_only": True, "lsn_hi": trailing_gap_hi,
             "snapshot": stats["version"]}
        )
        if expire_keep:
            # gap-only bounded runs otherwise add one offsets-only
            # snapshot each and never expire (the per-slice expiry above
            # lives in the applied-slice branch) — draining a wide LSN
            # gap would accumulate metadata versions past the keep bound
            # until the next data-bearing slice (r5 final review)
            table.expire_snapshots(keep_last=expire_keep)

    secs = time.monotonic() - t0
    return {
        "slices": len(slices),
        "events": events,
        "secs": secs,
        "events_per_sec": events / secs if secs > 0 else float("inf"),
        "final_lsn": ckpt.last_committed_lsn(),
        "target_rows": table.count_live(),
    }
