"""spark-submit entrypoint: reconciliation pass (source vs CDC target).

The second half of the pipeline (BASELINE.json north star): after
``jobs/replay_job.py`` has applied the change log, this job runs the
bounded full-outer reconciliation on (conv_id, turn_idx) — salted for
hot conversations, Arrow-UDF text comparison — and prints one JSON line
with the MATCH / SOURCE_ONLY / TARGET_ONLY / VALUE_DISCREPANCY counts
(the parity metric) plus the per-conversation rollup counts.

The source of truth is either a transcripts table (``--source-kind
table``) or the change log itself (``--source-kind changelog``: the
expected state is its max-LSN fold, computed distributed) —
replaying-then-reconciling against the same log is the engine's
self-check that MERGE applied exactly once.

    spark-submit --master local[32] --py-files engine.zip \
        jobs/reconcile_job.py --source /path/log --source-kind changelog \
        --target /path/tbl
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True)
    ap.add_argument("--source-kind", choices=["table", "changelog"],
                    default="changelog")
    ap.add_argument("--target", required=True)
    ap.add_argument("--salts", type=int, default=8)
    ap.add_argument("--hot-threshold", type=int, default=100_000)
    ap.add_argument("--comparator", choices=["exact", "normalized"],
                    default="exact",
                    help="text equality: 'exact' = native eqNullSafe "
                         "(codegen, default); 'normalized' = Arrow-UDF "
                         "whitespace-normalized equality")
    ap.add_argument("--results-dir", default=None,
                    help="persist row-level recon results (parquet, "
                         "partitioned by status) and the per-conversation "
                         "rollup here")
    ap.add_argument("--report-dir", default=None,
                    help="emit the two-sheet human report (CSV per sheet "
                         "+ report.html with conditional fill) here")
    ap.add_argument("--report-max-rows", type=int, default=50_000)
    ap.add_argument("--strategy", choices=["full", "checksum"], default="full",
                    help="'full' = row-level full-outer classify of every "
                         "key; 'checksum' = pt-table-checksum shape: "
                         "per-block XOR digests first, row-level drill-down "
                         "ONLY on dirty blocks — the 100 TB path; reports "
                         "discrepancies only (clean blocks are proven MATCH "
                         "by digest)")
    ap.add_argument("--checksum-blocks", type=int, default=4096)
    ap.add_argument("--changed-broadcast-limit", type=int, default=2_000_000,
                    help="incremental recon: broadcast the changed-key set "
                         "when it has at most this many distinct keys; "
                         "above it the semi-join prune falls back to a "
                         "shuffle (same semantics, no broadcast/driver "
                         "size risk on a large change window)")
    ap.add_argument("--changed-since-version", type=int, default=None,
                    help="incremental recon: verify ONLY keys whose target "
                         "state changed since this committed snapshot "
                         "version (TargetTable.read_changes); shuffle is "
                         "O(changed keys)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    spark = SparkSession.builder.appName("cdc_reconcile").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from etl_reconciliate_spark.operators.dedup import dedup_max_lsn_agg
    from etl_reconciliate_spark.operators.reconcile import (
        reconcile,
        rollup_conversations,
        status_counts,
    )
    from etl_reconciliate_spark.sources.changelog import ChangeLogSource
    from etl_reconciliate_spark.target.table import TargetTable

    if args.source_kind == "changelog":
        src_log = ChangeLogSource(spark, args.source)
        full = src_log.read_slice(-1, src_log.max_lsn())
        source = (
            dedup_max_lsn_agg(full).filter(F.col("op") != "D").drop("lsn", "op")
        )
    else:
        source = spark.read.parquet(args.source)

    tbl = TargetTable(spark, args.target)
    if not tbl.exists():
        print(json.dumps({"error": f"no table at {args.target}"}))
        return 1
    # Pin ONE snapshot for the whole run (r5 jobs review): target read,
    # change feed, and the reported to_version must resolve the SAME
    # version — letting each resolve current_version() independently
    # means a replay commit landing mid-run compares keys changed in a
    # newer snapshot against a stale target (false discrepancies) and
    # reports a to_version covering changes no run ever verified (a
    # silent gap when the next cron chains --changed-since-version from
    # it). Same pinning rollup_job applies to its refresh.
    to_version = tbl.current_version()
    target = tbl.read(version=to_version)
    out: dict = {}

    if args.changed_since_version is not None:
        from etl_reconciliate_spark.operators.reconcile import (
            reconcile_incremental,
        )

        from etl_reconciliate_spark.target.table import SnapshotExpiredError

        try:
            changed = tbl.read_changes(
                args.changed_since_version, to_version
            ).select("conv_id", "turn_idx").distinct().localCheckpoint()
            # localCheckpoint: the changed-key set feeds the count below
            # AND the semi-join inside every downstream action — without
            # it each action re-executes the CDC diff read (same
            # multi-consumer materialization dedup_index_job applies to
            # its delta frame).
        except SnapshotExpiredError as e:
            # the since-version was expired by expire_snapshots: its
            # deltas are unrecoverable, so degrade to a FULL reconcile
            # (it covers every key the lost range could have touched)
            # instead of a traceback — the one-JSON-line contract and
            # the to_version the next cron chains from both survive
            # (same self-healing the rollup/index jobs apply as their
            # rebuild_expired_base path)
            out["incremental"] = {
                "since_version": args.changed_since_version,
                "to_version": to_version,
                "fallback": "full",
                "reason": str(e),
            }
            recon = reconcile(
                source, target, n_salts=args.salts,
                hot_threshold=args.hot_threshold,
                comparator=args.comparator,
            )
        except ValueError as e:
            # a RANGE error (--changed-since-version above the pinned
            # to_version), not expiry: a silent full-recon fallback
            # would mask the caller's bad chaining input — fail loudly,
            # one-JSON-line contract (r5 review of the
            # expiry-degradation batch)
            print(json.dumps({
                "error": f"invalid --changed-since-version "
                         f"{args.changed_since_version} for "
                         f"to_version {to_version}: {e}",
            }))
            return 2
        else:
            # size-based broadcast decision (r3 advice): the count is one
            # cheap job over the already-pruned change read, and above the
            # limit the prune becomes a shuffle semi-join instead of a
            # driver-collected broadcast
            n_changed = changed.count()
            do_broadcast = n_changed <= args.changed_broadcast_limit
            recon = reconcile_incremental(
                source, target, changed, broadcast=do_broadcast,
                n_salts=args.salts, hot_threshold=args.hot_threshold,
                comparator=args.comparator,
            )
            out["incremental"] = {
                "since_version": args.changed_since_version,
                "to_version": to_version,
                "changed_keys": n_changed,
                "broadcast": do_broadcast,
            }
    elif args.strategy == "checksum":
        from pyspark import StorageLevel

        from etl_reconciliate_spark.operators.checksum import (
            block_checksums,
            checksum_diff,
            checksum_reconcile,
        )

        diff = checksum_diff(
            block_checksums(source, n_blocks=args.checksum_blocks),
            block_checksums(target, n_blocks=args.checksum_blocks),
        ).persist(StorageLevel.MEMORY_AND_DISK)  # n_blocks rows — tiny
        blk = diff.agg(
            F.count(F.lit(1)).alias("blocks"),
            F.sum(F.col("dirty").cast("int")).alias("dirty"),
        ).collect()[0]
        recon = checksum_reconcile(
            source, target, n_blocks=args.checksum_blocks, diff=diff,
            n_salts=args.salts, hot_threshold=args.hot_threshold,
            comparator=args.comparator,
        )
        out["checksum"] = {
            "n_blocks": args.checksum_blocks,
            "blocks_seen": blk["blocks"],
            "dirty_blocks": int(blk["dirty"] or 0),
        }
    else:
        recon = reconcile(
            source, target, n_salts=args.salts,
            hot_threshold=args.hot_threshold, comparator=args.comparator,
        )

    if args.results_dir:
        # K1 parity (reference: ExcelReportService.java:53-82 — two result
        # sets): the row-level and conversation-level result TABLES,
        # partitioned by status so discrepancy scans prune at scale.
        # The row-level table is written FIRST and every downstream
        # consumer (rollup, counts, report) re-reads the partitioned
        # parquet: caching the full full-outer output through executor
        # memory (bare .persist()) would stage ~the whole dataset at
        # 100 TB (round-2 verdict item 4); re-reading instead gives the
        # counts and report status-partition pruning for free.
        from etl_reconciliate_spark.sinks.report import write_result_table

        turns_dir = f"{args.results_dir}/recon_turns"
        convs_dir = f"{args.results_dir}/recon_conversations"
        recon_cols = recon.columns
        n_turns = write_result_table(recon, turns_dir)
        recon = spark.read.parquet(turns_dir).select(*recon_cols)
        rollup_df = rollup_conversations(recon)
        rollup_cols = rollup_df.columns
        n_convs = write_result_table(
            rollup_df, convs_dir, partition_by="conv_status"
        )
        rollup_df = spark.read.parquet(convs_dir).select(*rollup_cols)
        out["results"] = {
            "recon_turns": {"path": turns_dir, "rows": n_turns},
            "recon_conversations": {"path": convs_dir, "rows": n_convs},
        }
    elif args.report_dir:
        # no durable result table requested, but several consumers below —
        # materialize via disk spill, never through executor memory
        from pyspark import StorageLevel

        recon = recon.persist(StorageLevel.DISK_ONLY)
        rollup_df = rollup_conversations(recon).persist(StorageLevel.DISK_ONLY)
    else:
        # the bare path still has TWO consumers of the recon plan (the
        # status counts and the conversation rollup) — without a persist
        # each re-executes the dominant full-outer join (r5 jobs review)
        from pyspark import StorageLevel

        recon = recon.persist(StorageLevel.DISK_ONLY)
        rollup_df = rollup_conversations(recon)

    counts = {r["status"]: r["n"] for r in status_counts(recon).collect()}
    rollup = (
        rollup_df.groupBy("conv_status")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )

    if args.report_dir:
        # the HUMAN two-sheet report: discrepant turns + non-OK
        # conversations (the full sets live in --results-dir); sorted at
        # this emission boundary only.
        from etl_reconciliate_spark.sinks.report import write_two_sheet_report

        rep = write_two_sheet_report(
            {
                "discrepant_turns": recon.filter(F.col("status") != "MATCH"),
                "conversations": rollup_df.filter(F.col("conv_status") != "OK"),
            },
            args.report_dir,
            title="Transcript reconciliation",
            order_by={
                "discrepant_turns": ["conv_id", "turn_idx"],
                "conversations": ["conv_id"],
            },
            max_rows_per_sheet=args.report_max_rows,
        )
        out["report"] = rep

    print(json.dumps({
        "status_counts": counts,
        "conversation_counts": {r["conv_status"]: r["n"] for r in rollup},
        "total": sum(counts.values()),
        **out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
