"""spark-submit entrypoint: continuous-aggregate build + CDC refresh.

Maintains a materialized multi-grain token-volume rollup of the
transcripts target table — per (time bucket, role): turn count and
sum/min/max of per-turn whitespace token counts — and refreshes it
INCREMENTALLY from the table's own CDC-out surface
(``TargetTable.read_changes``): only the (bucket, role) cells touched
since the rollup's recorded snapshot version are recomputed
(``operators.temporal.refresh_rollup``), so a scheduled refresh costs
O(drift), never a table scan. The reference has no aggregate
maintenance at all (its only aggregation is the per-batch SUM,
service/ReconciliationService.java:70-89); this is the operational
metrics layer a 10^10-event transcript lake needs.

    # initial build (also: unconditional rebuild)
    spark-submit --py-files engine.zip jobs/rollup_job.py \
        --target /path/tbl --rollup-dir /path/rollup --grains hour,day

    # scheduled incremental refresh (no-op when the table hasn't moved)
    ... --target /path/tbl --rollup-dir /path/rollup --refresh

Dirty-cell derivation handles all three change kinds: insert/update
rows dirty their POSTIMAGE (ts, role) cell, delete rows carry their
preimage so they dirty the old cell directly, and for updated/deleted
keys the rollup's recorded FROM-version snapshot is probed (semi-join
on the changed keys — O(changed)) to dirty the PREIMAGE cells too, so
a turn whose ``ts``/``role`` itself changed vacates its old cell.

The rollup dir is a version log (``target/versions.py``): each run
builds into a fresh ``snap-{N}-*`` dir and publishes ``v{N}.json`` with
one put-if-absent link, so a reader of the highest version never sees a
half-written refresh, and of two overlapping runs the first to link
wins (the other exits 1 with a conflict), and a run whose pinned table
version is expired under it exits 1 without publishing. The last two
versions stay readable. Prints one JSON line with mode, from/to versions, dirty-cell
count and rollup row count.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import uuid


def _events_frame(tbl, key_cols, version=None):
    from pyspark.sql import functions as F

    from etl_reconciliate_spark.operators.textstats import token_count

    df = tbl.read(version=version)
    return df.filter(F.col("ts").isNotNull()).select(
        "ts", *key_cols, token_count(F.col("text")).alias("n_tokens")
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--target", required=True)
    ap.add_argument("--rollup-dir", required=True)
    ap.add_argument("--grains", default="hour,day",
                    help="finest-to-coarsest date_trunc units")
    ap.add_argument("--key-cols", default="role")
    ap.add_argument("--refresh", action="store_true",
                    help="incremental refresh from read_changes since the "
                         "rollup's recorded version (falls back to a full "
                         "build when no rollup exists yet)")
    ap.add_argument("--sweep-grace-secs", type=float, default=300.0,
                    help="after a publish, an unreferenced snap-* dir (an "
                         "output older than the last two, or a crashed or "
                         "conflicting run's build) is removed once its "
                         "version slot is published and it is older than "
                         "this many seconds; <=0 removes it at once")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("cdc_rollup").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from etl_reconciliate_spark.operators.temporal import (
        refresh_rollup,
        release_rollup_partials,
        rollup_timeseries,
    )
    from etl_reconciliate_spark.target.table import KEY_COLS, SnapshotExpiredError, TargetTable

    grains = tuple(g.strip() for g in args.grains.split(",") if g.strip())
    key_cols = tuple(c.strip() for c in args.key_cols.split(",") if c.strip())
    tbl = TargetTable(spark, args.target)
    if not tbl.exists():
        print(json.dumps({"error": f"no table at {args.target}"}))
        return 1
    to_version = tbl.current_version()
    from etl_reconciliate_spark.operators.textstats import TOKENIZER_VERSION
    from etl_reconciliate_spark.target.versions import (
        CommitConflictError,
        expire_versions,
        list_versions,
        publish_version,
        read_version,
    )

    published = list_versions(args.rollup_dir)
    base = published[-1] if published else -1
    prior_meta = read_version(args.rollup_dir, base) if published else None
    meta = None  # the refresh base, only when refreshing is possible
    remeasured = False
    if args.refresh and prior_meta is not None:
        meta = prior_meta
        if tuple(meta["grains"]) != grains or tuple(meta["key_cols"]) != key_cols:
            print(json.dumps({"error": "existing rollup has different "
                              "grains/key_cols; rebuild without --refresh"}))
            return 1
        if meta.get("measure_version") != TOKENIZER_VERSION:
            # built under another tokenizer (token counts don't depend on
            # the hash family): full rebuild, see textstats.TOKENIZER_VERSION
            remeasured = True
            meta = None

    out = {"to_version": to_version, "grains": list(grains),
           "key_cols": list(key_cols)}
    if remeasured:
        out["mode"] = "rebuild_measure_changed"
    os.makedirs(args.rollup_dir, exist_ok=True)
    # the slot this run publishes, named into its build dir: expiry
    # never collects a dir whose slot is not yet published. The random
    # suffix keeps an overlapping run on the same base out of this dir.
    data_name = f"snap-{base + 1:06d}-{uuid.uuid4().hex[:8]}"
    data_dir = os.path.join(args.rollup_dir, data_name)

    if meta is not None:
        from_version = meta["table_version"]
        out["mode"] = "refresh"
        out["from_version"] = from_version
        try:
            tbl.metadata(from_version)
        except FileNotFoundError:
            # the rollup's recorded snapshot was expired
            # (expire_snapshots) — read_changes cannot diff against it,
            # so degrade to a full rebuild instead of dying with a
            # traceback and no JSON line
            out["mode"] = "rebuild_expired_base"
            meta = None

    pins = [to_version] + ([meta["table_version"]] if meta else [])
    try:
        if meta is None:
            # "rebuild" (deliberate, prior rollup exists) vs "build" (first
            # run); the expiry branch above already stamped
            # "rebuild_expired_base" when the refresh base was expired
            out.setdefault("mode", "build" if prior_meta is None else "rebuild")
            # pin the read to to_version: a commit landing between
            # current_version() and the read would otherwise leak
            # post-to_version events into a rollup whose meta records
            # to_version (mixed-snapshot output until the next refresh)
            rollup = rollup_timeseries(
                _events_frame(tbl, key_cols, version=to_version), grains=grains,
                key_cols=key_cols, value_col="n_tokens",
            )
            rollup.write.mode("overwrite").parquet(data_dir)
        elif meta["table_version"] == to_version:
            out["dirty_cells"] = 0
            out["rollup_rows"] = meta["rollup_rows"]
            print(json.dumps(out))
            return 0
        else:
            from_version = meta["table_version"]
            changes = tbl.read_changes(from_version, to_version)
            # postimage cells (inserts/updates) + delete preimages (deletes
            # carry the last-known payload); a null-ts row occupies no cell
            post = changes.filter(changes["ts"].isNotNull()).select(
                "ts", *key_cols
            )
            # preimage cells of updated/deleted keys, probed from the
            # snapshot the rollup was built against (semi-join on the
            # changed keys — O(changed)) — covers a turn whose ts/role
            # itself moved and must vacate its old cell
            from pyspark.sql import functions as F

            pre = (
                tbl.read(version=from_version)
                .join(changes.select(*KEY_COLS).distinct(), list(KEY_COLS), "semi")
                .filter(F.col("ts").isNotNull())
                .select("ts", *key_cols)
            )
            dirty = post.unionByName(pre).distinct()
            out["dirty_cells"] = dirty.count()
            stale = spark.read.parquet(
                os.path.join(args.rollup_dir, meta["data_dir"])
            )
            refreshed = refresh_rollup(
                _events_frame(tbl, key_cols, version=to_version), stale, dirty,
                grains=grains, key_cols=key_cols, value_col="n_tokens",
            )
            refreshed.write.mode("overwrite").parquet(data_dir)
            release_rollup_partials()
    except (FileNotFoundError, SnapshotExpiredError):
        # a concurrent writer expired a version this run pinned: no publish
        gone = sorted(set(pins) - set(tbl.versions()))
        if not gone:
            raise
        print(json.dumps({"error": f"table version {gone[0]} expired mid-run"}))
        return 1

    rows = spark.read.parquet(data_dir).count()
    out["rollup_rows"] = rows
    try:
        publish_version(args.rollup_dir, base + 1, {
            "table_version": to_version, "grains": list(grains),
            "key_cols": list(key_cols), "data_dir": data_name,
            "rollup_rows": rows, "measure_version": TOKENIZER_VERSION,
        })
    except CommitConflictError as e:
        print(json.dumps({"error": f"publish conflict: {e}"}))
        return 1
    expire_versions(args.rollup_dir, keep_last=2,
                    orphan_grace_secs=args.sweep_grace_secs)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
