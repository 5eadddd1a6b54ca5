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

The rollup dir is a version log; ``target.versions.refresh_output``
runs each build or refresh (modes, publish, conflicts, expiry) and
prints its JSON line: mode, from/to versions, dirty-cell count and
rollup row count.
"""

from __future__ import annotations

import argparse
import sys


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
    from etl_reconciliate_spark.operators.textstats import TOKENIZER_VERSION
    from etl_reconciliate_spark.target.table import KEY_COLS, TargetTable
    from etl_reconciliate_spark.target.versions import refresh_output

    grains = tuple(g.strip() for g in args.grains.split(",") if g.strip())
    key_cols = tuple(c.strip() for c in args.key_cols.split(",") if c.strip())
    tbl = TargetTable(spark, args.target)

    def build(to_version, data_dir):
        # pin the read to to_version: a commit landing between
        # current_version() and the read would otherwise leak
        # post-to_version events into a rollup whose meta records
        # to_version (mixed-snapshot output until the next refresh)
        rollup_timeseries(
            _events_frame(tbl, key_cols, version=to_version), grains=grains,
            key_cols=key_cols, value_col="n_tokens",
        ).write.mode("overwrite").parquet(data_dir)
        return {}

    def update(from_version, to_version, stale, data_dir):
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
        dirty_cells = dirty.count()
        refresh_rollup(
            _events_frame(tbl, key_cols, version=to_version),
            stale, dirty,
            grains=grains, key_cols=key_cols, value_col="n_tokens",
        ).write.mode("overwrite").parquet(data_dir)
        release_rollup_partials()
        return {"dirty_cells": dirty_cells}

    # token counts depend on the tokenizer only, not on the hash family
    return refresh_output(
        tbl, args.rollup_dir, name="rollup",
        params={"grains": list(grains), "key_cols": list(key_cols)},
        measure_version=TOKENIZER_VERSION, refresh=args.refresh,
        sweep_grace_secs=args.sweep_grace_secs, build=build, update=update,
        unchanged=lambda table_meta: {"dirty_cells": 0},
    )


if __name__ == "__main__":
    sys.exit(main())
