"""spark-submit entrypoint: CDC replay of a transcript change log.

Packaging per BASELINE.json:6,14 — the engine ships as modular
py-files::

    zip -r engine.zip etl_reconciliate_spark
    spark-submit --master local[32] --py-files engine.zip \
        jobs/replay_job.py --changelog /path/log --target /path/tbl \
        [--slice-size 250000] [--gen-events N]   # gen a seeded log first

Prints one JSON line with the run stats (events applied, wall seconds
of the apply loop, events/sec) — the measurement contract of
BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--changelog", required=True)
    ap.add_argument("--target", required=True)
    ap.add_argument("--slice-size", type=int, default=250_000)
    ap.add_argument("--gen-events", type=int, default=0,
                    help="generate a seeded change log at --changelog first")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--text-len", type=int, default=256,
                    help="approx text payload bytes for generated events")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--no-lineage", action="store_true")
    ap.add_argument("--compact-every", type=int, default=8,
                    help="fold deltas into the base every N commits")
    ap.add_argument("--expire-keep", type=int, default=2,
                    help="keep the newest N snapshots after each slice "
                         "(0 disables expiry). Raise this — or disable — "
                         "when a downstream incremental consumer "
                         "(reconcile_job --changed-since-version, "
                         "rollup_job --refresh) tracks an older version: "
                         "expiring its base forces a full "
                         "re-read/rebuild there")
    ap.add_argument("--max-slices", type=int, default=None,
                    help="stop after N slices (bounded partial replay — "
                         "resume later from the committed offsets; also "
                         "used by the scaling bench to replay an "
                         "LSN-prefix of a shared log)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("cdc_replay").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from etl_reconciliate_spark.datagen import write_changelog_spark
    from etl_reconciliate_spark.streaming.runner import replay

    if args.gen_events:
        write_changelog_spark(
            spark, args.changelog, args.gen_events,
            seed=args.seed, text_len=args.text_len,
        )

    stats = replay(
        spark,
        args.changelog,
        args.target,
        slice_size=args.slice_size,
        n_partitions=args.partitions,
        collect_lineage=not args.no_lineage,
        compact_threshold=args.compact_every,
        max_slices=args.max_slices,
        expire_keep=args.expire_keep,
    )
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
