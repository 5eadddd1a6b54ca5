"""spark-submit entrypoint: Structured-Streaming CDC ingest.

The native-streaming variant of jobs/replay_job.py — same packaging::

    zip -r engine.zip etl_reconciliate_spark
    spark-submit --master local[8] --py-files engine.zip \
        jobs/stream_job.py --changelog /path/log --target /path/tbl \
        --checkpoint /path/ckpt [--max-files-per-trigger 8] \
        [--dedup-within-watermark '10 minutes']

Drains the discoverable backlog with an availableNow trigger (run it
from cron/Airflow for a periodic tail, or adapt the trigger for a
long-running ingest), resumable from Spark's checkpoint. Prints one
JSON line with the run stats.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--changelog", required=True)
    ap.add_argument("--target", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--compact-every", type=int, default=8)
    ap.add_argument("--dedup-within-watermark", default=None,
                    help="e.g. '10 minutes': drop re-delivered LSNs in "
                         "the streaming state store before the merge")
    ap.add_argument("--changelog-format", default="parquet",
                    choices=["parquet", "debezium-jsonl"],
                    help="parquet change-log table or raw Debezium "
                         "JSON envelope lines")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("cdc_stream").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from etl_reconciliate_spark.streaming.stream_runner import replay_stream

    stats = replay_stream(
        spark,
        args.changelog,
        args.target,
        args.checkpoint,
        n_partitions=args.partitions,
        max_files_per_trigger=args.max_files_per_trigger,
        compact_threshold=args.compact_every,
        dedup_within_watermark=args.dedup_within_watermark,
        changelog_format=args.changelog_format,
    )
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
