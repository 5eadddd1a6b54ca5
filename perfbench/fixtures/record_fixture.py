"""Re-record the event-log fixture of ``test_eventlog.py``.

    python3 perfbench/fixtures/record_fixture.py

Runs two tagged jobs and one untagged job under ``local[2]`` with the
event log on, then keeps only the event kinds the parser reads, drops
stack traces and plan text, and rewrites the work and checkout
directories in the remaining strings to ``/data`` and ``/src`` so the
fixture holds no host paths.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
KEEP = (
    "SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd",
    "SparkListenerStageCompleted", "SQLExecutionStart", "SQLAdaptiveExecutionUpdate",
    "SparkListenerDriverAccumUpdates",
)
DROP_KEYS = {"physicalPlanDescription", "details", "Details", "modifiedConfigs",
             "Task Executor Metrics", "RDD Info", "jobTags", "Properties"}
KEEP_PROPS = {"spark.job.description", "spark.sql.execution.id"}


def _clean(e, work_dir: str):
    if isinstance(e, dict):
        out = {}
        for k, v in e.items():
            if k == "Properties":
                out[k] = {p: v[p] for p in KEEP_PROPS if p in v}
            elif k not in DROP_KEYS:
                out[k] = _clean(v, work_dir)
        return out
    if isinstance(e, list):
        return [_clean(v, work_dir) for v in e]
    if isinstance(e, str):
        return e.replace(work_dir, "/data").replace(ROOT, "/src")
    return e


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    work_dir = os.path.join(ROOT, ".perfbench_work", "fixture")
    shutil.rmtree(work_dir, ignore_errors=True)
    ev_dir = os.path.join(work_dir, "ev")
    os.makedirs(ev_dir)
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", ev_dir)
             .getOrCreate())
    sc = spark.sparkContext
    df = spark.range(0, 1000, 1, numPartitions=2).groupBy((F.col("id") % 10).alias("g")).count()
    sc.setJobDescription("pb:0:aggregate")
    assert len(df.collect()) == 10
    sc.setJobDescription("pb:1:write")
    df.write.parquet(os.path.join(work_dir, "out"))
    sc.setJobDescription(None)
    spark.range(10).count()
    app = spark.sparkContext.applicationId
    spark.stop()

    src = glob.glob(os.path.join(ev_dir, "eventlog_v2_*", "events_*"))[0]
    with pa.CompressedInputStream(pa.OSFile(src), "zstd") as s:
        events = [json.loads(line) for line in s.read().decode().splitlines() if line]
    kept = [_clean(e, work_dir) for e in events if e["Event"].endswith(KEEP)]
    body = "".join(json.dumps(e) + "\n" for e in kept).replace(app, "local-fixture")
    for old in glob.glob(os.path.join(HERE, "eventlog_v2_*")):
        shutil.rmtree(old)
    out_dir = os.path.join(HERE, "eventlog_v2_local-fixture")
    os.makedirs(out_dir)
    with pa.CompressedOutputStream(
            os.path.join(out_dir, "events_1_local-fixture.zstd"), "zstd") as f:
        f.write(body.encode())
    shutil.rmtree(work_dir)


if __name__ == "__main__":
    main()
