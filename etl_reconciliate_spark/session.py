"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a 1000-executor cluster submit would set
per-executor; the only local-specific knobs are master and shuffle
partition count (sized to cores instead of to data volume).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl_reconciliate_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    AQE is on (runtime coalesce + skew-join split are the backstop for
    the explicit skew handling in operators.reconcile); Arrow is on for
    every pandas interchange; session timezone is pinned UTC so results
    hash identically against the DuckDB oracle.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = 32 if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextlib.contextmanager
def pinned_shuffle_partitions(spark: SparkSession, n: int | None):
    """Pin ``spark.sql.shuffle.partitions`` to ``n`` (default: the
    session's current value) for the block, yielding the pinned count.

    The runners' dedup exchange, merge join and read-time window all
    size off the session conf, so an explicit partition count must be
    set there to govern them. The prior value is restored on exit: a
    runner may be embedded in a longer-lived session that must not
    inherit this parallelism."""
    prior = spark.conf.get("spark.sql.shuffle.partitions", "32")
    n = n or int(prior)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
