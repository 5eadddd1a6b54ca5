"""Max-LSN deduplication of change events per key — the engine's ONE
winner rule.

Before a merge, each (conv_id, turn_idx) keeps only its max-LSN event.
Within a slice several events may touch the same key — multiple
updates, a delete then re-insert, plus duplicate deliveries of the SAME
lsn (at-least-once transport). The winner is the event with the highest
LSN; equal-LSN duplicates are identical payloads, broken
deterministically on op so the result is stable.

Every per-key winner pick in the engine goes through this module, and
the caller's input kind picks the implementation:

* :func:`dedup_max_lsn_agg` — raw change batches (replay slices, stream
  micro-batches, the change-log fold of ``reconcile_job``): a hash
  aggregate whose map-side partial combine collapses duplicates BEFORE
  the shuffle;
* :func:`dedup_max_lsn` — a sort-based window ranking, used by
  ``TargetTable`` to resolve base + delta dirs at read time (ordered on
  ``_lsn``; cheaper than the aggregate there) and as the reference the
  aggregate is tested against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from etl_reconciliate_spark.schemas import KEY_COLS


def dedup_max_lsn(
    df: DataFrame,
    key_cols: list[str] | None = None,
    order: tuple[str, ...] = ("lsn", "op"),
) -> DataFrame:
    """One row per key: the row ranking first on ``order`` descending
    (default: max-LSN, ties broken on op desc, so a duplicated delivery
    pair (same lsn, same op) collapses stably)."""
    keys = key_cols or KEY_COLS
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_max_lsn_agg(df: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """Same result as :func:`dedup_max_lsn`, as a hash AGGREGATE instead
    of a sort-based window: ``max_by(payload, (lsn, op))`` per key.

    Why it wins on change batches: HashAggregate does a map-side partial
    combine, so duplicate deliveries and multi-update keys collapse
    BEFORE the shuffle (the window must shuffle every raw event, then
    sort each partition). The agg's own exchange hash-partitions by
    exactly the merge keys, so no separate ``repartition`` is needed
    upstream. Tie-break matches the window: lexicographic (lsn, op)
    descending — equal-LSN duplicates are identical payloads, op breaks
    I/U/D ties deterministically."""
    keys = key_cols or KEY_COLS
    payload = [c for c in df.columns if c not in keys]
    ordk = F.struct(F.col("lsn"), F.col("op"))
    agg = df.groupBy(*keys).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload]), ordk).alias("_win")
    )
    return agg.select(
        *[F.col(k) for k in keys], *[F.col(f"_win.{c}").alias(c) for c in payload]
    )
