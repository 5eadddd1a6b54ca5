"""Explicit salted-key skew handling for large joins.

The north rule requires skew "handled explicitly" (BASELINE.json:14), on
top of AQE's runtime skew-join split. Transcript conversations are
Zipf-ish — one hot key can dominate a shuffle partition (SURVEY §7.3).

``hot_key_census`` counts one side's rows per key and keeps the keys
above ``hot_threshold``. ``salted_full_outer`` collects the hot set
once, as one job at call time: the census over both sides, or the
caller's ``hot_keys``. It is at most rows / ``hot_threshold`` keys per
side, through the driver as its broadcast always went. Shipped as data,
not a sub-plan, it keeps the side plans out of the join's plan.
``operators.reconcile`` passes the census of its source side only: its
target is the CDC table, one row per key, where a count finds no hot
key. With no hot key the result is ONE plain null-safe full outer join;
otherwise FULL OUTER ``L ⟗ R ON keys`` decomposes exactly:

* **cold keys** → plain full outer join (Catalyst picks the strategy);
* **hot keys** (the collected hot set) → three legs that together
  equal the full outer join:
    1. matched:   L_hot(+salt) ⋈ R_hot(×S replicas) on (keys, salt) —
       every L row meets every R row of its key exactly once, but the
       key's rows now spread across S reducers;
    2. L-only:    L_hot rows whose key has no R rows (key-level
       left_anti — correct because an equi-join on the full key matches
       a row iff the other side has ANY row for that key);
    3. R-only:    symmetric right_anti.

The matched leg uses DETERMINISTIC count-expand salting (r5; replaces
the r4 per-row ``monotonically_increasing_id`` ordinal, which made the
map stage indeterminate — after a fetch failure Spark had to retry the
whole stage, and a partial retry could have re-salted rows differently
than the map output already consumed, duplicating/dropping matched
rows — r4 advice):

1. each hot side collapses to DISTINCT rows + a count (byte-identical
   duplicate deliveries — the very pathology that makes transcript keys
   hot — collapse map-side via partial agg, and the exchange hashes the
   FULL row, uniform even for the hottest key);
2. a distinct L row's ``c`` copies spread across ``min(c, S)`` salt
   slots with per-slot shares ``c div S`` (+1 for the first
   ``c mod S`` slots), anchored at the row's content hash so
   singletons scatter uniformly instead of piling on slot 0;
3. distinct R rows replicate across all S salts (probe side);
4. after the (keys, salt) join each (l, r) pair re-expands
   ``share × r_count`` times via a chunked explode (bounded arrays).

Every expression is deterministic (hash + integer arithmetic), so stage
retries replay byte-identical salts, and the shuffle now carries
distinct rows + counts instead of every duplicate. Output column
convention matches ``join(..., "full_outer")`` with both sides aliased.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

HOT_THRESHOLD = 100_000  # rows of one key on one side that make it hot


def _null_safe_eq(a: list[str], b: list[str]) -> Column:
    """``a[0] <=> b[0] AND ...``: a null key component matches a null."""
    return reduce(Column.__and__, [F.col(x).eqNullSafe(F.col(y)) for x, y in zip(a, b)])


def hot_key_census(df: DataFrame, keys: list[str], threshold: int = HOT_THRESHOLD,
                   sample_fraction: float | None = None) -> DataFrame:
    """The ``keys`` values with more than ``threshold`` rows in ``df``:
    one pre-aggregation (map-side combined), tiny by construction.

    With ``sample_fraction`` the count runs on a seeded (deterministic
    across retries) Bernoulli sample against the threshold scaled down
    proportionally: a 100k-row hot key is found by a 1% sample with
    ~±10% count error, and aggregation state shrinks by 1/fraction."""
    if sample_fraction is not None:
        df = df.sample(fraction=sample_fraction, seed=7)
        threshold = max(1, int(threshold * sample_fraction))
    return (
        df.groupBy(keys)
        .agg(F.count(F.lit(1)).alias("_hot_n"))
        .filter(F.col("_hot_n") > threshold)
        .select(keys)
    )


def salted_full_outer(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    n_salts: int = 8,
    hot_threshold: int = HOT_THRESHOLD,
    left_prefix: str = "l",
    right_prefix: str = "r",
    hot_keys: DataFrame | None = None,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Exact FULL OUTER equi-join with explicit hot-key salting.

    Returns all columns of both sides, prefixed ``{left_prefix}_`` /
    ``{right_prefix}_`` (unmatched side → nulls). Eager by one job: the
    hot-key census is collected when this is called; an empty hot set
    returns one plain null-safe full outer join.

    Hot-key detection, cheapest first:

    * ``hot_keys`` — a caller-supplied (small) DataFrame of the key
      columns. At 100 TB the hot set is usually KNOWN ahead of time
      (previous run's census, table statistics, the run manifest) —
      passing it skips the census scans entirely.
    * ``sample_fraction`` — census on a seeded Bernoulli sample (see
      :func:`hot_key_census`). Exactness of the JOIN is unaffected:
      only the hot/cold routing is approximate, and both routes are
      exact.
    * default — :func:`hot_key_census` over each side, exact per-key
      counts (map-side combined).
    """
    def tag(df: DataFrame, prefix: str) -> DataFrame:
        return df.select([F.col(c).alias(f"{prefix}_{c}") for c in df.columns])

    lt = tag(left, left_prefix)
    rt = tag(right, right_prefix)
    lk = [f"{left_prefix}_{k}" for k in keys]
    rk = [f"{right_prefix}_{k}" for k in keys]
    hk = [f"_h_{k}" for k in keys]

    if hot_keys is None:  # a key is hot if either side exceeds the threshold
        hot_keys = hot_key_census(
            left, keys, hot_threshold, sample_fraction
        ).unionByName(hot_key_census(right, keys, hot_threshold, sample_fraction))
    census = hot_keys.select(keys).distinct()

    join_cond = _null_safe_eq(lk, rk)
    out_cols = lt.columns + rt.columns
    hot_set = census.collect()
    if not hot_set:
        return lt.join(rt, join_cond, "full_outer").select(out_cols)
    hot = F.broadcast(left.sparkSession.createDataFrame(hot_set, census.schema))

    def split(df: DataFrame, kcols: list[str]):
        h = hot.select([F.col(k).alias(h_) for k, h_ in zip(keys, hk)])
        cond = _null_safe_eq(kcols, hk)
        hot_rows = df.join(h, cond, "left_semi")
        cold_rows = df.join(h, cond, "left_anti")
        return hot_rows, cold_rows

    l_hot, l_cold = split(lt, lk)
    r_hot, r_cold = split(rt, rk)

    cold = l_cold.join(r_cold, join_cond, "full_outer")

    # Hot matched leg: deterministic count-expand salting (see module
    # docstring). _chunk_size bounds the re-expansion arrays so a
    # million-fold duplicate never materializes one giant sequence().
    _chunk = 4096
    l_dist = l_hot.groupBy(*l_hot.columns).agg(F.count(F.lit(1)).alias("_lc"))
    r_dist = r_hot.groupBy(*r_hot.columns).agg(F.count(F.lit(1)).alias("_rc"))

    salt_l = (
        l_dist.withColumn(
            "_slot", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
        )
        .withColumn(
            "_share",
            F.expr(f"_lc DIV {n_salts}")
            + F.when(
                F.col("_slot") < F.pmod(F.col("_lc"), F.lit(n_salts)), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        # singleton rows (_lc < n_salts) occupy only their first slots —
        # the filter keeps the shuffle at Σ min(_lc, S) rows per distinct
        # row, not a blanket ×S amplification
        .filter(F.col("_share") > 0)
        .withColumn(
            "_salt",
            F.pmod(
                F.xxhash64(*[F.col(c) for c in l_dist.columns if c != "_lc"])
                + F.col("_slot"),
                F.lit(n_salts),
            ).cast("long"),
        )
        .drop("_slot", "_lc")
    )
    salt_r = (
        r_dist.withColumn(
            "_salt_i", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
        )
        .withColumn("_salt", F.col("_salt_i").cast("long"))
        .drop("_salt_i")
    )
    matched = (
        salt_l.join(
            salt_r, join_cond & (salt_l["_salt"] == salt_r["_salt"]), "inner"
        )
        .withColumn("_rep", F.col("_share") * F.col("_rc"))
        .withColumn(
            "_c",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"), F.expr(f"(_rep - 1) DIV {_chunk}")
                )
            ),
        )
        .withColumn(
            "_i",
            F.explode(
                F.sequence(
                    F.lit(1).cast("long"),
                    F.least(
                        F.col("_rep") - F.col("_c") * F.lit(_chunk),
                        F.lit(_chunk).cast("long"),
                    ),
                )
            ),
        )
        .drop("_salt", "_share", "_rc", "_rep", "_c", "_i")
    )

    # key-LEVEL anti: a full-row anti-join would hash-partition both
    # hot sides by the raw key — every row of the hottest key on one
    # reducer, the exact hotspot the salting removed (r4 review). The
    # distinct key set of a hot side is bounded by the hot-key census,
    # so broadcast it and no skewed shuffle happens at all.
    r_hot_keys = F.broadcast(
        r_hot.select([F.col(c).alias(h_) for c, h_ in zip(rk, hk)]).distinct()
    )
    l_hot_keys = F.broadcast(
        l_hot.select([F.col(c).alias(h_) for c, h_ in zip(lk, hk)]).distinct()
    )
    l_only = l_hot.join(r_hot_keys, _null_safe_eq(lk, hk), "left_anti")
    r_only = r_hot.join(l_hot_keys, _null_safe_eq(rk, hk), "left_anti")

    null_r = [F.lit(None).cast(rt.schema[c].dataType).alias(c) for c in rt.columns]
    null_l = [F.lit(None).cast(lt.schema[c].dataType).alias(c) for c in lt.columns]
    l_only_full = l_only.select([F.col(c) for c in lt.columns] + null_r)
    r_only_full = r_only.select(null_l + [F.col(c) for c in rt.columns])

    return (
        cold.select(out_cols)
        .unionByName(matched.select(out_cols))
        .unionByName(l_only_full.select(out_cols))
        .unionByName(r_only_full.select(out_cols))
    )
