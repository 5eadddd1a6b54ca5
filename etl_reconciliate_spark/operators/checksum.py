"""Checksum-block reconciliation — the 100 TB-scale recon strategy.

A row-level full-outer reconciliation (``operators.reconcile``) shuffles
BOTH tables on the key even when 99.99% of rows match — at 100 TB that
is the dominant cost of the whole pipeline. The scalable strategy
(pt-table-checksum / Datafold data-diff lineage; the reference's
row-at-a-time matcher at service/ReconciliationService.java:126-128 has
no analog) is hierarchical:

1. **Digest pass** — scan each side once, folding every row into an
   order-independent per-block digest: ``BIT_XOR`` of a 60-bit row hash
   plus a row count, blocks assigned by key hash. XOR is commutative and
   associative, so the aggregation is a pure map-side partial combine —
   the shuffle carries ``n_blocks`` rows per side, not the table.
2. **Compare pass** — full-outer join the two digest tables
   (``n_blocks`` rows each; broadcast-sized for any sane ``n_blocks``)
   and keep the dirty blocks.
3. **Drill-down pass** — collect the dirty block ids (at most
   ``n_blocks`` ints) and run the row-level reconcile ONLY on rows whose
   block is among them (one SQL ``IN``, planned as ``InSet``). A key
   lies in one block, so with no dirty block above ``hot_threshold``
   source rows the drill-down runs no hot-key census. Zero dirty blocks
   means no drill-down: the result is an empty frame, no join, no side
   scan.
   With drift rate ε, the expensive key shuffle touches ~ε·rows +
   collateral rows sharing a dirty block, never the table.

The row hash is the portable md5-derived family (``functions.hashing``)
so every digest is DuckDB-verifiable; at 100 TB swap ``xxhash64`` in at
that single seam. Rows are canonicalized injectively: explicit
per-column null sentinels (``concat_ws`` alone would let
('a', NULL, 'b') collide with ('a', 'b', NULL)) AND per-value length
prefixes (separator framing alone would let ('a\\x01b', 'c') collide
with ('a', 'b\\x01c') — see :func:`_canon`).

Guarantee: the drill-down's non-MATCH set equals the full row-level
reconcile's non-MATCH set exactly, modulo digest collisions: a
differing block reading equal requires the differing row-hash multisets
to cancel under BOTH the 60-bit XOR and the mod-2^31 sum
simultaneously (~2^-91 per block, non-adversarial data). The sum leg
exists because XOR alone is blind to even multiplicities — duplicate
keys on a side that does not enforce uniqueness (a raw parquet source;
the target table does enforce it) could self-cancel and read clean.
``tests/test_checksum.py`` asserts the equality on seeded drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from etl_reconciliate_spark.functions.hashing import hash32, hash60
from etl_reconciliate_spark.operators.reconcile import reconcile
from etl_reconciliate_spark.operators.skew import HOT_THRESHOLD
from etl_reconciliate_spark.schemas import KEY_COLS, STATUS_MATCH

NULL_SENTINEL = "\x00"
SEP = "\x01"


def _canon(cols: list[str]) -> Column:
    """Canonical string of a row slice: null-safe, INJECTIVE framing.

    Each non-null value is length-prefixed (``<len>:<value>``) before
    the separator join — a bare separator join is not injection-safe:
    ``('a\\x01b', 'c')`` and ``('a', 'b\\x01c')`` would frame
    identically, and a value equal to the NULL sentinel would read as
    NULL, letting two genuinely different rows produce equal digests
    DETERMINISTICALLY rather than at the advertised collision odds (r5
    operator review). The digit-run + ':' prefix pins every field
    boundary, and a null's bare sentinel can never equal a value's
    prefixed form."""
    parts = []
    for c in cols:
        s = F.col(c).cast("string")
        parts.append(
            F.coalesce(
                F.concat(F.length(s).cast("string"), F.lit(":"), s),
                F.lit(NULL_SENTINEL),
            )
        )
    return F.concat_ws(SEP, *parts)


def block_expr(key_cols: list[str], n_blocks: int) -> Column:
    """Block id of a row — key columns only, so the same logical row
    lands in the same block on both sides regardless of payload."""
    return F.pmod(hash32(_canon(key_cols)), F.lit(n_blocks)).cast("int")


def block_checksums(
    df: DataFrame,
    key_cols: list[str] | None = None,
    compare_cols: tuple[str, ...] = ("text",),
    n_blocks: int = 4096,
) -> DataFrame:
    """Per-block digest table: (block_id, n_rows, checksum, checksum_sum).

    One scan, one n_blocks-row shuffle (all three aggregates combine
    map-side). ``checksum`` folds keys AND compared payload columns, so
    any value drift — not just key drift — dirties the block.

    ``checksum_sum`` (SUM of the row hash mod 2^31) exists because XOR
    alone self-cancels on even multiplicities: with DUPLICATE keys in a
    side (a raw parquet source does not enforce uniqueness — the target
    side does), row X twice on one side vs row Y twice on the other
    XORs to 0 = 0 and the counts agree, reading clean (r3 advice). A
    sum never cancels a repeated value against itself: the blocks-equal
    condition becomes multiset equality up to simultaneous XOR- and
    sum-collisions. mod 2^31 keeps the sum exactly representable in
    int64 on both engines up to 2^32 rows per block.
    """
    keys = key_cols or KEY_COLS
    row_hash = hash60(_canon(keys + list(compare_cols)))
    return (
        df.select(
            block_expr(keys, n_blocks).alias("block_id"),
            row_hash.alias("_rh"),
        )
        .groupBy("block_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(_rh)").alias("checksum"),
            F.sum(F.pmod(F.col("_rh"), F.lit(1 << 31))).alias("checksum_sum"),
        )
    )


def checksum_diff(src_sums: DataFrame, tgt_sums: DataFrame) -> DataFrame:
    """Compare two digest tables → (block_id, src_rows, tgt_rows, dirty).

    Input is n_blocks rows per side; the join is broadcast-sized. A
    block is dirty when either side lacks it, row counts differ, or
    either digest (XOR or sum — see :func:`block_checksums` on why both)
    differs.
    """
    s = src_sums.select(
        F.col("block_id"),
        F.col("n_rows").alias("src_rows"),
        F.col("checksum").alias("src_checksum"),
        F.col("checksum_sum").alias("src_checksum_sum"),
    )
    t = tgt_sums.select(
        F.col("block_id"),
        F.col("n_rows").alias("tgt_rows"),
        F.col("checksum").alias("tgt_checksum"),
        F.col("checksum_sum").alias("tgt_checksum_sum"),
    )
    j = s.join(t, "block_id", "full_outer")
    dirty = (
        F.col("src_rows").isNull()
        | F.col("tgt_rows").isNull()
        | (F.col("src_rows") != F.col("tgt_rows"))
        | (F.col("src_checksum") != F.col("tgt_checksum"))
        | (F.col("src_checksum_sum") != F.col("tgt_checksum_sum"))
    )
    return j.select(
        "block_id",
        F.coalesce("src_rows", F.lit(0)).alias("src_rows"),
        F.coalesce("tgt_rows", F.lit(0)).alias("tgt_rows"),
        dirty.alias("dirty"),
    )


def checksum_reconcile(
    source: DataFrame,
    target: DataFrame,
    key_cols: list[str] | None = None,
    compare_cols: tuple[str, ...] = ("text",),
    n_blocks: int = 4096,
    diff: DataFrame | None = None,
    **recon_kwargs,
) -> DataFrame:
    """Discrepancy rows (status != MATCH) via checksum-pruned drill-down.

    Exactly the full reconcile's non-MATCH output, computed by shuffling
    only the rows of dirty blocks. Clean blocks are proven MATCH by
    their digests and never reach the join.

    Pass a precomputed (ideally persisted — it is n_blocks rows) ``diff``
    to share the digest pass with block-level reporting; it must come
    from :func:`checksum_diff` over the same (keys, compare_cols,
    n_blocks). Eager: the dirty block ids are collected when this is
    called, so the digests run once either way; the drill-down filter
    over them costs a fixed number of driver calls, however many.
    """
    keys = key_cols or KEY_COLS
    if keys != KEY_COLS:
        # the drill-down delegates to reconcile(), which classifies on
        # the engine's composite key; digests alone support any key set
        raise ValueError(f"checksum_reconcile requires key_cols={KEY_COLS}")
    if diff is None:
        diff = checksum_diff(
            block_checksums(source, keys, compare_cols, n_blocks),
            block_checksums(target, keys, compare_cols, n_blocks),
        )
    dirty = diff.filter(F.col("dirty")).select("block_id", "src_rows").collect()
    if dirty:
        # a key lies in one block: no dirty block above the threshold,
        # no hot key, so the drill-down needs no census job
        if max(r[1] for r in dirty) <= recon_kwargs.get("hot_threshold", HOT_THRESHOLD):
            recon_kwargs.setdefault("hot_keys", source.select(keys).limit(0))
        # one SQL IN over a scratch block column (Column.isin would send
        # one py4j call per id); Spark plans it as the same InSet filter
        blk, cols = "_block_id", set(source.columns) | set(target.columns)
        while blk in cols:
            blk += "_"
        block = block_expr(keys, n_blocks)
        in_dirty = F.expr(f"`{blk}` IN ({', '.join(str(r[0]) for r in dirty)})")
        source, target = (
            df.withColumn(blk, block).filter(in_dirty).drop(blk)
            for df in (source, target)
        )
    else:  # every block clean: the typed empty result, no join, no scan
        source, target = source.limit(0), target.limit(0)
    recon = reconcile(source, target, compare_cols=compare_cols, **recon_kwargs)
    return recon.filter(F.col("status") != STATUS_MATCH)
