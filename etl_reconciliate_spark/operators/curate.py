"""End-to-end training-corpus curation pipeline.

Composes the individually-oracle-checked operators into the shape a
real LLM-data pipeline runs over raw documents:

1. **quality gate** — composite score ≥ ``min_quality`` and
   ``n_tokens`` ≥ ``min_tokens`` (operators.textstats.with_quality);
2. **language gate** — marker-n-gram prediction in ``langs``
   (with_lang_id);
3. **exact dedup** — keep the min-doc_id representative per content
   fingerprint (with_fingerprint + one window);
4. **near-dup removal** — MinHash-LSH candidates → EXACT Jaccard verify
   ≥ ``jaccard_threshold`` (dedupe_docs.lsh_jaccard_pairs, the at-scale
   bucketed path) → GREEDY drop: every doc that appears as the
   larger-doc_id side of any verified near-dup pair is dropped,
   regardless of whether its smaller partner itself survived (standard
   MinHash-dedup practice — RefinedWeb/SlimPajama do the same; in a
   chain a~b, b~c with a≁c this drops both b and c, trading a little
   recall of borderline docs for a single-pass, join-free drop rule).

Everything is native column algebra over one pipeline of DataFrames —
filters run before the (expensive) shingling so the dedup stages only
touch surviving documents; the LSH candidate join shuffles
O(n_docs × n_bands), never n². Deterministic end to end, so the whole
composition is value-checked against a single DuckDB SQL oracle
(__spark_entry__.SQL_CURATE).

reference: no equivalent exists in the reference app — this is the
§"beyond the reference" training-data surface; stage semantics follow
public corpus-cleaning pipelines (C4/Gopher-style gates, MinHash dedup
a la RefinedWeb/SlimPajama).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from etl_reconciliate_spark.operators.dedupe_docs import lsh_jaccard_pairs
from etl_reconciliate_spark.operators.textstats import (
    lang_pred_column,
    quality_columns,
    with_fingerprint,
)

# most recent call's persisted survivor frame (single slot; see the
# cache contract in curate_corpus)
_LAST_SURVIVORS: list[DataFrame] = []


def release_curate_cache() -> None:
    """Unpersist the survivor cache of the most recent
    :func:`curate_corpus` call (safe any time — Spark recomputes
    evicted partitions from lineage)."""
    while _LAST_SURVIVORS:
        try:
            _LAST_SURVIVORS.pop().unpersist(blocking=True)
        except Exception:  # session already stopped
            pass


def curate_corpus(
    docs: DataFrame,
    min_quality: float = 0.3,
    min_tokens: int = 5,
    langs: tuple[str, ...] = ("en",),
    k: int = 8,
    n_bands: int = 4,
    rows_per_band: int = 4,
    jaccard_threshold: float = 0.5,
    keep_cols: tuple[str, ...] = (),
    persist_survivors: bool = True,
) -> DataFrame:
    """Returns the curated corpus: (doc_id, lang_pred, n_tokens,
    quality_score) for every document surviving all four stages.

    The two gates are pure column algebra folded into ONE projection of
    the input scan (no self-joins: at 100 TB, joining three scans of
    the same table on doc_id would triple the read and add two
    shuffles).

    Cache contract (r5 — the r4 bench drift was real): the exact-dedup
    survivor frame feeds THREE lazy consumers (the LSH signature build,
    the pruned verify's semi-join, and the final anti-join), and
    without a persist each re-executes the gate+fingerprint-WINDOW
    lineage — the executed plan held 14 scans and 21 window executions
    of the same shuffle. ``persist_survivors`` (default) persists the
    KEEP-ID SET only (bounded by distinct fingerprints — tiny), so the
    window shuffle runs exactly once while the gates — shuffle-free
    column algebra over a pruned scan — re-run per consumer; caching
    the full text-bearing frame instead measured SLOWER locally
    (serialization tax) and would materialize a corpus-sized cache at
    100 TB to save scans that are embarrassingly parallel anyway.
    Lifecycle follows the standard pattern: the module slot holds it
    and :func:`release_curate_cache` (or the next call) releases it."""
    qc = quality_columns()
    # keep_cols beyond the five standard outputs must enter the gated
    # projection here, or the final select cannot resolve them (the
    # docstring advertises arbitrary ride-through columns — r5 operator
    # review found keep_cols=("source",) crashed with UNRESOLVED_COLUMN)
    base_cols = ("doc_id", "text", "lang_pred", "n_tokens", "quality_score")
    extra = [c for c in keep_cols if c not in base_cols]
    gated = docs.select(
        "doc_id",
        "text",
        *extra,
        lang_pred_column().alias("lang_pred"),
        qc["n_tokens"].alias("n_tokens"),
        qc["quality_score"].alias("quality_score"),
    ).filter(
        (F.col("quality_score") >= min_quality)
        & (F.col("n_tokens") >= min_tokens)
        & F.col("lang_pred").isin(*langs)
    )

    fp = with_fingerprint(gated)
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    exact_keep = (
        fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id")
    )
    if persist_survivors:
        from pyspark import StorageLevel

        # release BEFORE persisting (same-CacheManager-entry rule — see
        # spans.duplicated_span_stats)
        release_curate_cache()
        exact_keep = exact_keep.persist(StorageLevel.MEMORY_AND_DISK)
        _LAST_SURVIVORS.append(exact_keep)
    exact = gated.join(exact_keep, "doc_id")

    pairs = lsh_jaccard_pairs(
        exact, k=k, n_bands=n_bands, rows_per_band=rows_per_band,
        threshold=jaccard_threshold,
    )
    near_dup_drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    # keep_cols (e.g. ("text",)) ride through from the gated projection —
    # the surviving frame already carries them, so callers that need the
    # text avoid a second full-table join just to re-attach it (r4
    # review: jobs/corpus_job re-scanned and re-shuffled the whole
    # documents table for exactly that). Filtered against the four
    # standard outputs like `extra` above, or keep_cols=("n_tokens",)
    # would emit a duplicate-named column and break any downstream
    # reference with AMBIGUOUS_REFERENCE (r5 batch review). Derived
    # from base_cols (text is the one gated input NOT emitted unless
    # asked for via keep_cols) so the two lists cannot drift.
    std = tuple(c for c in base_cols if c != "text")
    ride = [c for c in keep_cols if c not in std]
    return exact.join(near_dup_drop, "doc_id", "left_anti").select(
        *std, *ride
    )


def curate_embeddings(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_bands: int = 4,
    planes_per_band: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-level (semantic) dedup curation, SemDeDup-style: drop
    every vector that has a near-duplicate with a smaller id, keep the
    rest.

    Where SemDeDup (Abbas et al. 2023) prunes within k-means clusters,
    this uses the deterministic banded sign-LSH buckets
    (``dedupe_docs.embedding_lsh_near_dup_pairs``) as the candidate
    neighborhoods — the same scan-fraction economics (candidate pairs ∝
    bucket collisions, never n²) with the added property that the whole
    operator is exactly reproducible by an oracle engine: the planes are
    driver-side literals and the cosine folds left-to-right.

    Drop rule is the same GREEDY larger-id drop as :func:`curate_corpus`
    stage 4 (every ``id_b`` of a verified pair is dropped regardless of
    whether its smaller partner survived — standard MinHash/SemDeDup
    dedup practice). Returns the surviving ids: one ``id_col`` column.
    """
    from etl_reconciliate_spark.operators.dedupe_docs import (
        embedding_lsh_near_dup_pairs,
    )

    pairs = embedding_lsh_near_dup_pairs(
        emb, dim=dim, threshold=threshold, n_bands=n_bands,
        planes_per_band=planes_per_band, id_col=id_col, vec_col=vec_col,
    )
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return emb.select(id_col).join(drops, id_col, "left_anti")


def curation_stats(
    docs: DataFrame, curated: DataFrame
) -> DataFrame:
    """One-row summary: input vs surviving counts (for reports)."""
    n_in = docs.select(F.count(F.lit(1)).alias("n_input"))
    n_out = curated.select(F.count(F.lit(1)).alias("n_kept"))
    return n_in.crossJoin(n_out).withColumn(
        "drop_rate",
        (F.col("n_input") - F.col("n_kept")) / F.col("n_input"),
    )
