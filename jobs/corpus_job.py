"""spark-submit entrypoint: end-to-end training-corpus preparation.

Composes the curation + last-mile operators into the runnable pipeline
a training-data team would schedule (the LLM-pipeline counterpart of
``replay_job`` for the CDC side):

1. **curate** — quality gate → language gate → exact dedup → MinHash-LSH
   near-dup removal (``operators.curate.curate_corpus``; gates folded
   into one scan);
2. **decontaminate** (optional, ``--benchmark``) — drop training docs
   sharing ≥ ``--contamination-frac`` of their char-8-gram shingles
   with any benchmark doc (``operators.corpus.decontaminate``);
3. **split** — deterministic hash train/val/test assignment
   (``operators.corpus.split_assign``; stable under corpus growth);
4. **pack** — GPT-style per-shard sequence packing
   (``operators.corpus.pack_sequences``);
5. **write** — one parquet tree partitioned by (split, shard): the
   layout a training loader reads shard-parallel, with packing offsets
   alongside the text.

Prints one JSON line of per-stage row counts + per-split token totals
(the pipeline's lineage record, same idea as the replay manifest).

    spark-submit --py-files engine.zip jobs/corpus_job.py \
        --docs /root/testdata/sf0.01/documents.parquet \
        --out /tmp/corpus [--benchmark /path/bench.parquet] \
        [--budget-tokens 2048] [--shards 64] [--langs en,es]
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="input documents parquet")
    ap.add_argument("--out", required=True, help="output corpus root")
    ap.add_argument("--benchmark", default=None,
                    help="benchmark/eval docs parquet for decontamination")
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--langs", default="en")
    ap.add_argument("--jaccard-threshold", type=float, default=0.5)
    ap.add_argument("--contamination-frac", type=float, default=0.3)
    # exposes decontaminate()'s broadcast escape hatch on the runnable
    # surface — without it an over-large benchmark frame OOMs executors
    # with no opt-out (r5 batch review)
    ap.add_argument("--no-broadcast-benchmark", action="store_true",
                    help="shuffle-join the benchmark shingle set instead "
                    "of broadcasting it — use when the benchmark corpus "
                    "is too large for executor memory. A partial opt-out: "
                    "the per-document sizes frame (one row per benchmark "
                    "doc) stays broadcast")
    ap.add_argument("--budget-tokens", type=int, default=2048)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--seed", type=int, default=7, help="split seed")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    spark = SparkSession.builder.appName("corpus_prep").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from etl_reconciliate_spark.operators.corpus import (
        decontaminate,
        pack_sequences,
        split_assign,
    )
    from etl_reconciliate_spark.operators.curate import curate_corpus

    docs = spark.read.parquet(args.docs)
    n_in = docs.count()

    # keep_cols carries text through the curation projection — no
    # second documents scan/join to re-attach it
    from pyspark import StorageLevel

    # DISK_ONLY persists (r5 jobs review): the curated — and, with
    # --benchmark, the decontaminated — lineage feeds the count below
    # AND the split/pack/re-attach plan; unpersisted, the curation
    # pipeline (and the contamination shingle join, the costliest
    # stage) re-executed up to three times. Disk spill, never executor
    # memory: the frame is the job's own output scale.
    curated = curate_corpus(
        docs,
        min_quality=args.min_quality,
        min_tokens=args.min_tokens,
        langs=tuple(args.langs.split(",")),
        jaccard_threshold=args.jaccard_threshold,
        keep_cols=("text",),
    ).select("doc_id", "text").persist(StorageLevel.DISK_ONLY)
    n_curated = curated.count()

    n_decontaminated = n_curated
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        pre_decontam = curated
        curated = decontaminate(
            curated, bench, min_overlap_frac=args.contamination_frac,
            broadcast=not args.no_broadcast_benchmark,
        ).persist(StorageLevel.DISK_ONLY)
        n_decontaminated = curated.count()
        # the count above fully materialized the decontaminated copy —
        # release the pre-decontamination one now, or two corpus-scale
        # copies sit on executor disk for the whole split/pack phase
        pre_decontam.unpersist()

    split = split_assign(curated, seed=args.seed)
    # pack WITHIN each (split, shard): a sequence must never span
    # splits, or a loader reading one split reconstructs sequences with
    # holes at foreign-split offsets (r4 review)
    packed = pack_sequences(
        split, budget_tokens=args.budget_tokens, n_shards=args.shards,
        extra_partition_cols=("split",),
    )
    # re-attach text by id; the write clusters by (split, shard) so a
    # training loader reads its shard's files only
    out_df = (
        packed.join(split.select("doc_id", "text"), "doc_id")
        .select("doc_id", "split", "shard", "seq_id", "start_offset",
                "n_tokens", "text")
    )
    out_df.repartition("split", "shard").write.mode("overwrite").option(
        "compression", "zstd"
    ).partitionBy("split", "shard").parquet(args.out)

    written = spark.read.parquet(args.out)
    split_stats = {
        r["split"]: {"docs": r["docs"], "tokens": r["tokens"]}
        for r in written.groupBy("split")
        .agg(F.count(F.lit(1)).alias("docs"), F.sum("n_tokens").alias("tokens"))
        .collect()
    }
    print(json.dumps({
        "docs_in": n_in,
        "docs_curated": n_curated,
        "docs_after_decontamination": n_decontaminated,
        "splits": split_stats,
        "budget_tokens": args.budget_tokens,
        "shards": args.shards,
        "out": args.out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
