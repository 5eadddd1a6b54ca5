"""spark-submit entrypoint: persisted MinHash band index + CDC refresh.

The build-once / refresh-incrementally deployment surface for
near-duplicate dedup over a CDC-maintained transcript lake (r4 verdict
item 2): a 100 TB corpus ingesting 10^10 events/day cannot re-LSH the
whole corpus per day — instead the corpus keeps a PERSISTED band index
((doc_id, band, bh) — ``operators.dedupe_docs.minhash_band_index``)
and each refresh

1. pulls the conversations touched since the index's recorded snapshot
   from the table's own CDC-out surface (``TargetTable.read_changes``),
2. re-assembles ONLY those conversations into documents
   (``operators.corpus.conversations_to_documents`` — the turns frame
   is semi-joined on the changed conv_ids BEFORE the assembly groupBy,
   so the read is O(drift), bucket-prunable on a keyed table),
3. swaps their index rows (anti-join out stale rows ∪ fresh rows) into
   the next version of the index dir's version log,
4. probes the fresh rows against the updated index and reports the NEW
   near-dup pairs (exact-Jaccard verified; the verify assembles only
   candidate conversations).

Deterministic end to end (affine hash family + md5 banding), so an
index built at version N and a signature recomputed at version N+k
agree bit-for-bit — no epoch drift, no rebuild-to-trust.

    # initial build
    spark-submit --py-files engine.zip jobs/dedup_index_job.py \
        --target /path/tbl --index-dir /path/dedup_idx

    # scheduled incremental refresh (no-op when the table hasn't moved)
    ... --target /path/tbl --index-dir /path/dedup_idx --refresh

``target.versions.refresh_output`` runs each build or refresh (modes,
publish, conflicts, expiry) and prints its JSON line: mode, from/to
versions, changed/indexed doc counts and new-pair count.

reference: no equivalent in the reference app (its only dedup is the
batch-id NOT-IN filter, reader/*.java) — this is the §"beyond the
reference" training-data surface, CDC-native.
"""

from __future__ import annotations

import argparse
import sys


def _docs_frame(turns):
    """Transcript turns → documents-shaped frame (doc_id, text)."""
    from pyspark.sql import functions as F

    from etl_reconciliate_spark.operators.corpus import conversations_to_documents

    return conversations_to_documents(turns).select(
        F.col("conv_id").alias("doc_id"), F.col("doc_text").alias("text")
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--target", required=True)
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--k", type=int, default=8, help="shingle width")
    ap.add_argument("--bands", type=int, default=4)
    ap.add_argument("--rows-per-band", type=int, default=4)
    ap.add_argument("--threshold", type=float, default=0.5,
                    help="exact-Jaccard threshold for reported pairs")
    ap.add_argument("--refresh", action="store_true",
                    help="incremental refresh from read_changes since the "
                         "index's recorded version (falls back to a full "
                         "build when no index exists yet)")
    ap.add_argument("--sweep-grace-secs", type=float, default=300.0,
                    help="after a publish, an unreferenced snap-* dir (an "
                         "index older than the last two, or a crashed or "
                         "conflicting run's build) is removed once its "
                         "version slot is published and it is older than "
                         "this many seconds; <=0 removes it at once")
    ap.add_argument("--pairs-out", default=None,
                    help="also write the new near-dup pairs parquet here")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    spark = SparkSession.builder.appName("dedup_index").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from etl_reconciliate_spark.operators.dedupe_docs import (
        SIGNATURE_VERSION,
        _exact_jaccard,
        char_shingles,
        lsh_jaccard_pairs,
        minhash_band_index,
        probe_band_index,
    )
    from etl_reconciliate_spark.target.table import TargetTable
    from etl_reconciliate_spark.target.versions import refresh_output

    tbl = TargetTable(spark, args.target)

    def build_index(docs):
        return minhash_band_index(
            docs, k=args.k, n_bands=args.bands,
            rows_per_band=args.rows_per_band,
        )

    def write_index(idx, data_dir):
        idx.write.mode("overwrite").option("compression", "zstd").parquet(
            data_dir
        )

    def report_pairs(pairs):
        if args.pairs_out:
            pairs.write.mode("overwrite").parquet(args.pairs_out)
            return {"new_pairs": spark.read.parquet(args.pairs_out).count(),
                    "pairs_path": args.pairs_out}
        return {"new_pairs": pairs.count()}

    def build(to_version, data_dir):
        docs = _docs_frame(tbl.read(version=to_version))
        write_index(build_index(docs), data_dir)
        if not args.pairs_out:
            return {"changed_docs": None}
        # a (re)build with --pairs-out must not leave a previous
        # refresh's pairs file in place as if it were this run's
        # output — write the FULL-corpus pair set (the initial dedup a
        # build is for)
        return {"changed_docs": None, **report_pairs(lsh_jaccard_pairs(
            docs, k=args.k, n_bands=args.bands,
            rows_per_band=args.rows_per_band, threshold=args.threshold,
        ))}

    def update(from_version, to_version, stale, data_dir):
        # changed-key-count-sized and consumed three times (count, the
        # delta semi-join, the stale anti-join) — materialize once so
        # the CDC read does not run per consumer
        changed = (
            tbl.read_changes(from_version, to_version)
            .select(F.col("conv_id").alias("doc_id"))
            .distinct()
            .localCheckpoint()
        )
        # O(drift): only changed conversations are re-assembled — the
        # semi-join filters the TURNS frame, below the assembly groupBy
        turns_now = tbl.read(version=to_version)
        delta_turns = turns_now.join(
            F.broadcast(changed.select(F.col("doc_id").alias("conv_id"))),
            "conv_id", "semi",
        )
        fresh = build_index(_docs_frame(delta_turns)).localCheckpoint()
        changed_docs = changed.count()
        # swap: every changed doc's rows leave (covers deletes — a
        # vanished conversation simply contributes no fresh rows)
        write_index(
            stale.join(changed, "doc_id", "left_anti")
            .unionByName(fresh),
            data_dir,
        )
        # probe fresh rows against the refreshed index → NEW pairs
        cand = probe_band_index(
            fresh, spark.read.schema(stale.schema).parquet(data_dir))
        cand_ids = (
            cand.select(F.col("doc_a").alias("conv_id"))
            .unionByName(cand.select(F.col("doc_b").alias("conv_id")))
            .distinct()
        )
        # exact verify assembles ONLY candidate conversations
        cand_docs = _docs_frame(
            turns_now.join(F.broadcast(cand_ids), "conv_id", "semi")
        )
        return {"changed_docs": changed_docs, **report_pairs(_exact_jaccard(
            cand, char_shingles(cand_docs, args.k), args.threshold
        ))}

    def unchanged(table_meta):
        if not args.pairs_out:
            return {"changed_docs": 0, "new_pairs": 0}
        # a no-op refresh must not leave the PREVIOUS run's pairs file
        # in place while reporting new_pairs=0 — a consumer ingesting
        # --pairs-out after each run would re-ingest the old pairs as
        # this run's output (r5 jobs review; same stale-file contract
        # the build path already honors). doc_a/doc_b take the TABLE's
        # conv_id type (not a STRING literal) so the pairs schema is
        # identical across no-op and real runs — a hardcoded type flips
        # the column type whenever the table happens not to have moved.
        # The type comes straight from the version's recorded schema
        # dict: building a full versioned read PLAN just to ask one
        # column's type is pure metadata-resolution tax on every no-op
        # cron tick (r5 review)
        from pyspark.sql import types as T

        doc_t = T.StructType.fromJson(table_meta["schema"])["conv_id"].dataType
        spark.createDataFrame([], T.StructType([
            T.StructField("doc_a", doc_t),
            T.StructField("doc_b", doc_t),
            T.StructField("n_common", T.LongType()),
            T.StructField("jaccard", T.DoubleType()),
        ])).write.mode("overwrite").parquet(args.pairs_out)
        return {"changed_docs": 0, "new_pairs": 0,
                "pairs_path": args.pairs_out}

    # SIGNATURE_VERSION folds the tokenizer and the hash family: a
    # hash-family bump alone de-collides every band
    return refresh_output(
        tbl, args.index_dir, name="index",
        params={"k": args.k, "bands": args.bands,
                "rows_per_band": args.rows_per_band},
        measure_version=SIGNATURE_VERSION, refresh=args.refresh,
        sweep_grace_secs=args.sweep_grace_secs, build=build, update=update,
        unchanged=unchanged,
    )


if __name__ == "__main__":
    sys.exit(main())
