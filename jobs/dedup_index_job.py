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
   a new ``snap-{N}-*`` dir published as ``v{N}.json`` of the index
   dir's version log (``target/versions.py``: one put-if-absent link, so
   readers never see a half-written index and of two overlapping runs
   the first to link wins — the other exits 1 with a conflict; a run
   whose pinned table version is expired under it exits 1, unpublished),
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

Prints one JSON line with mode, from/to versions, changed/indexed doc
counts and new-pair count.

reference: no equivalent in the reference app (its only dedup is the
batch-id NOT-IN filter, reader/*.java) — this is the §"beyond the
reference" training-data surface, CDC-native.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import uuid


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
    from etl_reconciliate_spark.target.table import SnapshotExpiredError, TargetTable
    from etl_reconciliate_spark.target.versions import (
        CommitConflictError,
        expire_versions,
        list_versions,
        publish_version,
        read_version,
    )

    tbl = TargetTable(spark, args.target)
    if not tbl.exists():
        print(json.dumps({"error": f"no table at {args.target}"}))
        return 1
    to_version = tbl.current_version()
    params = {"k": args.k, "bands": args.bands,
              "rows_per_band": args.rows_per_band}
    published = list_versions(args.index_dir)
    base = published[-1] if published else -1
    prior_meta = read_version(args.index_dir, base) if published else None
    meta = None
    expired = False
    remeasured = False
    if args.refresh and prior_meta is not None:
        meta = prior_meta
        if {k: meta.get(k) for k in params} != params:
            print(json.dumps({"error": "existing index has different "
                              "k/bands/rows_per_band; rebuild without "
                              "--refresh"}))
            return 1
        if meta.get("measure_version") != SIGNATURE_VERSION:
            # built under another tokenizer OR hash family (a hash-family
            # bump alone de-collides every band): full rebuild, see
            # textstats.TOKENIZER_VERSION
            remeasured = True
            meta = None
    if meta is not None:
        try:
            # keep the dict: the no-op branch reads the schema off it
            base_meta = tbl.metadata(meta["table_version"])
        except FileNotFoundError:
            meta = None  # recorded snapshot expired → full rebuild
            expired = True
            base_meta = None

    out = {"to_version": to_version, **params}
    os.makedirs(args.index_dir, exist_ok=True)
    # the slot this run publishes, named into its build dir: expiry
    # never collects a dir whose slot is not yet published. The random
    # suffix keeps an overlapping run on the same base out of this dir.
    data_name = f"snap-{base + 1:06d}-{uuid.uuid4().hex[:8]}"
    data_dir = os.path.join(args.index_dir, data_name)
    new_pairs = None

    def build_index(docs):
        return minhash_band_index(
            docs, k=args.k, n_bands=args.bands,
            rows_per_band=args.rows_per_band,
        )

    pins = [to_version] + ([meta["table_version"]] if meta else [])
    try:
        if meta is None:
            # "rebuild_expired_base" ONLY when the refresh base actually
            # expired — it is the signal that expire_snapshots outpaces the
            # refresh cadence; a deliberate rebuild over a healthy index
            # (no --refresh) is just "rebuild" (r5 jobs review: the old
            # label fired false expiry alarms on intentional rebuilds)
            out["mode"] = ("build" if prior_meta is None
                           else "rebuild_expired_base" if expired
                           else "rebuild_measure_changed" if remeasured
                           else "rebuild")
            docs = _docs_frame(tbl.read(version=to_version))
            idx = build_index(docs)
            idx.write.mode("overwrite").option("compression", "zstd").parquet(
                data_dir
            )
            out["changed_docs"] = None
            if args.pairs_out:
                # a (re)build with --pairs-out must not leave a previous
                # refresh's pairs file in place as if it were this run's
                # output — write the FULL-corpus pair set (the initial
                # dedup a build is for)
                new_pairs = lsh_jaccard_pairs(
                    docs, k=args.k, n_bands=args.bands,
                    rows_per_band=args.rows_per_band,
                    threshold=args.threshold,
                )
        elif meta["table_version"] == to_version:
            out.update(mode="refresh", from_version=to_version,
                       changed_docs=0, new_pairs=0,
                       index_rows=meta["index_rows"])
            if args.pairs_out:
                # a no-op refresh must not leave the PREVIOUS run's pairs
                # file in place while reporting new_pairs=0 — a consumer
                # ingesting --pairs-out after each run would re-ingest the
                # old pairs as this run's output (r5 jobs review; same
                # stale-file contract the build path already honors).
                # doc_a/doc_b take the TABLE's conv_id type (not a STRING
                # literal) so the pairs schema is identical across no-op
                # and real runs — a hardcoded type flips the column type
                # whenever the table happens not to have moved. The type
                # comes straight from the version's recorded schema dict
                # (already fetched by the refresh-base probe above —
                # table_version == to_version on this branch): building a
                # full versioned read PLAN just to ask one column's type is
                # pure metadata-resolution tax on every no-op cron tick
                # (r5 review)
                from pyspark.sql import types as T

                doc_t = T.StructType.fromJson(
                    base_meta["schema"]
                )["conv_id"].dataType
                empty_schema = T.StructType([
                    T.StructField("doc_a", doc_t),
                    T.StructField("doc_b", doc_t),
                    T.StructField("n_common", T.LongType()),
                    T.StructField("jaccard", T.DoubleType()),
                ])
                spark.createDataFrame(
                    [], empty_schema
                ).write.mode("overwrite").parquet(args.pairs_out)
                out["pairs_path"] = args.pairs_out
            print(json.dumps(out))
            return 0
        else:
            from_version = meta["table_version"]
            out.update(mode="refresh", from_version=from_version)
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
            out["changed_docs"] = changed.count()
            stale = spark.read.parquet(
                os.path.join(args.index_dir, meta["data_dir"])
            )
            # swap: every changed doc's rows leave (covers deletes — a
            # vanished conversation simply contributes no fresh rows)
            idx = stale.join(changed, "doc_id", "left_anti").unionByName(fresh)
            idx.write.mode("overwrite").option("compression", "zstd").parquet(
                data_dir
            )
            idx = spark.read.parquet(data_dir)
            # probe fresh rows against the refreshed index → NEW pairs
            cand = probe_band_index(fresh, idx)
            cand_ids = (
                cand.select(F.col("doc_a").alias("conv_id"))
                .unionByName(cand.select(F.col("doc_b").alias("conv_id")))
                .distinct()
            )
            # exact verify assembles ONLY candidate conversations
            cand_docs = _docs_frame(
                turns_now.join(F.broadcast(cand_ids), "conv_id", "semi")
            )
            new_pairs = _exact_jaccard(
                cand, char_shingles(cand_docs, args.k), args.threshold
            )
    except (FileNotFoundError, SnapshotExpiredError):
        # a concurrent writer expired a version this run pinned: no publish
        gone = sorted(set(pins) - set(tbl.versions()))
        if not gone:
            raise
        print(json.dumps({"error": f"table version {gone[0]} expired mid-run"}))
        return 1

    rows = spark.read.parquet(data_dir).count()
    out["index_rows"] = rows
    if new_pairs is not None:
        if args.pairs_out:
            new_pairs.write.mode("overwrite").parquet(args.pairs_out)
            out["new_pairs"] = spark.read.parquet(args.pairs_out).count()
            out["pairs_path"] = args.pairs_out
        else:
            out["new_pairs"] = new_pairs.count()
    try:
        publish_version(args.index_dir, base + 1, {
            "table_version": to_version, **params,
            "data_dir": data_name, "index_rows": rows,
            "measure_version": SIGNATURE_VERSION,
        })
    except CommitConflictError as e:
        print(json.dumps({"error": f"publish conflict: {e}"}))
        return 1
    expire_versions(args.index_dir, keep_last=2,
                    orphan_grace_secs=args.sweep_grace_secs)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
