"""CDC-driven incremental near-dup dedup: delta-vs-index equivalence
with the full-corpus LSH pass, and the persisted-band-index job cycle
(build → refresh from read_changes → delete vacates index rows)."""

import datetime
import json
import sys

from pyspark.sql import functions as F, types as T

from etl_reconciliate_spark.operators.dedupe_docs import (
    incremental_lsh_jaccard_pairs,
    lsh_jaccard_pairs,
    lsh_scored_pairs,
    minhash_band_index,
)
from etl_reconciliate_spark.target.table import TargetTable
from etl_reconciliate_spark.target.versions import list_versions, read_version

import os

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
try:
    import dedup_index_job
finally:
    sys.path.pop(0)

SF_DIR = __import__("os").environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")


def _pairs(df):
    return {(r.doc_a, r.doc_b): (r.n_common, round(r.jaccard, 9))
            for r in df.collect()}


def test_incremental_equals_full_restricted(spark):
    """delta-vs-index must equal the full-corpus LSH pass filtered to
    pairs touching the delta — with and without a precomputed index."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    full = _pairs(lsh_jaccard_pairs(docs, threshold=0.3))
    expected = {k: v for k, v in full.items()
                if k[0] % 17 == 0 or k[1] % 17 == 0}
    assert expected, "fixture must touch at least one pair"
    delta = docs.filter(F.col("doc_id") % 17 == 0).select("doc_id")
    inc = _pairs(incremental_lsh_jaccard_pairs(docs, delta, threshold=0.3))
    assert inc == expected
    idx = minhash_band_index(docs)
    inc2 = _pairs(
        incremental_lsh_jaccard_pairs(docs, delta, threshold=0.3, index=idx)
    )
    assert inc2 == expected


def test_scored_pairs_extend_lsh_jaccard(spark):
    """lsh_scored_pairs = lsh_jaccard_pairs + the signature estimate
    column; same pair set, same exact scores, estimate in [0, 1]."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact = _pairs(lsh_jaccard_pairs(docs, threshold=0.3))
    scored = lsh_scored_pairs(docs, threshold=0.3).collect()
    assert {(r.doc_a, r.doc_b): (r.n_common, round(r.jaccard, 9))
            for r in scored} == exact
    assert all(0.0 <= r.est_jaccard <= 1.0 for r in scored)


T0 = datetime.datetime(2026, 1, 1)
SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])
BATCH = ("lsn BIGINT, op STRING, conv_id STRING, turn_idx INT, "
         "role STRING, text STRING, ts TIMESTAMP")

LONG = ("the quick brown fox jumps over the lazy dog and keeps going "
        "through the deterministic meadow of reproducible hashes")


def _run(monkeypatch, capsys, *argv):
    monkeypatch.setattr(sys, "argv", ["dedup_index_job.py", *argv])
    assert dedup_index_job.main() == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _index_dir(idx_dir):
    return os.path.join(idx_dir, read_version(idx_dir)["data_dir"])


def _index_docs(spark, idx_dir):
    return {
        r.doc_id
        for r in spark.read.parquet(_index_dir(idx_dir)).select("doc_id")
        .distinct().collect()
    }


def test_dedup_index_job_cycle(spark, tmp_path, capsys, monkeypatch):
    tbl = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tbl.init(SCHEMA)
    tbl.merge_apply(spark.createDataFrame([
        (1, "I", "c1", 0, "user", LONG, T0),
        (2, "I", "c2", 0, "user", "completely different text entirely", T0),
    ], BATCH), {"lsn_hi": 2})

    idir = str(tmp_path / "idx")
    built = _run(monkeypatch, capsys, "--target", tbl.path,
                 "--index-dir", idir)
    assert built["mode"] == "build" and built["index_rows"] > 0
    assert _index_docs(spark, idir) == {"c1", "c2"}

    # no table movement → recorded no-op
    noop = _run(monkeypatch, capsys, "--target", tbl.path,
                "--index-dir", idir, "--refresh")
    assert noop["mode"] == "refresh" and noop["changed_docs"] == 0

    # a NEW conversation near-duplicating c1, plus c2 deleted
    tbl.merge_apply(spark.createDataFrame([
        (3, "I", "c3", 0, "user", LONG + " tail", T0),
        (4, "D", "c2", 0, None, None, None),
    ], BATCH), {"lsn_hi": 4})
    ref = _run(monkeypatch, capsys, "--target", tbl.path,
               "--index-dir", idir, "--refresh")
    assert ref["mode"] == "refresh"
    assert ref["changed_docs"] == 2  # c3 inserted, c2 deleted
    assert ref["new_pairs"] == 1     # (c1, c3)
    assert _index_docs(spark, idir) == {"c1", "c3"}  # c2 vacated

    # refresh result must equal a from-scratch rebuild (band-row level)
    refreshed = {
        (r.doc_id, r.band, r.bh)
        for r in spark.read.parquet(_index_dir(idir)).collect()
    }
    rebuilt = {
        (r.doc_id, r.band, r.bh)
        for r in minhash_band_index(
            dedup_index_job._docs_frame(tbl.read())
        ).collect()
    }
    assert refreshed == rebuilt


def test_dedup_index_job_pairs_out_and_orphan_sweep(
    spark, tmp_path, capsys, monkeypatch
):
    """--pairs-out on a BUILD writes the full-corpus pair set (not a
    stale file from a prior refresh), and the publish sweeps an orphaned
    snap-* dir a crashed run left behind for the slot it publishes."""
    tbl = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tbl.init(SCHEMA)
    tbl.merge_apply(spark.createDataFrame([
        (1, "I", "c1", 0, "user", LONG, T0),
        (2, "I", "c2", 0, "user", LONG + " extra", T0),
    ], BATCH), {"lsn_hi": 2})

    idir = str(tmp_path / "idx")
    pdir = str(tmp_path / "pairs")
    # simulate a crash orphan from a previous attempted run
    os.makedirs(os.path.join(idir, "snap-000000-dead"))
    built = _run(monkeypatch, capsys, "--target", tbl.path,
                 "--index-dir", idir, "--pairs-out", pdir,
                 "--sweep-grace-secs", "0")
    assert built["mode"] == "build"
    assert built["new_pairs"] == 1  # (c1, c2) are near-dups
    pairs = {(r.doc_a, r.doc_b) for r in spark.read.parquet(pdir).collect()}
    assert pairs == {("c1", "c2")}
    assert not os.path.exists(os.path.join(idir, "snap-000000-dead"))
    assert list_versions(idir) == [0]


def test_dedup_index_job_measure_version_mismatch_rebuilds(
    spark, tmp_path, capsys, monkeypatch
):
    """An index persisted under different signature semantics
    (tokenizer OR hash family — SIGNATURE_VERSION folds both) must not
    be refreshed incrementally — fresh band rows hashed under the new
    semantics would sit next to stale rows hashed under the old ones,
    and identical text would stop colliding (r5 batch review ×2).
    --refresh degrades to a full rebuild and restamps the version.
    Also covers the legacy int-stamped meta (pre-SIGNATURE_VERSION
    indexes carried TOKENIZER_VERSION): any non-equal stamp rebuilds."""
    tbl = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tbl.init(SCHEMA)
    tbl.merge_apply(spark.createDataFrame([
        (1, "I", "c1", 0, "user", LONG, T0),
    ], BATCH), {"lsn_hi": 1})
    idir = str(tmp_path / "idx")
    _run(monkeypatch, capsys, "--target", tbl.path, "--index-dir", idir)
    meta_path = f"{idir}/v{list_versions(idir)[-1]:06d}.json"
    meta = read_version(idir)
    from etl_reconciliate_spark.operators.dedupe_docs import (
        SIGNATURE_VERSION,
    )

    assert meta["measure_version"] == SIGNATURE_VERSION
    meta["measure_version"] = 2  # a legacy tokenizer-only int stamp
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    tbl.merge_apply(spark.createDataFrame([
        (2, "I", "c2", 0, "user", LONG + " tail", T0),
    ], BATCH), {"lsn_hi": 2})
    out = _run(monkeypatch, capsys, "--target", tbl.path,
               "--index-dir", idir, "--refresh")
    assert out["mode"] == "rebuild_measure_changed"
    assert _index_docs(spark, idir) == {"c1", "c2"}
    # restamped: the next refresh is incremental again
    noop = _run(monkeypatch, capsys, "--target", tbl.path,
                "--index-dir", idir, "--refresh")
    assert noop["mode"] == "refresh" and noop["changed_docs"] == 0


def test_dedup_index_job_refresh_expired_mid_run(spark, tmp_path, capsys,
                                                 monkeypatch):
    """A refresh whose pinned table version a concurrent writer expires
    under it exits 1 with one JSON error line naming that version, and
    publishes nothing."""
    tbl = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tbl.init(SCHEMA)
    tbl.merge_apply(spark.createDataFrame(
        [(1, "I", "c1", 0, "user", LONG, T0)], BATCH), {"lsn_hi": 1})
    idir = str(tmp_path / "idx")
    _run(monkeypatch, capsys, "--target", tbl.path, "--index-dir", idir)
    from_v = read_version(idir)["table_version"]
    tbl.merge_apply(spark.createDataFrame(
        [(2, "I", "c2", 0, "user", "other text", T0)], BATCH), {"lsn_hi": 2})
    published = list_versions(idir)

    read_changes = TargetTable.read_changes

    def racing(self, *a, **kw):
        # the concurrent writer: one more commit, then keep only it
        self.merge_apply(spark.createDataFrame(
            [(3, "I", "c3", 0, "user", "more", T0)], BATCH), {"lsn_hi": 3})
        self.expire_snapshots(keep_last=1)
        return read_changes(self, *a, **kw)

    monkeypatch.setattr(TargetTable, "read_changes", racing)
    monkeypatch.setattr(sys, "argv", ["dedup_index_job.py", "--target",
                                      tbl.path, "--index-dir", idir, "--refresh"])
    assert dedup_index_job.main() == 1
    lines = capsys.readouterr().out.strip().splitlines()
    assert [json.loads(x) for x in lines] == [
        {"error": f"table version {from_v} expired mid-run"}]
    assert list_versions(idir) == published
