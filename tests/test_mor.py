"""Merge-on-read target mode: delta-append MERGE, read-time winner
resolution, compaction, snapshot expiry with shared delta files, schema
evolution — all vs the pandas fold oracle. Plus the distributed
(mapInPandas) change-log generator's determinism and invariants.

MoR is the 10^10-event write path (SURVEY §7.4): copy-on-write rewrites
the whole table per slice (O(slices × table)), MoR appends O(slice) and
amortizes the fold into periodic compactions — the same trade Iceberg
makes with ``write.merge.mode=merge-on-read``.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_reconciliate_spark.datagen import (
    fold_changelog,
    gen_changelog,
    gen_changelog_spark,
    tool_epoch_lsn,
    write_changelog,
    write_changelog_spark,
)
from etl_reconciliate_spark.streaming.runner import replay
from etl_reconciliate_spark.target.table import TargetTable

N = 12_000


@pytest.fixture(scope="module")
def changelog_df():
    return gen_changelog(N, seed=99)


@pytest.fixture(scope="module")
def changelog_path(spark, changelog_df, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("mor") / "changelog")
    write_changelog(spark, changelog_df, p, epoch_lsn=tool_epoch_lsn(N))
    return p


def assert_matches_oracle(spark, target_path, changelog_df):
    got = (
        TargetTable(spark, target_path)
        .read()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    want = fold_changelog(changelog_df).reset_index(drop=True)
    got = got[want.columns.tolist()]
    got["ts"] = pd.to_datetime(got["ts"]).astype("datetime64[us]")
    want["ts"] = pd.to_datetime(want["ts"]).astype("datetime64[us]")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_mor_replay_matches_oracle(spark, changelog_df, changelog_path, tmp_path):
    tgt = str(tmp_path / "t")
    replay(
        spark, changelog_path, tgt,
        slice_size=3000, compact_threshold=100,
    )
    # no compaction happened: every commit was a pure delta append
    assert TargetTable(spark, tgt).metadata()["deltas"]
    assert_matches_oracle(spark, tgt, changelog_df)
    # merge-on-read is the one table mode: copy-on-write is refused
    with pytest.raises(ValueError, match="cow"):
        replay(spark, changelog_path, tgt, target_mode="cow")


def test_mor_compaction_folds_and_preserves_state(
    spark, changelog_df, changelog_path, tmp_path
):
    tgt = str(tmp_path / "t")
    replay(
        spark, changelog_path, tgt,
        slice_size=3000, compact_threshold=2,
    )
    table = TargetTable(spark, tgt)
    # threshold 2 with 4 slices → compactions fired; final state identical
    assert_matches_oracle(spark, tgt, changelog_df)
    # explicit compact on top is a no-op when deltas are already folded,
    # and folds them when not
    table.compact()
    assert TargetTable(spark, tgt).metadata()["deltas"] == []
    assert_matches_oracle(spark, tgt, changelog_df)
    # compacted base stores exact live row count in metadata
    assert table.metadata()["row_count"] == len(fold_changelog(changelog_df))


def test_mor_kill_resume_and_idempotence(spark, changelog_df, changelog_path, tmp_path):
    tgt = str(tmp_path / "t")
    s1 = replay(
        spark, changelog_path, tgt,
        slice_size=2500, max_slices=2, compact_threshold=3,
    )
    assert s1["slices"] == 2
    s2 = replay(spark, changelog_path, tgt, slice_size=2500)
    assert s1["events"] + s2["events"] == len(changelog_df)
    # replaying again applies nothing
    s3 = replay(spark, changelog_path, tgt, slice_size=2500)
    assert s3["slices"] == 0
    assert_matches_oracle(spark, tgt, changelog_df)


def test_mor_schema_evolution(spark, changelog_df, changelog_path, tmp_path):
    epoch = tool_epoch_lsn(N)
    tgt = str(tmp_path / "t")
    replay(
        spark, changelog_path, tgt,
        slice_size=epoch, max_slices=1,
    )
    table = TargetTable(spark, tgt)
    assert "tool" not in table.schema().fieldNames()
    replay(spark, changelog_path, tgt, slice_size=N)
    table = TargetTable(spark, tgt)
    assert "tool" in table.schema().fieldNames()
    assert_matches_oracle(spark, tgt, changelog_df)


def test_mor_expire_keeps_shared_deltas(spark, changelog_df, changelog_path, tmp_path):
    """MoR snapshots share the base and earlier delta dirs; expiry must
    be reference-counted, never deleting a dir a kept snapshot needs."""
    tgt = str(tmp_path / "t")
    replay(
        spark, changelog_path, tgt,
        slice_size=3000, compact_threshold=100,
        expire_keep=0,  # keep all, then expire manually
    )
    table = TargetTable(spark, tgt)
    n_versions = len(table.versions())
    assert n_versions >= 4
    # keep_last < 1 is refused: as a slice bound, -1 would drop only
    # the oldest version instead of keeping the newest
    for bad in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            table.expire_snapshots(keep_last=bad)
    assert len(table.versions()) == n_versions
    table.expire_snapshots(keep_last=1)
    assert len(table.versions()) == 1
    assert_matches_oracle(spark, tgt, changelog_df)


def test_footer_lineage_index(spark, changelog_df, changelog_path):
    """Lineage comes from parquet footers (driver-side metadata, no Spark
    job); the index must account for every row and the true LSN bounds,
    and per-slice selection must cover every file the slice reads."""
    from etl_reconciliate_spark.sources.changelog import footer_index, slice_lineage

    idx = footer_index(changelog_path)
    assert sum(f["rows"] for f in idx) == len(changelog_df)
    assert min(f["lsn_lo"] for f in idx) == 0
    assert max(f["lsn_hi"] for f in idx) == N - 1
    # every file overlapping (lo, hi] is selected — compare against a
    # brute-force range check
    sel = slice_lineage(idx, 2000, 7000)
    brute = [f for f in idx if not (f["lsn_hi"] <= 2000 or f["lsn_lo"] > 7000)]
    assert [s["file"] for s in sel] == [f["file"] for f in brute] and len(sel) > 0
    # whole-file row counts are surfaced as file_rows; LSN ranges are
    # CLIPPED to the slice so manifest consumers can't overstate coverage
    assert all(s["file_rows"] == f["rows"] for s, f in zip(sel, brute))
    assert all(2000 < s["lsn_lo"] <= s["lsn_hi"] <= 7000 for s in sel)


# ------------------------------------------------------------------
# Distributed generator
# ------------------------------------------------------------------
def test_spark_datagen_deterministic(spark):
    a = gen_changelog_spark(spark, 50_000, seed=3, block=7_000)
    b = gen_changelog_spark(spark, 50_000, seed=3, block=7_000)
    ha = a.select(F.expr("bit_xor(xxhash64(lsn,op,conv_id,turn_idx,role,text,tool,ts))")).collect()[0][0]
    hb = b.select(F.expr("bit_xor(xxhash64(lsn,op,conv_id,turn_idx,role,text,tool,ts))")).collect()[0][0]
    assert ha == hb
    assert a.count() > 50_000  # duplicate deliveries appended


def test_spark_datagen_invariants(spark):
    df = gen_changelog_spark(spark, 40_000, seed=3, block=9_000)
    stats = df.agg(
        F.countDistinct("lsn").alias("distinct_lsn"),
        F.count(F.lit(1)).alias("rows"),
        F.min("lsn").alias("lo"),
        F.max("lsn").alias("hi"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("d"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0)).alias("u"),
    ).collect()[0]
    assert stats["distinct_lsn"] == 40_000
    assert stats["rows"] > 40_000  # dups
    assert (stats["lo"], stats["hi"]) == (0, 39_999)
    assert stats["d"] > 0 and stats["u"] > 0
    # pre-epoch rows never carry tool
    epoch = tool_epoch_lsn(40_000)
    assert df.filter((F.col("lsn") < epoch) & F.col("tool").isNotNull()).count() == 0
    # skew: hottest conversation holds a disproportionate share (Zipf)
    top = (
        df.groupBy("conv_id").count().orderBy(F.desc("count")).limit(1).collect()[0]
    )
    assert top["count"] > 40_000 * 0.05


def test_spark_datagen_replay_end_to_end(spark, tmp_path):
    """Distributed-generated log replays correctly: final state equals
    the Spark-side fold (max-LSN winner per key, deletes dropped)."""
    log = str(tmp_path / "log")
    tgt = str(tmp_path / "t")
    write_changelog_spark(spark, log, 30_000, seed=8, block=8_000, text_len=64)
    stats = replay(spark, log, tgt, slice_size=10_000,
                   compact_threshold=2)
    pdf = gen_changelog_spark(spark, 30_000, seed=8, block=8_000, text_len=64).toPandas()
    want = fold_changelog(pdf)
    assert stats["target_rows"] == len(want)
    assert_matches_oracle(spark, tgt, pdf)


def test_iceberg_binding_guards_without_catalog(spark):
    """The real-Iceberg backend must import cleanly and fail with a
    clear, actionable error when no Iceberg catalog is configured
    (this sandbox has no iceberg-spark-runtime jar)."""
    import pytest as _pytest

    from etl_reconciliate_spark.target.iceberg import IcebergTargetTable

    t = IcebergTargetTable(spark, "lake.db.transcripts")
    with _pytest.raises(RuntimeError, match="no Iceberg catalog"):
        t.exists()


def test_orphan_delta_invisible_and_cleaned(spark, changelog_df, changelog_path, tmp_path):
    """Crash between data write and pointer swap leaves an orphan
    data dir. It must be invisible to readers (pointer never moved) and
    removed by the next expire_snapshots (reference counting sees no
    metadata referencing it) — the emulation's equivalent of Iceberg's
    orphan-file cleanup."""
    import os
    import shutil as sh

    tgt = str(tmp_path / "t")
    replay(spark, changelog_path, tgt, slice_size=N)
    table = TargetTable(spark, tgt)
    before = table.read().count()

    # fabricate the crash artifact: a data dir written but never committed
    src_dir = os.path.join(tgt, table.metadata()["data_dir"])
    # tagged with a published slot: a writer that lost it, not one
    # that may still link it
    orphan = os.path.join(tgt, f"delta-{table.current_version():06d}-deadbeef")
    sh.copytree(src_dir, orphan)

    assert table.read().count() == before  # invisible
    # a FRESH unreferenced dir may be a concurrent writer's staged,
    # not-yet-committed data — the default grace period protects it
    table.expire_snapshots(keep_last=1)
    assert os.path.exists(orphan)
    # past the grace period it is a true orphan and gets cleaned
    table.expire_snapshots(keep_last=1, orphan_grace_secs=0.0)
    assert not os.path.exists(orphan)  # cleaned
    assert table.read().count() == before


def test_compaction_sorts_buckets_by_key(spark, tmp_path):
    """The compacted base is key-sorted within each bucket file so parquet
    row-group min/max prune point/range reads (delta writes stay unsorted
    — the hot path pays no sort)."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    from etl_reconciliate_spark.target.table import TargetTable

    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2,
                    compact_threshold=100)
    t.init(T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]))
    rows = [(i, "I", f"c{i % 37}", i // 37, f"t{i}") for i in range(500)]
    batch = spark.createDataFrame(
        rows, "lsn BIGINT, op STRING, conv_id STRING, turn_idx INT, text STRING"
    )
    t.merge_apply(batch, {"lsn_hi": 499})
    stats = t.compact()
    base = f"{tmp_path}/t/{stats['data_dir']}"
    df = spark.read.parquet(base).withColumn("_f", F.input_file_name())
    pdf = df.toPandas()
    for _f, grp in pdf.groupby("_f"):
        keys = list(zip(grp["conv_id"], grp["turn_idx"]))
        assert keys == sorted(keys), f"bucket file not key-sorted: {_f}"
