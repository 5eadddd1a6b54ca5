"""Source adapters: JDBC option surface (no driver ships offline — the
adapter must fail with a clear, actionable error, reference-parity S5)."""

import os

import pytest

from etl_reconciliate_spark.sources.jdbc import read_jdbc_table


def test_jdbc_partitioned_requires_bounds(spark):
    with pytest.raises(ValueError, match="lower_bound and upper_bound"):
        read_jdbc_table(
            spark, "jdbc:postgresql://db/x", "t", partition_column="id"
        )


def test_jdbc_missing_driver_is_actionable(spark):
    with pytest.raises(Exception, match="driver"):
        read_jdbc_table(spark, "jdbc:nosuchdb://nowhere/x", "t")


def test_debezium_envelope_parse_and_merge(spark, tmp_path):
    """Debezium JSON envelopes (wrapped and plain, incl. heartbeat noise)
    parse to canonical changelog rows with native from_json, and the
    parsed feed drives the normal dedup -> merge pipeline."""
    import json

    from etl_reconciliate_spark.operators.dedup import dedup_max_lsn
    from etl_reconciliate_spark.schemas import CHANGELOG_SCHEMA
    from etl_reconciliate_spark.sources.debezium import (
        parse_debezium,
        read_debezium_jsonl,
    )
    from etl_reconciliate_spark.target.table import TargetTable

    def env(op, lsn, before=None, after=None, ts_ms=None, wrap=True):
        p = {"before": before, "after": after,
             "source": {"lsn": lsn, "db": "t"}, "op": op, "ts_ms": ts_ms}
        return json.dumps({"schema": {"type": "struct"}, "payload": p} if wrap else p)

    def row(conv, turn, role, text, tool, ts):
        return {"conv_id": conv, "turn_idx": turn, "role": role,
                "text": text, "tool": tool, "ts": ts}

    lines = [
        env("c", 1, after=row("c1", 0, "user", "hi", None,
                              "2026-01-01T00:00:01"), wrap=True),
        env("u", 2, before=row("c1", 0, "user", "hi", None,
                               "2026-01-01T00:00:01"),
            after=row("c1", 0, "user", "hi v2", "grep",
                      "2026-01-01T00:00:02"), wrap=False),
        env("r", 3, after=row("c2", 0, "assistant", "snap", None,
                              "2026-01-01T00:00:03"), wrap=True),
        env("d", 4, before=row("c2", 0, "assistant", "snap", None,
                               "2026-01-01T00:00:03"),
            ts_ms=1767225604000, wrap=False),
        json.dumps({"heartbeat": True}),  # dropped: no lsn/op
        # dropped: delete with null before image (REPLICA IDENTITY not
        # FULL) — carries no key, must not flow null-key junk into merge
        env("d", 5, before=None, ts_ms=1767225605000, wrap=True),
    ]
    jsonl = tmp_path / "cdc.jsonl"
    jsonl.write_text("\n".join(lines) + "\n")

    parsed = read_debezium_jsonl(spark, str(jsonl))
    assert parsed.schema == CHANGELOG_SCHEMA or [
        (f.name, f.dataType) for f in parsed.schema.fields
    ] == [(f.name, f.dataType) for f in CHANGELOG_SCHEMA.fields]
    got = {r["lsn"]: r for r in parsed.collect()}
    assert set(got) == {1, 2, 3, 4}
    assert (got[1]["op"], got[1]["text"]) == ("I", "hi")
    assert (got[2]["op"], got[2]["text"], got[2]["tool"]) == ("U", "hi v2", "grep")
    assert got[3]["op"] == "I"  # snapshot read -> insert
    d = got[4]
    assert (d["op"], d["conv_id"], d["turn_idx"]) == ("D", "c2", 0)
    assert d["role"] is None and d["text"] is None and d["tool"] is None
    assert d["ts"] is not None  # envelope ts_ms

    # the parsed feed drives the normal pipeline end to end
    tgt = TargetTable(spark, str(tmp_path / "tbl"), n_buckets=4)
    import pyspark.sql.types as T
    tgt.init(T.StructType([f for f in CHANGELOG_SCHEMA.fields
                           if f.name not in ("lsn", "op")]))
    tgt.merge_apply(dedup_max_lsn(parsed.repartition(4, "conv_id", "turn_idx")),
                    {"lsn_hi": 4})
    live = {(r["conv_id"], r["turn_idx"]): r["text"]
            for r in tgt.read().collect()}
    assert live == {("c1", 0): "hi v2"}  # c2/0 deleted, c1/0 at max LSN


def test_changelog_stray_file_rejected(spark, tmp_path):
    """A parquet file outside the epoch= dirs has no place in the log's
    layout — reading it would guess where its events belong, skipping it
    would lose them. The source must refuse the layout loudly (r4
    review)."""
    from etl_reconciliate_spark.datagen import gen_changelog, write_changelog
    from etl_reconciliate_spark.sources.changelog import ChangeLogSource

    df = gen_changelog(500, seed=3)
    p = str(tmp_path / "log")
    write_changelog(spark, df, p, epoch_lsn=250)
    # plant a stray file at the top level, beside epoch=0/ and epoch=1/
    spark.createDataFrame(
        [(99999, "I", "cX", 0, "user", "stray", None, None)],
        "lsn long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp",
    ).coalesce(1).write.parquet(f"{p}_stray")
    import glob
    import shutil
    stray = glob.glob(f"{p}_stray/*.parquet")[0]
    shutil.copy(stray, f"{p}/part-stray.parquet")
    with pytest.raises(ValueError, match="layout error"):
        ChangeLogSource(spark, p)


def test_footer_index_backfills_missing_stats(tmp_path):
    """A parquet file written WITHOUT column statistics must still get
    lsn bounds (driver-side column read) — otherwise the slice reader
    silently drops every event in it (r4 review)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_reconciliate_spark.sources.changelog import footer_index

    t = pa.table({"lsn": [7, 3, 11], "op": ["I", "I", "D"]})
    d = tmp_path / "log"
    d.mkdir()
    pq.write_table(t, str(d / "nostats.parquet"), write_statistics=False)
    idx = footer_index(str(d))
    assert len(idx) == 1
    assert idx[0]["lsn_lo"] == 3 and idx[0]["lsn_hi"] == 11


def test_changelog_open_runs_no_spark_job(spark, tmp_path):
    """The source opens from its footer index alone: schemas, bounds
    and lineage are parquet-footer metadata, so construction must not
    start a single Spark job (no per-epoch schema inference)."""
    from etl_reconciliate_spark.datagen import gen_changelog, write_changelog
    from etl_reconciliate_spark.sources.changelog import ChangeLogSource

    p = str(tmp_path / "log")
    write_changelog(spark, gen_changelog(500, seed=3), p, epoch_lsn=250)
    sc = spark.sparkContext
    sc.setJobGroup("changelog-open", "ChangeLogSource open")
    try:
        src = ChangeLogSource(spark, p)
        src.initial_schema(), src.max_lsn(), src.lineage(100, 300)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("changelog-open")) == []
    assert {f["file"].split("/")[0] for f in src.file_index} == {
        "epoch=0", "epoch=1"}


def test_read_slice_scans_only_overlapping_files(spark, tmp_path):
    """A mid-log slice plans exactly the files the footer index says
    overlap it — not every file of the epochs it touches — and returns
    exactly the slice's events."""
    from urllib.parse import urlparse

    from etl_reconciliate_spark.datagen import gen_changelog, write_changelog
    from etl_reconciliate_spark.sources.changelog import ChangeLogSource

    df = gen_changelog(2000, seed=5)
    p = str(tmp_path / "log")
    write_changelog(spark, df, p, epoch_lsn=1000, n_files=16)
    src = ChangeLogSource(spark, p)
    lo, hi = 900, 1300
    sl = src.read_slice(lo, hi)
    scanned = {
        os.path.relpath(urlparse(u).path, p) for u in sl.inputFiles()
    }
    overlapping = {f["file"] for f in src.lineage(lo, hi)}
    assert scanned == overlapping
    assert {f.split("/")[0] for f in scanned} == {"epoch=0", "epoch=1"}
    assert len(scanned) < len(src.file_index)
    assert sl.count() == int(((df["lsn"] > lo) & (df["lsn"] <= hi)).sum())


def test_read_slice_widens_int_to_long_across_epochs(spark, tmp_path):
    """Epoch 1 widens a payload column from int32 to int64: a slice over
    both epochs reads it as long (the wider type, never the first
    file's), with every value equal to a pyarrow read of the files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_reconciliate_spark.sources.changelog import ChangeLogSource

    p = tmp_path / "log"
    for epoch, typ, lsns in ((0, pa.int32(), range(0, 5)),
                             (1, pa.int64(), range(5, 10))):
        (p / f"epoch={epoch}").mkdir(parents=True)
        n = [lsn * 1_000 if epoch == 0 else lsn * 2**33 for lsn in lsns]
        pq.write_table(pa.table({
            "lsn": pa.array(lsns, pa.int64()),
            "op": ["I"] * 5,
            "conv_id": [f"c{lsn}" for lsn in lsns],
            "turn_idx": pa.array([0] * 5, pa.int32()),
            "n_tokens": pa.array(n, typ),
        }), str(p / f"epoch={epoch}" / "part-0.parquet"))
    src = ChangeLogSource(spark, str(p))
    sl = src.read_slice(-1, src.max_lsn())
    assert dict(sl.dtypes)["n_tokens"] == "bigint"
    assert src.initial_schema()["n_tokens"].dataType.typeName() == "integer"
    expect = {}
    for f in sorted(p.glob("epoch=*/*.parquet")):
        t = pq.read_table(str(f))
        expect.update(zip(t["lsn"].to_pylist(), t["n_tokens"].to_pylist()))
    assert {r["lsn"]: r["n_tokens"] for r in sl.collect()} == expect
    assert max(expect.values()) > 2**31


def test_empty_slice_plans_no_file_scan(spark, tmp_path):
    """A slice entirely outside the log's LSN range must return an
    empty-but-typed frame with NO file scan — the footer index proves
    it empty (earlier versions planned a scan of one epoch, and before
    that of every epoch, for a provably-empty result)."""
    from etl_reconciliate_spark.datagen import gen_changelog, write_changelog
    from etl_reconciliate_spark.sources.changelog import ChangeLogSource

    df = gen_changelog(500, seed=3)
    p = str(tmp_path / "log")
    write_changelog(spark, df, p, epoch_lsn=100)
    src = ChangeLogSource(spark, p)
    # multi-epoch, or the test proves nothing
    assert len({f["file"].split("/")[0] for f in src.file_index}) >= 2
    sl = src.read_slice(10_000_000, 10_050_000)  # beyond max_lsn
    assert sl.count() == 0
    assert sl.schema == src.initial_schema()  # typed, usable downstream
    plan = sl._jdf.queryExecution().executedPlan().toString()
    import re
    n_scans = len(re.findall(r"Scan parquet|FileScan", plan))
    assert n_scans == 0, f"expected no file scan, plan has {n_scans}"


def _write_epochs(spark, p, n_epochs, rows):
    """Epoch dirs ``epoch=0..n-1`` of ``rows`` insert events each, lsns
    ascending with the epoch number; epoch 0 lacks the ``tool`` column."""
    import datetime

    from etl_reconciliate_spark.schemas import CHANGELOG_SCHEMA

    ts = datetime.datetime(2026, 1, 1)
    for i in range(n_epochs):
        df = spark.createDataFrame(
            [(i * 10 + j, "I", f"c{i}", j, "user", "x", None, ts)
             for j in range(rows)],
            CHANGELOG_SCHEMA,
        )
        if i == 0:
            df = df.drop("tool")
        df.coalesce(1).write.parquet(f"{p}/epoch={i}")


def test_epoch_dirs_numeric_order(spark, tmp_path):
    """With 10+ epoch dirs, lexicographic order puts epoch=10 before
    epoch=2 (r5 review). The source orders by events, not by dir names:
    initial_schema() is the earliest epoch's (pre-``tool``) schema, the
    empty slice is typed by it, and a slice across epoch=9 and epoch=10
    sees both."""
    from etl_reconciliate_spark.schemas import CHANGELOG_SCHEMA_V0
    from etl_reconciliate_spark.sources.changelog import ChangeLogSource

    p = str(tmp_path / "log")
    _write_epochs(spark, p, 12, 10)
    src = ChangeLogSource(spark, p)
    assert src.initial_schema().fieldNames() == CHANGELOG_SCHEMA_V0.fieldNames()
    sl = src.read_slice(10_000_000, 10_000_100)
    assert sl.count() == 0 and sl.schema == src.initial_schema()
    assert src.read_slice(94, 104).count() == 10
    assert src.max_lsn() == 119


def test_epoch_dir_non_integer_suffix_tolerated(spark, tmp_path):
    """A non-integer epoch dir (epoch=__HIVE_DEFAULT_PARTITION__ from a
    NULL partition value, or a date-valued epoch) must not crash the
    source open (r5 final review), its events must be visible to slice
    reads, and initial_schema() still comes from the earliest events."""
    import datetime

    from etl_reconciliate_spark.schemas import CHANGELOG_SCHEMA, CHANGELOG_SCHEMA_V0
    from etl_reconciliate_spark.sources.changelog import ChangeLogSource

    p = str(tmp_path / "log")
    _write_epochs(spark, p, 3, 5)
    # rows whose epoch partition value was NULL
    spark.createDataFrame(
        [(100, "I", "cz", 0, "user", "z", None, datetime.datetime(2026, 1, 1))],
        CHANGELOG_SCHEMA,
    ).coalesce(1).write.parquet(f"{p}/epoch=__HIVE_DEFAULT_PARTITION__")

    src = ChangeLogSource(spark, p)
    assert src.initial_schema().fieldNames() == CHANGELOG_SCHEMA_V0.fieldNames()
    # the stray epoch's events are still visible to slice reads
    assert src.read_slice(99, 101).count() == 1
    assert src.max_lsn() == 100
