"""Structured Streaming ingest variant (streaming/stream_runner.py):
file-source readStream + foreachBatch merge must converge to the same
final state as the bounded replay / pandas fold oracle, be idempotent
across restarts, and pick up newly arriving files from the checkpoint."""

import pandas as pd

from etl_reconciliate_spark.datagen import (
    fold_changelog,
    gen_changelog,
    tool_epoch_lsn,
    write_changelog,
)
from etl_reconciliate_spark.streaming.stream_runner import replay_stream
from etl_reconciliate_spark.target.table import TargetTable

N = 8_000


def _assert_state(spark, tgt, df):
    got = (
        TargetTable(spark, tgt)
        .read()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    want = fold_changelog(df).reset_index(drop=True)
    got = got[want.columns.tolist()]
    got["ts"] = pd.to_datetime(got["ts"]).astype("datetime64[us]")
    want["ts"] = pd.to_datetime(want["ts"]).astype("datetime64[us]")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_stream_backlog_drain_matches_oracle(spark, tmp_path):
    df = gen_changelog(N, seed=21)
    log = str(tmp_path / "log")
    write_changelog(spark, df, log, epoch_lsn=tool_epoch_lsn(N))
    tgt = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    stats = replay_stream(
        spark, log, tgt, ckpt,
        max_files_per_trigger=8, compact_threshold=3,
    )
    assert stats["batches"] >= 2  # maxFilesPerTrigger forced multiple batches
    _assert_state(spark, tgt, df)

    # re-run on the same checkpoint: nothing new → no batches, state intact
    stats2 = replay_stream(spark, log, tgt, ckpt)
    assert stats2["batches"] == 0
    _assert_state(spark, tgt, df)


def test_stream_incremental_arrival(spark, tmp_path):
    """New files landing after the first drain are picked up from the
    checkpoint, and newer-LSN-wins still holds across the restarts."""
    df = gen_changelog(N, seed=22)
    half = df[df["lsn"] < N // 2]
    rest = df[df["lsn"] >= N // 2]
    log = str(tmp_path / "log")
    tgt = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    write_changelog(spark, half, log, epoch_lsn=tool_epoch_lsn(N))
    replay_stream(spark, log, tgt, ckpt)
    _assert_state(spark, tgt, half)

    # second epoch dir arrives (the evolution epoch boundary is inside
    # `rest`, so this also lands files with AND without `tool`)
    import shutil

    tmp_log2 = str(tmp_path / "log2")
    write_changelog(spark, rest, tmp_log2, epoch_lsn=tool_epoch_lsn(N))
    import os

    for sub in ("epoch=0", "epoch=1"):
        src = f"{tmp_log2}/{sub}"
        if os.path.isdir(src):
            shutil.copytree(src, f"{log}/{sub}_late", dirs_exist_ok=True)

    replay_stream(spark, log, tgt, ckpt)
    _assert_state(spark, tgt, df)


def test_stream_out_of_order_delete_not_resurrected(spark, tmp_path):
    """The ADVICE-high scenario: the file source discovers files in mtime
    order, not LSN order. A delete's tombstone must survive compaction
    (ordered_commits=False in the stream runner) so a later-discovered
    but LOWER-LSN update cannot resurrect the deleted row."""
    import datetime
    import os
    import time

    from etl_reconciliate_spark.schemas import CHANGELOG_SCHEMA

    log = str(tmp_path / "log")
    ts = datetime.datetime(2026, 1, 1)

    def write_event(name, lsn, op, text, mtime):
        d = f"{log}/{name}"
        spark.createDataFrame(
            [(lsn, op, "c1", 0, "user", text, None, ts)], CHANGELOG_SCHEMA
        ).coalesce(1).write.parquet(d)
        for root, _dirs, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(d, (mtime, mtime))

    t0 = time.time() - 1000
    write_event("a", 10, "I", "v10", t0)
    write_event("b", 20, "D", None, t0 + 100)
    write_event("c", 15, "U", "v15", t0 + 200)  # out-of-order arrival

    # one file per micro-batch + compaction after EVERY commit: the
    # worst case — the tombstone is compacted before lsn 15 arrives
    stats = replay_stream(
        spark, log, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, compact_threshold=1,
    )
    assert stats["batches"] == 3
    assert TargetTable(spark, str(tmp_path / "tbl")).read().count() == 0


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark(["lsn"]): a re-delivered event whose
    LSN was seen within the watermark horizon is dropped in the state
    store before reaching the merge; final state is unchanged either way."""
    import datetime
    import os
    import time

    from etl_reconciliate_spark.schemas import CHANGELOG_SCHEMA

    log = str(tmp_path / "log")
    base = datetime.datetime(2026, 1, 1)

    def write(name, rows, mtime):
        d = f"{log}/{name}"
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).coalesce(1).write.parquet(d)
        for root, _dirs, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(d, (mtime, mtime))

    def ev(lsn, conv, turn, text, secs):
        return (lsn, "I", conv, turn, "user", text,
                None, base + datetime.timedelta(seconds=secs))

    t0 = time.time() - 1000
    write("a", [ev(1, "c1", 0, "v1", 1), ev(2, "c1", 1, "v2", 2)], t0)
    # batch 2 re-delivers lsn 2 (within the 1h watermark horizon) plus a
    # genuinely new event
    write("b", [ev(2, "c1", 1, "v2", 2), ev(3, "c2", 0, "v3", 3)], t0 + 100)

    stats = replay_stream(
        spark, log, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, dedup_within_watermark="1 hour",
    )
    assert stats["batches"] == 2
    assert stats["input_rows"] == 3  # the re-delivered lsn 2 never arrived
    assert stats["target_rows"] == 3

    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in TargetTable(spark, str(tmp_path / "tbl")).read().collect()
    }
    assert got == {("c1", 0): "v1", ("c1", 1): "v2", ("c2", 0): "v3"}


def test_stream_debezium_jsonl_format(spark, tmp_path):
    """The streaming runner ingests raw Debezium envelope lines
    (changelog_format='debezium-jsonl') to the same final state as the
    equivalent parquet changelog."""
    import json

    def env(op, lsn, before=None, after=None, ts_ms=None):
        return json.dumps({"payload": {
            "before": before, "after": after,
            "source": {"lsn": lsn}, "op": op, "ts_ms": ts_ms}})

    def row(conv, turn, text):
        return {"conv_id": conv, "turn_idx": turn, "role": "user",
                "text": text, "tool": None, "ts": "2026-01-01T00:00:01"}

    lines = [
        env("c", 1, after=row("c1", 0, "v1")),
        env("u", 2, before=row("c1", 0, "v1"), after=row("c1", 0, "v2")),
        env("c", 3, after=row("c2", 0, "x")),
        env("d", 4, before=row("c2", 0, "x"), ts_ms=1767225604000),
    ]
    log = tmp_path / "cdc"
    log.mkdir()
    (log / "part-000.jsonl").write_text("\n".join(lines) + "\n")

    stats = replay_stream(
        spark, str(log), str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        changelog_format="debezium-jsonl",
    )
    assert stats["input_rows"] == 4 and stats["target_rows"] == 1
    got = TargetTable(spark, str(tmp_path / "tbl")).read().collect()
    assert [(r["conv_id"], r["turn_idx"], r["text"]) for r in got] == [
        ("c1", 0, "v2")
    ]


def test_stream_dedup_null_ts_tombstone_not_swallowed(spark, tmp_path):
    """With dedup_within_watermark ON, a NULL-ts delete envelope must
    still reach the merge. It BYPASSES the watermarked dedup stage
    (r5 final review: imputing a timestamp contaminates the watermark —
    see test_stream_null_ts_does_not_contaminate_watermark), so a
    REDELIVERED tombstone is NOT deduped in-stream; merge idempotence
    absorbs it and the final state is identical."""
    import datetime
    import os
    import time

    from etl_reconciliate_spark.schemas import CHANGELOG_SCHEMA

    log = str(tmp_path / "log")
    base = datetime.datetime(2026, 1, 1)

    def write(name, rows, mtime):
        d = f"{log}/{name}"
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).coalesce(1).write.parquet(d)
        for root, _dirs, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(d, (mtime, mtime))

    t0 = time.time() - 1000
    write("a", [
        (1, "I", "c1", 0, "user", "v1", None, base),
        (2, "I", "c2", 0, "user", "v2", None, base),
    ], t0)
    # null-ts tombstone (Debezium delete without ts_ms) + its redelivery
    write("b", [(3, "D", "c1", 0, None, None, None, None)], t0 + 100)
    write("c", [(3, "D", "c1", 0, None, None, None, None)], t0 + 200)

    stats = replay_stream(
        spark, log, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, dedup_within_watermark="1 hour",
    )
    # the redelivered tombstone bypasses the dedup stage (4 inputs, not
    # 3) — the merge is what absorbs it
    assert stats["input_rows"] == 4
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in TargetTable(spark, str(tmp_path / "tbl")).read().collect()
    }
    assert got == {("c2", 0): "v2"}  # the delete was applied


def test_stream_null_ts_does_not_contaminate_watermark(spark, tmp_path):
    """Regression (r5 final review): a NULL-ts tombstone arriving FIRST
    in a historical-backlog replay must not advance the watermark to
    wall-clock now — with coalesce(ts, current_timestamp()) feeding the
    watermark, every later micro-batch of months-old events would be
    discarded as late (near-total silent loss). The bypass union keeps
    null-ts rows out of the watermark entirely."""
    import datetime
    import os
    import time

    from etl_reconciliate_spark.schemas import CHANGELOG_SCHEMA

    log = str(tmp_path / "log")
    base = datetime.datetime(2026, 1, 1)  # months behind wall clock

    def write(name, rows, mtime):
        d = f"{log}/{name}"
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).coalesce(1).write.parquet(d)
        for root, _dirs, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(d, (mtime, mtime))

    t0 = time.time() - 1000
    # the tombstone is DISCOVERED first (earliest mtime)
    write("a", [(1, "D", "c9", 0, None, None, None, None)], t0)
    write("b", [
        (2, "I", "c1", 0, "user", "v1", None, base),
        (3, "I", "c2", 0, "user", "v2", None, base),
    ], t0 + 100)
    write("c", [
        (4, "I", "c3", 0, "user", "v3", None,
         base + datetime.timedelta(minutes=1)),
    ], t0 + 200)

    stats = replay_stream(
        spark, log, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, dedup_within_watermark="1 hour",
    )
    assert stats["input_rows"] == 4  # nothing dropped as late
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in TargetTable(spark, str(tmp_path / "tbl")).read().collect()
    }
    assert got == {("c1", 0): "v1", ("c2", 0): "v2", ("c3", 0): "v3"}
