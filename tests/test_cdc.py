"""End-to-end CDC replay: dedup → repartition → MERGE, vs the pandas
fold oracle; exactly-once replay, kill/resume, schema evolution."""

import pandas as pd
import pytest

from etl_reconciliate_spark.datagen import (
    fold_changelog,
    gen_changelog,
    tool_epoch_lsn,
    write_changelog,
)
from etl_reconciliate_spark.operators.dedup import dedup_max_lsn
from etl_reconciliate_spark.schemas import CHANGELOG_SCHEMA
from etl_reconciliate_spark.streaming.runner import replay
from etl_reconciliate_spark.target.table import TargetTable

N = 12_000


@pytest.fixture(scope="module")
def changelog_df():
    return gen_changelog(N, seed=42)


@pytest.fixture(scope="module")
def changelog_path(spark, changelog_df, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("cdc") / "changelog")
    write_changelog(spark, changelog_df, p, epoch_lsn=tool_epoch_lsn(N))
    return p


def read_target(spark, path) -> pd.DataFrame:
    t = TargetTable(spark, path)
    pdf = t.read().toPandas()
    return pdf.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(
        drop=True
    )


def assert_matches_oracle(spark, target_path, changelog_df):
    got = read_target(spark, target_path)
    want = fold_changelog(changelog_df)
    got = got[want.columns.tolist()].reset_index(drop=True)
    want = want.reset_index(drop=True)
    got["ts"] = pd.to_datetime(got["ts"]).astype("datetime64[us]")
    want["ts"] = pd.to_datetime(want["ts"]).astype("datetime64[us]")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


TIE_ROWS = [
    (10, "I", "c1", 0, "user", "a", None, None),
    (12, "U", "c1", 0, "user", "b", None, None),
    (12, "U", "c1", 0, "user", "b", None, None),  # duplicate delivery
    (11, "U", "c1", 0, "user", "stale", None, None),
    (5, "I", "c2", 3, "user", "z", None, None),
]


def test_dedup_max_lsn(spark):
    df = spark.createDataFrame(TIE_ROWS, schema=CHANGELOG_SCHEMA)
    out = dedup_max_lsn(df).orderBy("conv_id").collect()
    assert len(out) == 2
    assert out[0]["text"] == "b" and out[0]["lsn"] == 12
    assert out[1]["text"] == "z"


def test_replay_matches_oracle(spark, changelog_df, changelog_path, tmp_path):
    tgt = str(tmp_path / "target")
    stats = replay(spark, changelog_path, tgt, slice_size=3000)
    assert stats["slices"] == 4
    assert stats["events"] == len(changelog_df)
    assert_matches_oracle(spark, tgt, changelog_df)


def test_replay_is_idempotent(spark, changelog_df, changelog_path, tmp_path):
    tgt = str(tmp_path / "target")
    replay(spark, changelog_path, tgt, slice_size=4000)
    v1 = TargetTable(spark, tgt).current_version()
    # full second replay: offsets say everything applied → zero slices
    stats = replay(spark, changelog_path, tgt, slice_size=4000)
    assert stats["slices"] == 0
    assert TargetTable(spark, tgt).current_version() == v1
    assert_matches_oracle(spark, tgt, changelog_df)


def test_overlapping_reapply_is_noop(spark, changelog_df, changelog_path, tmp_path):
    """Row-level idempotence: force re-merge of an already-applied slice
    (simulates a crash after data write but before... no — after commit,
    with a replayed transport). Final state unchanged."""
    from etl_reconciliate_spark.sources.changelog import ChangeLogSource
    from etl_reconciliate_spark.schemas import KEY_COLS

    tgt = str(tmp_path / "target")
    replay(spark, changelog_path, tgt, slice_size=5000)
    table = TargetTable(spark, tgt)
    src = ChangeLogSource(spark, changelog_path)
    sl = src.read_slice(2000, 7000)  # mid-log slice, already applied
    deduped = dedup_max_lsn(sl.repartition(8, *KEY_COLS))
    table.merge_apply(deduped, table.committed_offsets())
    assert_matches_oracle(spark, tgt, changelog_df)


def test_kill_and_resume(spark, changelog_df, changelog_path, tmp_path):
    tgt = str(tmp_path / "target")
    s1 = replay(spark, changelog_path, tgt, slice_size=2500, max_slices=2)
    assert s1["slices"] == 2
    s2 = replay(spark, changelog_path, tgt, slice_size=2500)
    assert s2["slices"] > 0
    assert s1["events"] + s2["events"] == len(changelog_df)
    assert_matches_oracle(spark, tgt, changelog_df)


def test_schema_evolution(spark, changelog_df, changelog_path, tmp_path):
    """Early slices lack `tool` entirely; the column must appear in the
    target schema once post-epoch slices arrive, with old rows null."""
    epoch = tool_epoch_lsn(N)
    tgt = str(tmp_path / "target")
    # first replay only pre-epoch slices
    pre = replay(spark, changelog_path, tgt, slice_size=epoch, max_slices=1)
    table = TargetTable(spark, tgt)
    assert "tool" not in table.schema().fieldNames()
    assert pre["final_lsn"] == epoch - 1  # slice is (-1, epoch-1]
    # then the rest — schema evolves
    replay(spark, changelog_path, tgt, slice_size=N)
    table = TargetTable(spark, tgt)
    assert "tool" in table.schema().fieldNames()
    assert_matches_oracle(spark, tgt, changelog_df)


def test_lineage_manifest(spark, changelog_path, changelog_df, tmp_path):
    from etl_reconciliate_spark.plans.checkpoint import CheckpointManager

    tgt = str(tmp_path / "target")
    replay(spark, changelog_path, tgt, slice_size=4000)
    table = TargetTable(spark, tgt)
    man = CheckpointManager(table).manifest()
    assert len(man) == 3
    assert sum(r["events"] for r in man) == len(changelog_df)
    # per-partition offsets committed atomically with the snapshot
    offs = table.committed_offsets()
    assert offs["lsn_hi"] == N - 1
    assert len(offs["partitions"]) > 0
    # file_rows is whole-file footer metadata (may exceed the slice);
    # lsn ranges are clipped to the slice
    assert sum(p["file_rows"] for p in offs["partitions"]) > 0
    assert all(p["lsn_lo"] >= 0 and p["lsn_hi"] <= N - 1 for p in offs["partitions"])


def test_dedup_agg_equals_window(spark, changelog_df):
    """The hash-aggregate (max_by) dedup must produce exactly the window
    dedup's rows — same winners, same (lsn, op) tie-breaks — since replay,
    the stream runner and the recon change-log fold all dedup with it.
    The input includes the equal-LSN duplicate deliveries of TIE_ROWS."""
    from etl_reconciliate_spark.operators.dedup import dedup_max_lsn_agg

    df = spark.createDataFrame(changelog_df, schema=CHANGELOG_SCHEMA).unionByName(
        spark.createDataFrame(TIE_ROWS, schema=CHANGELOG_SCHEMA)
    )
    a = (
        dedup_max_lsn(df)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    b = (
        dedup_max_lsn_agg(df)
        .select(a.columns.tolist())
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_reconcile_job_changelog_source(
    spark, changelog_df, changelog_path, tmp_path, capsys, monkeypatch
):
    """reconcile_job --source-kind changelog folds the log (max_by dedup,
    deletes dropped) and must find a target replayed from the same log
    all-MATCH, one row per live key of the pandas fold."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    try:
        import reconcile_job
    finally:
        sys.path.pop(0)

    tgt = str(tmp_path / "target")
    replay(spark, changelog_path, tgt, slice_size=6000)
    monkeypatch.setattr(sys, "argv", [
        "reconcile_job.py", "--source", changelog_path,
        "--source-kind", "changelog", "--target", tgt,
    ])
    assert reconcile_job.main() == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_live = len(fold_changelog(changelog_df))
    assert got["status_counts"] == {"MATCH": n_live}
    assert got["total"] == n_live


def test_replay_with_empty_slices(spark, tmp_path):
    """Sparse LSN sequences (real WAL/Debezium offsets skip numbers)
    can leave a whole slice with ZERO events; the replay loop's metric
    observations must survive AQE eliminating the CollectMetrics node
    on the empty plan (r4 review) and the final state must still equal
    the fold oracle."""
    df = gen_changelog(2_000, seed=7)
    # stretch into blocks of 100 consecutive LSNs separated by 10k-wide
    # gaps: with slice_size=5_000 most slices are completely empty
    df = df.assign(lsn=df["lsn"] + (df["lsn"] // 100) * 10_000)
    p = str(tmp_path / "sparse_log")
    write_changelog(spark, df, p)
    tgt = str(tmp_path / "t")
    stats = replay(spark, p, tgt, slice_size=5_000)
    assert stats["slices"] > 20  # plenty of empty slices were planned
    assert stats["events"] == len(df)
    want = fold_changelog(df)
    got = read_target(spark, tgt)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got[["conv_id", "turn_idx", "text"]],
        want[["conv_id", "turn_idx", "text"]].reset_index(drop=True),
    )


def test_sparse_lsn_gap_slices_are_skipped(spark, tmp_path):
    """Real WAL/Debezium LSNs are sparse byte offsets: densely-tiled
    slices routinely cover pure gaps, and merging a provably-empty
    slice cost a full-table rewrite (cow) / an empty delta counting
    toward compaction (mor) per gap. The footer index proves emptiness
    driver-side — those slices must be skipped with zero commits."""
    import datetime

    rows = []
    for i in range(10):  # lsns 0..9, then a gap, then 5000..5009
        rows.append((i, "I", f"a{i}", 0, "user", "x", None,
                     datetime.datetime(2026, 1, 1)))
        rows.append((5000 + i, "I", f"b{i}", 0, "user", "y", None,
                     datetime.datetime(2026, 1, 1)))
    log = str(tmp_path / "log")
    spark.createDataFrame(
        sorted(rows), CHANGELOG_SCHEMA
    ).repartitionByRange(2, "lsn").write.parquet(log)

    tgt = str(tmp_path / "tbl")
    stats = replay(spark, log, tgt, slice_size=100)
    assert stats["events"] == 20
    t = TargetTable(spark, tgt)
    assert t.read().count() == 20
    # the gap slices committed NOTHING: versions advanced only for the
    # two non-empty slices (plus init)
    assert t.current_version() <= 3
    from etl_reconciliate_spark.plans.checkpoint import CheckpointManager

    manifest = CheckpointManager(t).manifest()
    skipped = [m for m in manifest if m.get("skipped_empty_gap")]
    applied = [m for m in manifest if not m.get("skipped_empty_gap")]
    assert len(skipped) >= 40  # ~49 of ~51 tiled slices are pure gap
    assert len(applied) == 2


def test_bounded_replay_advances_past_wide_gap(spark, tmp_path):
    """r5 final review: with max_slices set, an LSN gap wider than the
    slice budget made every bounded run re-plan the same provably-empty
    gap slices forever (gap skips never committed an offset — livelock
    for an orchestrator invoking bounded runs until caught up). A
    trailing run of gap slices now persists the high-water mark with
    ONE offsets-only commit, so each run makes guaranteed progress."""
    import datetime

    rows = []
    for i in range(5):  # island A: lsns 0..4; island B: lsns 2000..2004
        rows.append((i, "I", f"a{i}", 0, "user", "x", None,
                     datetime.datetime(2026, 1, 1)))
        rows.append((2000 + i, "I", f"b{i}", 0, "user", "y", None,
                     datetime.datetime(2026, 1, 1)))
    log = str(tmp_path / "log")
    spark.createDataFrame(
        sorted(rows), CHANGELOG_SCHEMA
    ).repartitionByRange(2, "lsn").write.parquet(log)

    tgt = str(tmp_path / "tbl")
    events = 0
    lsn_marks = []
    for _run in range(30):
        stats = replay(spark, log, tgt, slice_size=100, max_slices=3)
        events += stats["events"]
        # guaranteed progress: the committed high-water mark advances
        # on EVERY bounded run until the log is drained
        assert not lsn_marks or stats["final_lsn"] > lsn_marks[-1] or (
            stats["final_lsn"] == lsn_marks[-1] == 2004
        )
        lsn_marks.append(stats["final_lsn"])
        if stats["final_lsn"] >= 2004:
            break
    assert events == 10
    assert lsn_marks[-1] == 2004
    t = TargetTable(spark, tgt)
    assert t.read().count() == 10


def test_gap_only_runs_respect_snapshot_retention(spark, tmp_path):
    """r5 final review round 2: a gap-only bounded run ends in the
    trailing-gap offsets commit, which sat OUTSIDE the applied-slice
    branch where per-slice expiry runs — draining a wide gap with
    expire_keep set accumulated one unexpired offsets-only snapshot per
    run. The trailing-gap commit must expire too, keeping the version
    count at the retention bound throughout the drain."""
    import datetime

    rows = []
    for i in range(5):  # island A: lsns 0..4; island B: lsns 2000..2004
        rows.append((i, "I", f"a{i}", 0, "user", "x", None,
                     datetime.datetime(2026, 1, 1)))
        rows.append((2000 + i, "I", f"b{i}", 0, "user", "y", None,
                     datetime.datetime(2026, 1, 1)))
    log = str(tmp_path / "log")
    spark.createDataFrame(
        sorted(rows), CHANGELOG_SCHEMA
    ).repartitionByRange(2, "lsn").write.parquet(log)

    tgt = str(tmp_path / "tbl")
    t = None
    for _run in range(30):
        stats = replay(spark, log, tgt, slice_size=100, max_slices=3,
                       expire_keep=2)
        t = TargetTable(spark, tgt)
        # retention holds after EVERY bounded run, gap-only ones included
        assert len(t.versions()) <= 2
        if stats["final_lsn"] >= 2004:
            break
    assert t.read().count() == 10
