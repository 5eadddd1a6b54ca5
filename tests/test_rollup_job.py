"""Continuous-aggregate job surface: full build, incremental refresh
from the table's CDC-out, preimage-cell vacation, no-op fast path."""

import datetime
import json
import os
import re
import sys

import pytest
from pyspark.sql import types as T

from etl_reconciliate_spark.target import versions
from etl_reconciliate_spark.target.table import TargetTable
from etl_reconciliate_spark.target.versions import list_versions, read_version

sys.path.insert(0, "/root/repo/jobs")
try:
    import rollup_job
finally:
    sys.path.pop(0)

T0 = datetime.datetime(2026, 1, 1)


def _ts(minutes):
    return T0 + datetime.timedelta(minutes=minutes)


SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])
BATCH = ("lsn BIGINT, op STRING, conv_id STRING, turn_idx INT, "
         "role STRING, text STRING, ts TIMESTAMP")


def _run(monkeypatch, capsys, *argv):
    monkeypatch.setattr(sys, "argv", ["rollup_job.py", *argv])
    assert rollup_job.main() == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _rollup_rows(spark, rollup_dir):
    meta = read_version(rollup_dir)
    return {
        (r["grain"], r["bucket"], r["role"]): (
            r["n_events"], r["sum_value"], r["min_value"], r["max_value"])
        for r in spark.read.parquet(
            os.path.join(rollup_dir, meta["data_dir"])).collect()
    }


def test_rollup_build_refresh_cycle(spark, tmp_path, capsys, monkeypatch):
    tbl = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tbl.init(SCHEMA)
    tbl.merge_apply(spark.createDataFrame([
        (1, "I", "c1", 0, "user", "one two three", _ts(0)),
        (2, "I", "c1", 1, "assistant", "a b", _ts(1)),
        (3, "I", "c2", 0, "user", "x y z w", _ts(70)),
    ], BATCH), {"lsn_hi": 3})

    rdir = str(tmp_path / "rollup")
    built = _run(monkeypatch, capsys, "--target", tbl.path,
                 "--rollup-dir", rdir, "--grains", "hour,day")
    assert built["mode"] == "build" and built["rollup_rows"] > 0

    # refresh with NO table movement = recorded no-op
    noop = _run(monkeypatch, capsys, "--target", tbl.path,
                "--rollup-dir", rdir, "--refresh")
    assert noop["mode"] == "refresh" and noop["dirty_cells"] == 0

    # insert a turn, MOVE one turn to another hour (its old cell must
    # empty), delete another
    tbl.merge_apply(spark.createDataFrame([
        (4, "I", "c3", 0, "user", "p q", _ts(5)),
        (5, "U", "c2", 0, "user", "x y z w", _ts(200)),  # hour 1 -> 3
        (6, "D", "c1", 1, None, None, None),
    ], BATCH), {"lsn_hi": 6})

    ref = _run(monkeypatch, capsys, "--target", tbl.path,
               "--rollup-dir", rdir, "--refresh")
    assert ref["mode"] == "refresh" and ref["dirty_cells"] > 0

    # the refreshed materialization must equal a from-scratch build
    fresh_dir = str(tmp_path / "rollup_fresh")
    _run(monkeypatch, capsys, "--target", tbl.path,
         "--rollup-dir", fresh_dir, "--grains", "hour,day")
    got = _rollup_rows(spark, rdir)
    want = _rollup_rows(spark, fresh_dir)
    assert got == want
    # the moved turn's source hour-cell is GONE, not zeroed
    assert ("hour", _ts(60), "user") not in got
    assert ("hour", _ts(180), "user") in got


def test_rollup_refresh_grain_mismatch_rejected(spark, tmp_path, capsys,
                                                monkeypatch):
    tbl = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tbl.init(SCHEMA)
    tbl.merge_apply(spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "hello", _ts(0))], BATCH), {"lsn_hi": 1})
    rdir = str(tmp_path / "rollup")
    _run(monkeypatch, capsys, "--target", tbl.path, "--rollup-dir", rdir,
         "--grains", "hour,day")
    monkeypatch.setattr(sys, "argv", [
        "rollup_job.py", "--target", tbl.path, "--rollup-dir", rdir,
        "--grains", "minute,hour", "--refresh"])
    assert rollup_job.main() == 1
    assert "different" in json.loads(
        capsys.readouterr().out.strip().splitlines()[-1])["error"]


def test_rollup_refresh_expired_base_rebuilds(spark, tmp_path, capsys,
                                              monkeypatch):
    """When expire_snapshots removed the rollup's recorded snapshot,
    --refresh degrades to a full rebuild with a JSON line, not a
    traceback (code-review r4)."""
    tbl = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tbl.init(SCHEMA)
    tbl.merge_apply(spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "hello there", _ts(0))], BATCH),
        {"lsn_hi": 1})
    rdir = str(tmp_path / "rollup")
    _run(monkeypatch, capsys, "--target", tbl.path, "--rollup-dir", rdir)
    v_built = tbl.current_version()
    for i in range(2, 5):
        tbl.merge_apply(spark.createDataFrame(
            [(i, "I", f"c{i}", 0, "user", "more text", _ts(i))], BATCH),
            {"lsn_hi": i})
    tbl.expire_snapshots(keep_last=1)
    with pytest.raises(FileNotFoundError):
        tbl.metadata(v_built)  # premise: the base really is gone
    out = _run(monkeypatch, capsys, "--target", tbl.path,
               "--rollup-dir", rdir, "--refresh")
    assert out["mode"] == "rebuild_expired_base"
    assert out["rollup_rows"] > 0
    # and the refreshed materialization equals a from-scratch build
    fresh = str(tmp_path / "fresh")
    _run(monkeypatch, capsys, "--target", tbl.path, "--rollup-dir", fresh)
    assert _rollup_rows(spark, rdir) == _rollup_rows(spark, fresh)


def test_rollup_refresh_measure_version_mismatch_rebuilds(
        spark, tmp_path, capsys, monkeypatch):
    """A rollup built under a different tokenizer version must NOT be
    refreshed incrementally — dirty cells would carry new-tokenizer
    counts next to untouched old-tokenizer cells, breaking the
    refresh == rebuild guarantee. --refresh degrades to a full rebuild
    (r5 batch review)."""
    tbl = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tbl.init(SCHEMA)
    tbl.merge_apply(spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "hello there", _ts(0))], BATCH),
        {"lsn_hi": 1})
    rdir = str(tmp_path / "rollup")
    _run(monkeypatch, capsys, "--target", tbl.path, "--rollup-dir", rdir)
    # simulate a rollup persisted by an older engine build
    meta_path = f"{rdir}/v{list_versions(rdir)[-1]:06d}.json"
    meta = read_version(rdir)
    meta["measure_version"] = meta.get("measure_version", 0) - 1
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    tbl.merge_apply(spark.createDataFrame(
        [(2, "I", "c2", 0, "user", "bye now", _ts(1))], BATCH),
        {"lsn_hi": 2})
    out = _run(monkeypatch, capsys, "--target", tbl.path,
               "--rollup-dir", rdir, "--refresh")
    assert out["mode"] == "rebuild_measure_changed"
    # the rebuild stamps the CURRENT version, so the next refresh is
    # incremental again
    noop = _run(monkeypatch, capsys, "--target", tbl.path,
                "--rollup-dir", rdir, "--refresh")
    assert noop["mode"] == "refresh" and noop["dirty_cells"] == 0
    fresh = str(tmp_path / "fresh")
    _run(monkeypatch, capsys, "--target", tbl.path, "--rollup-dir", fresh)
    assert _rollup_rows(spark, rdir) == _rollup_rows(spark, fresh)


def test_rollup_rebuild_cleans_previous_data_dir(spark, tmp_path, capsys,
                                                 monkeypatch):
    """A rebuild over an existing rollup keeps the superseded snap-* dir
    readable for one more publish, then removes it instead of orphaning
    it (code-review r4)."""
    tbl = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tbl.init(SCHEMA)
    tbl.merge_apply(spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "hello", _ts(0))], BATCH), {"lsn_hi": 1})
    rdir = str(tmp_path / "rollup")
    _run(monkeypatch, capsys, "--target", tbl.path, "--rollup-dir", rdir)
    old_dir = os.path.join(rdir, read_version(rdir)["data_dir"])
    tbl.merge_apply(spark.createDataFrame(
        [(2, "I", "c2", 0, "user", "bye", _ts(1))], BATCH), {"lsn_hi": 2})
    # rebuild WITHOUT --refresh (e.g. to change grains); grace 0 so the
    # expiry is observable in-test (the default protects young dirs)
    rebuild = ("--target", tbl.path, "--rollup-dir", rdir,
               "--grains", "minute,hour", "--sweep-grace-secs", "0")
    rebuilt = _run(monkeypatch, capsys, *rebuild)
    assert rebuilt["mode"] == "rebuild"
    assert os.path.isdir(old_dir)  # superseded, still readable
    assert _run(monkeypatch, capsys, *rebuild)["mode"] == "rebuild"
    assert not os.path.exists(old_dir)
    assert list_versions(rdir) == [1, 2]
    assert len([n for n in os.listdir(rdir) if n.startswith("snap-")]) == 2
    assert _rollup_rows(spark, rdir)  # new rollup readable


def test_rollup_overlapping_runs_first_linker_wins(spark, tmp_path, capsys,
                                                   monkeypatch):
    """Two rollup runs on one base both build slot 0. The one that links
    second exits 1 with a conflict, and the winner's output is intact."""
    tbl = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tbl.init(SCHEMA)
    tbl.merge_apply(spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "hello there", _ts(0))], BATCH),
        {"lsn_hi": 1})
    rdir = str(tmp_path / "rollup")
    argv = ["rollup_job.py", "--target", tbl.path, "--rollup-dir", rdir,
            "--sweep-grace-secs", "0"]
    real_publish = versions.publish_version
    state = {"winner": None}

    def overlapped(root, version, meta):
        # the first run has built its output; the second runs to
        # completion on the same base before the first one links
        if state["winner"] is None:
            state["winner"] = "pending"
            assert rollup_job.main() == 0
            state["winner"] = read_version(rdir)
        return real_publish(root, version, meta)

    monkeypatch.setattr(versions, "publish_version", overlapped)
    monkeypatch.setattr(sys, "argv", argv)
    assert rollup_job.main() == 1
    lines = capsys.readouterr().out.strip().splitlines()
    assert json.loads(lines[0])["mode"] == "build"  # the winner
    assert "conflict" in json.loads(lines[-1])["error"]

    assert list_versions(rdir) == [0]
    assert read_version(rdir) == state["winner"]
    win_dir = os.path.join(rdir, state["winner"]["data_dir"])
    assert spark.read.parquet(win_dir).count() == (
        state["winner"]["rollup_rows"])


def test_rollup_refresh_races_replay_with_expiry(spark, tmp_path, capsys,
                                                 monkeypatch):
    """``--refresh`` runs in a loop on a thread while ``replay()``
    commits slices to the same table (compacting every 3 deltas, and
    expiring all but 2 versions after each commit — so a refresh's base
    version is expired under it). After each commit the writer waits
    only for a refresh to START, then commits its next slice alongside
    it. One more refresh afterwards must equal a fresh build at the
    final version: no raced run may leave a wrong rollup behind."""
    import threading
    import time

    from etl_reconciliate_spark.datagen import gen_changelog, write_changelog
    from etl_reconciliate_spark.streaming.runner import replay

    log = str(tmp_path / "log")
    write_changelog(spark, gen_changelog(6_000, seed=11), log,
                    epoch_lsn=2_000, n_files=8)
    tgt = str(tmp_path / "t")

    def commit_slice():
        return replay(spark, log, tgt, slice_size=1_000, max_slices=1,
                      expire_keep=2, compact_threshold=3)["slices"]

    commit_slice()
    rdir = str(tmp_path / "rollup")
    refresh = ("--target", tgt, "--rollup-dir", rdir, "--refresh",
               "--sweep-grace-secs", "0")
    assert _run(monkeypatch, capsys, *refresh)["mode"] == "build"

    monkeypatch.setattr(sys, "argv", ["rollup_job.py", *refresh])
    done = threading.Event()
    commits = [0]
    started, errors, codes = [], [], []

    def loop():
        while not done.is_set():
            started.append(commits[0])
            try:
                codes.append(rollup_job.main())
            except Exception as e:
                errors.append(e)
                return
            time.sleep(0.05)

    t = threading.Thread(target=loop)
    t.start()
    try:
        while commit_slice():
            commits[0] += 1
            deadline = time.monotonic() + 120
            while commits[0] not in started[-1:] and not errors:
                assert time.monotonic() < deadline, "refresher stalled"
                time.sleep(0.01)
    finally:
        done.set()
        t.join(timeout=300)
    assert not t.is_alive() and not errors, errors
    raced = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    # a run whose pinned version expired under it exits 1 with one JSON
    # error line naming that version, and publishes nothing
    failed = [r["error"] for r in raced if "error" in r]
    assert len(raced) == len(codes) and codes.count(1) == len(failed), (codes, raced)
    assert set(codes) <= {0, 1}, codes
    assert all(re.fullmatch(r"table version \d+ expired mid-run", e) for e in failed), failed
    assert any(r.get("mode") == "refresh" and r["dirty_cells"] > 0
               for r in raced), raced  # incremental runs did race

    final = _run(monkeypatch, capsys, *refresh)
    assert final["to_version"] == TargetTable(spark, tgt).current_version()
    fresh = str(tmp_path / "fresh")
    _run(monkeypatch, capsys, "--target", tgt, "--rollup-dir", fresh)
    assert _rollup_rows(spark, rdir) == _rollup_rows(spark, fresh)
