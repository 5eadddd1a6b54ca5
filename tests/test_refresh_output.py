"""The derived-output run (``target.versions.refresh_output``) through
both of its jobs: each case drives one job down a lifecycle path its own
test file does not cover."""

import datetime
import json
import os
import sys

import pytest
from pyspark.sql import types as T

from etl_reconciliate_spark.target import versions
from etl_reconciliate_spark.target.table import TargetTable
from etl_reconciliate_spark.target.versions import list_versions, read_version
from test_table_semantics import _spark_jobs

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
try:
    import dedup_index_job
    import rollup_job
finally:
    sys.path.pop(0)

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

# job -> (module, output-dir flag, row-count key, params that differ
# from the defaults)
JOBS = {
    "rollup": (rollup_job, "--rollup-dir", "rollup_rows",
               ("--grains", "minute,hour")),
    "dedup": (dedup_index_job, "--index-dir", "index_rows", ("--k", "5")),
}


def _commit(spark, tbl, lsn):
    tbl.merge_apply(spark.createDataFrame(
        [(lsn, "I", f"c{lsn}", 0, "user", f"{LONG} {lsn}",
          T0 + datetime.timedelta(minutes=lsn))], BATCH), {"lsn_hi": lsn})


def _output_rows(spark, root):
    path = os.path.join(root, read_version(root)["data_dir"])
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


@pytest.mark.parametrize("job,case", [
    ("dedup", "params_mismatch"),
    ("dedup", "expired_base"),
    ("dedup", "overlapping_runs"),
    ("rollup", "expired_mid_run"),
])
def test_refresh_output_lifecycle(spark, tmp_path, capsys, monkeypatch,
                                  job, case):
    module, dir_flag, rows_key, other_params = JOBS[job]
    tbl = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tbl.init(SCHEMA)
    _commit(spark, tbl, 1)
    root = str(tmp_path / "out")
    argv = [f"{job}.py", "--target", tbl.path, dir_flag, root,
            "--sweep-grace-secs", "0"]

    def run(*extra):
        monkeypatch.setattr(sys, "argv", argv + list(extra))
        rc = module.main()
        return rc, [json.loads(x) for x in
                    capsys.readouterr().out.strip().splitlines()]

    if case == "overlapping_runs":
        # both runs build slot 0 on one base; the second one links first
        real_publish = versions.publish_version
        state = {"winner": None}

        def overlapped(root_, version, meta):
            if state["winner"] is None:
                state["winner"] = "pending"
                assert module.main() == 0
                state["winner"] = read_version(root)
            return real_publish(root_, version, meta)

        monkeypatch.setattr(versions, "publish_version", overlapped)
        rc, lines = run()
        assert rc == 1
        assert lines[0]["mode"] == "build"  # the winner
        assert "conflict" in lines[-1]["error"]
        assert list_versions(root) == [0]
        assert read_version(root) == state["winner"]
        win_dir = os.path.join(root, state["winner"]["data_dir"])
        assert spark.read.parquet(win_dir).count() == state["winner"][rows_key]
        return

    rc, lines = run()
    assert rc == 0 and lines[-1]["mode"] == "build"
    built_from = read_version(root)["table_version"]
    published = list_versions(root)

    if case == "params_mismatch":
        rc, lines = run("--refresh", *other_params)
        assert rc == 1 and "different" in lines[-1]["error"]
        assert list_versions(root) == published
    elif case == "expired_base":
        for lsn in range(2, 5):
            _commit(spark, tbl, lsn)
        tbl.expire_snapshots(keep_last=1)
        rc, lines = run("--refresh")
        assert rc == 0 and lines[-1]["mode"] == "rebuild_expired_base"
        fresh = str(tmp_path / "fresh")
        monkeypatch.setattr(sys, "argv", [f"{job}.py", "--target", tbl.path,
                                          dir_flag, fresh])
        assert module.main() == 0
        assert _output_rows(spark, root) == _output_rows(spark, fresh)
    else:
        assert case == "expired_mid_run"
        _commit(spark, tbl, 2)
        read_changes = TargetTable.read_changes

        def racing(self, *a, **kw):
            # the concurrent writer: one more commit, then keep only it
            _commit(spark, self, 3)
            self.expire_snapshots(keep_last=1)
            return read_changes(self, *a, **kw)

        monkeypatch.setattr(TargetTable, "read_changes", racing)
        rc, lines = run("--refresh")
        assert rc == 1
        assert lines == [{"error": f"table version {built_from} expired mid-run"}]
        assert list_versions(root) == published


def test_refresh_input_plans_with_no_spark_job(spark, tmp_path):
    """A published output records its Spark schema (read from a written
    file's footer), and a refresh scans the previous output under it:
    building the refresh's input plan starts no Spark job."""
    tbl = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tbl.init(SCHEMA)
    _commit(spark, tbl, 1)
    root = str(tmp_path / "out")
    built = spark.createDataFrame([("a", 1, 2.5)], "k STRING, n BIGINT, x DOUBLE")
    seen = {}

    def update(from_version, to_version, stale, data_dir):
        seen["stale"] = stale
        os.makedirs(data_dir)
        return {}

    def run(refresh):
        return versions.refresh_output(
            tbl, root, name="out", params={}, measure_version=1,
            refresh=refresh, sweep_grace_secs=0,
            build=lambda to_version, data_dir: built.write.parquet(data_dir) or {},
            update=update, unchanged=lambda table_meta: {})

    assert run(False) == 0
    recorded = T.StructType.fromJson(read_version(root)["schema"])
    assert recorded.simpleString() == built.schema.simpleString()
    _commit(spark, tbl, 2)
    assert _spark_jobs(spark, lambda: run(True)) == 0
    assert [tuple(r) for r in seen["stale"].collect()] == [("a", 1, 2.5)]
