"""Incremental-changes read (CDC-out of the target table): fast delta
path vs snapshot-diff fallback, idempotent-replay transparency, schema
evolution in range, and preimage semantics for deletes."""

import pytest
from pyspark.sql import functions as F, types as T

from etl_reconciliate_spark.target.table import TargetTable

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)


def _batch(spark, rows, with_tool=False):
    fields = "lsn BIGINT, op STRING, conv_id STRING, turn_idx INT, text STRING"
    if with_tool:
        fields += ", tool STRING"
    return spark.createDataFrame(rows, fields)


def _by_key(df):
    return {
        (r["conv_id"], r["turn_idx"]): (r["_change_type"], r["text"], r["_lsn"])
        for r in df.collect()
    }


@pytest.fixture()
def table(spark, tmp_path):
    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2,
                    compact_threshold=100)
    t.init(SCHEMA)
    t.merge_apply(
        _batch(spark, [(1, "I", "c1", 0, "a"), (2, "I", "c1", 1, "b"),
                       (3, "I", "c2", 0, "c")]),
        {"lsn_hi": 3},
    )
    return t


def test_changes_classification_fast_path(spark, table):
    v1 = table.current_version()
    table.merge_apply(
        _batch(spark, [(4, "U", "c1", 0, "a2"),   # update
                       (5, "D", "c1", 1, None),   # delete
                       (6, "I", "c3", 0, "d")]),  # insert
        {"lsn_hi": 6},
    )
    got = _by_key(table.read_changes(v1))
    assert got == {
        ("c1", 0): ("update", "a2", 4),
        ("c1", 1): ("delete", "b", 5),   # preimage text, tombstone lsn
        ("c3", 0): ("insert", "d", 6),
    }


def test_changes_fast_path_equals_diff_path(spark, table):
    v1 = table.current_version()
    table.merge_apply(
        _batch(spark, [(4, "U", "c1", 0, "a2"), (5, "D", "c2", 0, None)]),
        {"lsn_hi": 5},
    )
    table.merge_apply(_batch(spark, [(6, "I", "c4", 0, "x")]), {"lsn_hi": 6})
    fast = table.read_changes(v1)
    diff = table.read_changes(v1, _force_diff=True)
    assert sorted(fast.columns) == sorted(diff.columns)
    assert _by_key(fast) == _by_key(diff)


def test_changes_across_compaction_uses_diff(spark, table):
    """A compaction inside the range breaks the delta-prefix property;
    the fallback must classify identically (modulo the tombstone LSN,
    which ordered-commit compaction legitimately drops)."""
    v1 = table.current_version()
    table.merge_apply(
        _batch(spark, [(4, "U", "c1", 0, "a2"), (5, "D", "c1", 1, None)]),
        {"lsn_hi": 5},
    )
    table.compact()  # drops tombstones (ordered_commits=True)
    table.merge_apply(_batch(spark, [(6, "I", "c3", 0, "d")]), {"lsn_hi": 6})
    got = _by_key(table.read_changes(v1))
    assert got == {
        ("c1", 0): ("update", "a2", 4),
        ("c1", 1): ("delete", "b", None),  # tombstone gone → null lsn
        ("c3", 0): ("insert", "d", 6),
    }


def test_replayed_slice_produces_no_changes(spark, table):
    """Re-applying an already-committed slice is a merge no-op and must
    also be invisible to incremental consumers."""
    v1 = table.current_version()
    table.merge_apply(
        _batch(spark, [(1, "I", "c1", 0, "a"), (2, "I", "c1", 1, "b")]),
        {"lsn_hi": 3},
    )
    assert table.current_version() > v1  # a (delta) commit happened
    assert table.read_changes(v1).count() == 0
    # dead → dead is also no net change
    table.merge_apply(_batch(spark, [(4, "D", "c9", 9, None)]), {"lsn_hi": 4})
    v2 = table.current_version()
    table.merge_apply(_batch(spark, [(3, "D", "c9", 9, None)]), {"lsn_hi": 4})
    assert table.read_changes(v2).count() == 0


def test_changes_schema_evolution_in_range(spark, table):
    v1 = table.current_version()
    table.merge_apply(
        _batch(spark, [(4, "I", "c5", 0, "t", "calc")], with_tool=True),
        {"lsn_hi": 4},
    )
    ch = table.read_changes(v1)
    assert "tool" in ch.columns
    rows = {(r["conv_id"], r["turn_idx"]): r["tool"] for r in ch.collect()}
    assert rows == {("c5", 0): "calc"}


def test_changes_validation(spark, table):
    from etl_reconciliate_spark.target.table import SnapshotExpiredError

    v = table.current_version()
    assert table.read_changes(v, v).count() == 0
    # a RANGE error is a plain ValueError — NOT SnapshotExpiredError, so
    # the jobs' expiry-degradation paths cannot misread it as expiry
    # (which would rewind a consumer cursor / mislabel a bootstrap)
    with pytest.raises(ValueError, match="from_version") as ei:
        table.read_changes(v + 1, v)
    assert not isinstance(ei.value, SnapshotExpiredError)
    # a missing base version IS the distinct expiry type
    with pytest.raises(SnapshotExpiredError, match="metadata missing"):
        table.read_changes(0, 999)


def test_changes_job_cli(spark, table, tmp_path, capsys, monkeypatch):
    """The CDC-out job surface: bootstrap (missing cursor → full state
    as inserts), then an incremental leg, cursor advancing each time."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import changes_job
    finally:
        sys.path.pop(0)

    cursor = str(tmp_path / "cursor")
    out = str(tmp_path / "changes")
    monkeypatch.setattr(sys, "argv", [
        "changes_job.py", "--target", table.path,
        "--cursor-file", cursor, "--out", out,
    ])
    assert changes_job.main() == 0
    boot = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert boot["counts"] == {"insert": 3}
    assert int(open(cursor).read()) == table.current_version()
    written = spark.read.parquet(boot["out"])
    assert written.count() == 3 and "_change_type" in written.columns

    table.merge_apply(
        _batch(spark, [(4, "U", "c1", 0, "a2"), (5, "D", "c2", 0, None)]),
        {"lsn_hi": 5},
    )
    assert changes_job.main() == 0
    inc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert inc["counts"] == {"update": 1, "delete": 1}
    assert int(open(cursor).read()) == table.current_version()


def test_changes_update_then_delete_nets_to_delete(spark, table):
    """Multiple ops on one key inside the range net to ONE change row
    (max-LSN winner), exactly like the merge itself."""
    v1 = table.current_version()
    table.merge_apply(_batch(spark, [(4, "U", "c1", 0, "a2")]), {"lsn_hi": 4})
    table.merge_apply(_batch(spark, [(5, "D", "c1", 0, None)]), {"lsn_hi": 5})
    got = _by_key(table.read_changes(v1))
    assert got == {("c1", 0): ("delete", "a", 5)}
    # and insert-then-delete of a NEW key nets to nothing visible…
    v2 = table.current_version()
    table.merge_apply(_batch(spark, [(6, "I", "c7", 0, "z")]), {"lsn_hi": 6})
    table.merge_apply(_batch(spark, [(7, "D", "c7", 0, None)]), {"lsn_hi": 7})
    assert _by_key(table.read_changes(v2)) == {}


def test_changes_job_expired_cursor_resnapshots(spark, table, tmp_path,
                                                capsys, monkeypatch):
    """A cursor recording a version expire_snapshots has dropped must
    re-snapshot (mode flags the fresh initial load so the consumer does
    not apply it as an increment) and advance the cursor — not print a
    ValueError traceback; an explicit --from-version at an expired
    version errors cleanly instead (there is nothing sensible to emit
    in its place)."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import changes_job
    finally:
        sys.path.pop(0)

    cursor = str(tmp_path / "cursor")
    out = str(tmp_path / "changes")
    expired_v = table.current_version()
    with open(cursor, "w") as f:
        f.write(str(expired_v))
    table.merge_apply(_batch(spark, [(4, "I", "c4", 0, "d")]), {"lsn_hi": 4})
    table.merge_apply(_batch(spark, [(5, "I", "c5", 0, "e")]), {"lsn_hi": 5})
    table.expire_snapshots(keep_last=1)

    monkeypatch.setattr(sys, "argv", [
        "changes_job.py", "--target", table.path,
        "--cursor-file", cursor, "--out", out,
    ])
    assert changes_job.main() == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["mode"] == "bootstrap_expired_cursor"
    assert got["counts"] == {"insert": 5}  # full live state re-exported
    assert int(open(cursor).read()) == table.current_version()

    monkeypatch.setattr(sys, "argv", [
        "changes_job.py", "--target", table.path,
        "--from-version", str(expired_v),
    ])
    assert changes_job.main() == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "expired" in err["error"]


def test_changes_job_range_error_is_not_expiry(spark, table, tmp_path,
                                               capsys, monkeypatch):
    """A cursor ABOVE a bounded --to-version is a caller range error:
    it must fail loudly with the cursor intact — misreading it as an
    expired cursor would emit a bogus bootstrap and REWIND the cursor
    below its recorded position, re-delivering the range next run (r5
    review of the expiry-degradation batch)."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import changes_job
    finally:
        sys.path.pop(0)

    cursor = str(tmp_path / "cursor")
    cur_v = table.current_version()
    with open(cursor, "w") as f:
        f.write(str(cur_v))
    monkeypatch.setattr(sys, "argv", [
        "changes_job.py", "--target", table.path,
        "--cursor-file", cursor, "--to-version", str(cur_v - 1),
        "--out", str(tmp_path / "changes"),
    ])
    assert changes_job.main() == 2
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "invalid version range" in err["error"]
    assert int(open(cursor).read()) == cur_v  # cursor NOT rewound

    # a --to-version that was NEVER committed is the same caller-error
    # class: without the up-front probe it would surface as
    # SnapshotExpiredError, be misread as an expired CURSOR, and die in
    # a FileNotFoundError traceback bootstrapping at the nonexistent
    # version (r5 review)
    monkeypatch.setattr(sys, "argv", [
        "changes_job.py", "--target", table.path,
        "--cursor-file", cursor, "--to-version", "999",
        "--out", str(tmp_path / "changes"),
    ])
    assert changes_job.main() == 2
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "to_version 999" in err["error"]
    assert int(open(cursor).read()) == cur_v  # cursor NOT rewound
