"""Round-2 table-layer semantics: pinned-version schema on time travel,
optimistic-concurrency commits, tombstone safety under out-of-order
commits, and the results/report sink."""

import json
import os
import time
import uuid

import pytest
from pyspark.sql import functions as F, types as T

from etl_reconciliate_spark.target import versions
from etl_reconciliate_spark.target.table import (
    CommitConflictError,
    TargetTable,
)

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


def test_time_travel_uses_pinned_schema(spark, tmp_path):
    """A version pinned BEFORE a schema evolution must not show the
    late-added column (round-1 verdict item 7)."""
    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.init(SCHEMA)
    t.merge_apply(_batch(spark, [(1, "I", "c1", 0, "hello")]), {"lsn_hi": 1})
    v_pre = t.current_version()
    t.merge_apply(
        _batch(spark, [(2, "I", "c1", 1, "hi", "calc")], with_tool=True),
        {"lsn_hi": 2},
    )
    assert "tool" in t.read().columns
    pinned = t.read(version=v_pre)
    assert "tool" not in pinned.columns
    assert pinned.count() == 1


def test_commit_conflict_and_stale_takeover(spark, tmp_path):
    """A PUBLISHED next slot is a conflict for any writer still targeting
    it; a crashed writer leaves only aged temp litter, which blocks
    nothing and is reaped by expire_snapshots."""
    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.init(SCHEMA)
    t.merge_apply(_batch(spark, [(1, "I", "c1", 0, "a")]), {"lsn_hi": 1})

    # another writer publishes the next slot first
    nxt = t.current_version() + 1
    b = TargetTable(spark, t.path, n_buckets=2)
    assert b.commit_offsets({"lsn_hi": 2})["version"] == nxt
    # a second writer still targeting that slot conflicts
    with pytest.raises(CommitConflictError):
        t._commit(nxt, SCHEMA, t.metadata()["data_dir"], {},
                  row_count=0, parent=nxt - 1, deltas=[])
    assert t.current_version() == nxt
    assert t.metadata(nxt)["offsets"] == {"lsn_hi": 2}  # winner intact

    # a crashed writer's half-written temp for the next slot is not a
    # version and does not block the next merge
    nxt2 = nxt + 1
    litter = versions._meta_path(t.path, nxt2) + ".deadbeef.tmp"
    with open(litter, "w") as f:
        f.write('{"version": ')
    os.utime(litter, (time.time() - 3600, time.time() - 3600))
    assert nxt2 not in t.versions()
    stats = t.merge_apply(_batch(spark, [(3, "U", "c1", 0, "c")]), {"lsn_hi": 3})
    assert stats["version"] == nxt2
    assert t.current_version() == nxt2
    t.expire_snapshots(keep_last=2)  # litter is past the orphan grace
    assert not os.path.exists(litter)
    assert [r["text"] for r in t.read().collect()] == ["c"]


def test_merge_retry_after_conflict(spark, tmp_path):
    """A commit conflict from a racing writer is retried from fresh
    state inside merge_apply (r2 verdict item 8) — the first conflicted
    attempt's work is discarded and the retry lands on the next slot."""
    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.init(SCHEMA)
    t.merge_apply(_batch(spark, [(1, "I", "c1", 0, "a")]), {"lsn_hi": 1})

    real = t._commit
    calls = {"n": 0}

    def flaky(*a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise CommitConflictError("simulated racing writer")
        return real(*a, **k)

    t._commit = flaky
    stats = t.merge_apply(_batch(spark, [(2, "U", "c1", 0, "b")]), {"lsn_hi": 2})
    assert calls["n"] == 2 and stats["version"] == t.current_version()
    assert [r["text"] for r in t.read().collect()] == ["b"]


def test_merge_retry_with_real_interleaved_writer(spark, tmp_path):
    """TRUE two-writer interleave (r3 verdict item 7): writer B commits
    a full merge_apply BETWEEN writer A's state read and A's commit, so
    A's first attempt targets a now-published slot and gets a genuine
    (not simulated) CommitConflictError from the commit protocol. A's
    built-in retry must recompute from the fresh state — B's row
    visible — and land on the next slot with BOTH writers' rows."""
    path = str(tmp_path / "t")
    a = TargetTable(spark, path, n_buckets=2)
    a.init(SCHEMA)
    a.merge_apply(_batch(spark, [(1, "I", "c1", 0, "base")]), {"lsn_hi": 1})
    b = TargetTable(spark, path, n_buckets=2)

    real_commit = a._commit
    state = {"attempts": 0, "b_version": None}

    def racing(*args, **kwargs):
        state["attempts"] += 1
        if state["attempts"] == 1:
            # B lands a complete merge while A is mid-commit; A's
            # then-current attempt targets the slot B takes here
            b_stats = b.merge_apply(
                _batch(spark, [(2, "I", "c2", 0, "from-b")]), {"lsn_hi": 2}
            )
            state["b_version"] = b_stats["version"]
        return real_commit(*args, **kwargs)

    a._commit = racing
    stats = a.merge_apply(
        _batch(spark, [(3, "I", "c3", 0, "from-a")]), {"lsn_hi": 3}
    )
    # attempt 1 hit a REAL published-slot conflict and was retried
    assert state["attempts"] == 2
    assert stats["version"] == state["b_version"] + 1 == 3
    rows = {r["conv_id"]: r["text"] for r in a.read().collect()}
    assert rows == {"c1": "base", "c2": "from-b", "c3": "from-a"}


def test_tombstone_retained_without_ordered_commits(spark, tmp_path):
    """Out-of-order commits (stream runner): a compaction that dropped
    tombstones would let a LATER-committed but LOWER-LSN event resurrect
    a deleted row. ordered_commits=False retains them; the deleted key
    must stay dead."""
    t = TargetTable(
        spark, str(tmp_path / "t"), n_buckets=2,
        ordered_commits=False,
    )
    t.init(SCHEMA)
    t.merge_apply(_batch(spark, [(10, "I", "c1", 0, "v10")]), {"b": 1})
    t.merge_apply(_batch(spark, [(20, "D", "c1", 0, None)]), {"b": 2})
    t.compact()  # retains the lsn-20 tombstone
    # out-of-order delivery: lsn 15 arrives after compaction
    t.merge_apply(_batch(spark, [(15, "U", "c1", 0, "v15")]), {"b": 3})
    assert t.read().count() == 0  # still deleted

    # control: the ordered-commits default DROPS the tombstone, which is
    # exactly why it must not be used with an out-of-order writer
    t2 = TargetTable(spark, str(tmp_path / "t2"), n_buckets=2)
    t2.init(SCHEMA)
    t2.merge_apply(_batch(spark, [(10, "I", "c1", 0, "v10")]), {"b": 1})
    t2.merge_apply(_batch(spark, [(20, "D", "c1", 0, None)]), {"b": 2})
    t2.compact()
    t2.merge_apply(_batch(spark, [(15, "U", "c1", 0, "v15")]), {"b": 3})
    assert t2.read().count() == 1  # resurrected — the unordered hazard


def test_compact_retained_tombstone_row_count_is_live(spark, tmp_path):
    t = TargetTable(
        spark, str(tmp_path / "t"), n_buckets=2,
        ordered_commits=False,
    )
    t.init(SCHEMA)
    t.merge_apply(
        _batch(spark, [(1, "I", "c1", 0, "a"), (2, "I", "c2", 0, "b")]), {"b": 1}
    )
    t.merge_apply(_batch(spark, [(3, "D", "c1", 0, None)]), {"b": 2})
    stats = t.compact()
    assert stats["row_count"] == 1  # live rows only, tombstone excluded
    assert t.count_live() == 1


def test_report_sink_and_two_sheets(spark, tmp_path):
    from etl_reconciliate_spark.sinks.report import (
        write_result_table,
        write_two_sheet_report,
    )

    recon = spark.createDataFrame(
        [
            ("c1", 0, "MATCH", "a", "a"),
            ("c1", 1, "VALUE_DISCREPANCY", "b", "b!"),
            ("c2", 0, "SOURCE_ONLY", "c", None),
        ],
        "conv_id STRING, turn_idx INT, status STRING, src_text STRING, tgt_text STRING",
    )
    out = str(tmp_path / "results")
    n = write_result_table(recon, out)
    assert n == 3
    back = spark.read.parquet(out)
    assert back.count() == 3
    # partitioned by status → the discrepancy scan prunes to one partition
    assert os.path.isdir(os.path.join(out, "status=VALUE_DISCREPANCY"))

    rep = write_two_sheet_report(
        {
            "discrepant_turns": recon.filter(F.col("status") != "MATCH"),
            "all_turns": recon,
        },
        str(tmp_path / "report"),
        order_by={"discrepant_turns": ["conv_id", "turn_idx"],
                  "all_turns": ["conv_id", "turn_idx"]},
    )
    assert rep["sheets"]["discrepant_turns"]["rows"] == 2
    csv = open(rep["sheets"]["discrepant_turns"]["csv"]).read().splitlines()
    assert csv[0].startswith("conv_id,turn_idx,status")
    assert len(csv) == 3
    html_doc = open(rep["html"]).read()
    # conditional fill on non-OK rows, none on the MATCH row
    assert html_doc.count('class="bad"') == 4  # 2 + 2 across both sheets
    assert "VALUE_DISCREPANCY" in html_doc


def _score_batch(spark, rows, score_type="INT"):
    return spark.createDataFrame(
        rows,
        f"lsn BIGINT, op STRING, conv_id STRING, turn_idx INT, score {score_type}",
    )


SCORE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("score", T.IntegerType()),
    ]
)


def test_schema_widening_int_to_long(spark, tmp_path):
    """A batch carrying a wider type (int -> long) widens the table
    schema; pre-widening data files are cast at read time; a later
    NARROWER batch (old epoch replay) is cast up without changing the
    schema; time travel to a pre-widening version keeps int."""
    from etl_reconciliate_spark.target.table import _wider  # noqa: F401

    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.init(SCORE_SCHEMA)
    t.merge_apply(_score_batch(spark, [(1, "I", "c1", 0, 5)]), {"lsn_hi": 1})
    v_pre = t.current_version()
    assert dict(t.read().dtypes)["score"] == "int"

    big = 3_000_000_000  # does not fit int32
    t.merge_apply(
        _score_batch(spark, [(2, "I", "c2", 0, big)], "BIGINT"), {"lsn_hi": 2}
    )
    assert dict(t.read().dtypes)["score"] == "bigint"
    got = {(r["conv_id"], r["turn_idx"]): r["score"] for r in t.read().collect()}
    assert got == {("c1", 0): 5, ("c2", 0): big}

    # old-epoch replay with the narrow type: cast up, schema unchanged
    t.merge_apply(_score_batch(spark, [(3, "U", "c1", 0, 7)]), {"lsn_hi": 3})
    assert dict(t.read().dtypes)["score"] == "bigint"
    got = {(r["conv_id"], r["turn_idx"]): r["score"] for r in t.read().collect()}
    assert got == {("c1", 0): 7, ("c2", 0): big}

    # time travel: the pinned version still reads as int
    assert dict(t.read(version=v_pre).dtypes)["score"] == "int"


def test_schema_conflict_raises(spark, tmp_path):
    from etl_reconciliate_spark.target.table import SchemaConflictError

    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.init(SCORE_SCHEMA)
    with pytest.raises(SchemaConflictError, match="incompatible"):
        t.merge_apply(
            _score_batch(spark, [(1, "I", "c1", 0, "oops")], "STRING"),
            {"lsn_hi": 1},
        )


def test_key_type_mismatch_raises(spark, tmp_path):
    """Key columns never evolve implicitly (ADVICE r2): a batch whose
    key arrives WIDER than the table's (long turn_idx vs int) must fail
    loudly, not be silently narrow-cast by _conform — a down-cast could
    collapse distinct keys."""
    from etl_reconciliate_spark.target.table import SchemaConflictError

    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.init(SCORE_SCHEMA)
    t.merge_apply(_score_batch(spark, [(1, "I", "c1", 0, 5)]), {"lsn_hi": 1})
    wide_key = spark.createDataFrame(
        [(2, "I", "c1", 2**40, 6)],
        "lsn BIGINT, op STRING, conv_id STRING, turn_idx BIGINT, score INT",
    )
    with pytest.raises(SchemaConflictError, match="key column 'turn_idx'"):
        t.merge_apply(wide_key, {"lsn_hi": 2})
    # payload widening is unaffected by the key guard
    t.merge_apply(
        _score_batch(spark, [(3, "I", "c2", 0, 3_000_000_000)], "BIGINT"),
        {"lsn_hi": 3},
    )
    assert dict(t.read().dtypes)["score"] == "bigint"


def test_read_keys_bucket_pruned_lookup(spark, tmp_path):
    """Point lookup equals read().filter() on values AND provably opens
    fewer files: inputFiles() must show one file per (bucket, dir), not
    n_buckets per dir. Covers winners across deltas, tombstones, missing
    keys, and schema evolution padding."""
    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=8,
                    compact_threshold=99)
    t.init(SCHEMA)
    rows = [(i, "I", f"c{i % 10}", i // 10, f"v{i}") for i in range(40)]
    t.merge_apply(_batch(spark, rows), {"lsn_hi": 39})
    # delta 2: update one key, delete another, evolve schema with `tool`
    t.merge_apply(
        _batch(spark, [(100, "U", "c1", 0, "upd", "calc"),
                       (101, "D", "c2", 0, None, None)], with_tool=True),
        {"lsn_hi": 101},
    )

    got = t.read_keys([("c1", 0), ("c2", 0), ("c3", 0), ("nope", 7)])
    by_key = {(r["conv_id"], r["turn_idx"]): r for r in got.collect()}
    assert set(by_key) == {("c1", 0), ("c3", 0)}  # c2 deleted, nope absent
    assert by_key[("c1", 0)]["text"] == "upd"
    assert by_key[("c1", 0)]["tool"] == "calc"
    assert by_key[("c3", 0)]["text"] == "v3"
    assert by_key[("c3", 0)]["tool"] is None  # evolution padding

    # parity with the full-scan read on the same keys
    full = t.read().filter(
        F.expr("(conv_id = 'c1' AND turn_idx = 0) OR "
               "(conv_id = 'c2' AND turn_idx = 0) OR "
               "(conv_id = 'c3' AND turn_idx = 0)")
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, got.select(*full.columns).collect())
    )

    # the scale claim: pruned scan opens at most |buckets| files per dir
    # while the full read opens every written file
    n_pruned = len(set(got.inputFiles()))
    n_full = len(set(t.read().inputFiles()))
    assert 0 < n_pruned < n_full
    assert n_pruned <= 4 * 2  # 4 keys (<=4 buckets) x (base + 1 delta)

    # tombstone visible with include_meta
    meta_rows = {
        (r["conv_id"], r["turn_idx"]): r
        for r in t.read_keys([("c2", 0)], include_meta=True).collect()
    }
    assert meta_rows[("c2", 0)]["_deleted"] is True


def test_read_keys_version_pinned_and_empty(spark, tmp_path):
    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=4)
    t.init(SCHEMA)
    with pytest.raises(ValueError):
        t.read_keys([])
    # before any data: empty result, correct schema
    assert t.read_keys([("c1", 0)]).count() == 0
    t.merge_apply(_batch(spark, [(1, "I", "c1", 0, "a")]), {"lsn_hi": 1})
    v1 = t.current_version()
    t.merge_apply(_batch(spark, [(2, "U", "c1", 0, "b")]), {"lsn_hi": 2})
    assert t.read_keys([("c1", 0)]).collect()[0]["text"] == "b"
    assert t.read_keys([("c1", 0)], version=v1).collect()[0]["text"] == "a"
    with pytest.raises(ValueError):
        t.read_keys([("c1",)])  # not a (conv_id, turn_idx) tuple


_SPARK_TYPES = {
    "TINYINT": T.ByteType(), "SMALLINT": T.ShortType(), "INT": T.IntegerType(),
    "BIGINT": T.LongType(), "FLOAT": T.FloatType(), "DOUBLE": T.DoubleType(),
}


@pytest.mark.parametrize("chain, values", [
    (["TINYINT", "SMALLINT", "INT", "BIGINT"], [5, 300, 70_000, 3_000_000_000]),
    (["FLOAT", "DOUBLE"], [1.5, 0.1]),
])
def test_promotion_chain_reads_under_metadata_schema(spark, tmp_path, chain, values):
    """Every step of a promotion chain, from a pre-widening base through
    one post-widening delta per step: read(), read_keys, read_changes,
    time travel (each version keeps its own type) and compaction. The
    last step also adds a column, which reads as null from older dirs."""
    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2,
                    compact_threshold=99)
    t.init(T.StructType(
        SCORE_SCHEMA.fields[:2] + [T.StructField("score", _SPARK_TYPES[chain[0]])]
    ))
    t.merge_apply(_score_batch(spark, [(1, "I", "c0", 0, values[0])], chain[0]),
                  {"lsn_hi": 1})
    base = t.compact()["version"]
    want = {("c0", 0): values[0]}
    pinned = {base: (chain[0], dict(want))}
    for i, (ty, v) in enumerate(zip(chain[1:], values[1:]), start=1):
        last = i == len(chain) - 1
        ddl = (f"lsn BIGINT, op STRING, conv_id STRING, turn_idx INT, score {ty}"
               + (", tool STRING" if last else ""))
        row = (i + 1, "I", f"c{i}", 0, v) + (("calc",) if last else ())
        t.merge_apply(spark.createDataFrame([row], ddl), {"lsn_hi": i + 1})
        want[(f"c{i}", 0)] = v
        pinned[t.current_version()] = (ty, dict(want))

    def scores(df):
        return {(r["conv_id"], r["turn_idx"]): r["score"] for r in df.collect()}

    def check_current():
        for df in (t.read(), t.read_keys(list(want))):
            assert dict(df.dtypes)["score"] == chain[-1].lower()
            assert scores(df) == want
        tools = {r["conv_id"]: r["tool"] for r in t.read().collect()}
        assert tools == {c: ("calc" if c == f"c{len(chain) - 1}" else None)
                         for c, _ in want}

    check_current()
    changes = t.read_changes(base)
    assert dict(changes.dtypes)["score"] == chain[-1].lower()
    assert {(r["conv_id"], r["turn_idx"]): (r["_change_type"], r["score"])
            for r in changes.collect()} == {
        k: ("insert", v) for k, v in want.items() if k != ("c0", 0)}
    for version, (ty, rows) in pinned.items():
        df = t.read(version=version)
        assert dict(df.dtypes)["score"] == ty.lower()
        assert scores(df) == rows
    t.compact()
    check_current()
    assert dict(t.read(version=base).dtypes)["score"] == chain[0].lower()


@pytest.mark.parametrize("vectorized", ["true", "false"])
def test_file_wider_than_metadata_schema_fails_read(spark, tmp_path, vectorized):
    """A data file whose type is WIDER than its version's recorded
    schema (here a hand-edited v*.json) fails the read loudly — under
    both parquet readers — instead of being narrowed silently."""
    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.init(SCORE_SCHEMA)
    t.merge_apply(_score_batch(spark, [(1, "I", "c1", 0, 5)], "BIGINT"),
                  {"lsn_hi": 1})
    meta_path = versions._meta_path(t.path, t.current_version())
    with open(meta_path) as f:
        meta = json.load(f)
    [score] = [f_ for f_ in meta["schema"]["fields"] if f_["name"] == "score"]
    assert score["type"] == "long"
    score["type"] = "integer"
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    key = "spark.sql.parquet.enableVectorizedReader"
    prev = spark.conf.get(key)
    spark.conf.set(key, vectorized)
    try:
        for df in (t.read(), t.read_keys([("c1", 0)])):
            with pytest.raises(Exception, match="FAILED_READ_FILE"):
                df.collect()
    finally:
        spark.conf.set(key, prev)


def _spark_jobs(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` starts (its own job group; the
    listener bus is drained first, so no started job goes uncounted)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _table_with_pending(spark, path, n_deltas):
    """A compacted base of 8 live rows plus ``n_deltas`` pending deltas,
    each updating one row."""
    t = TargetTable(spark, path, n_buckets=2, compact_threshold=99)
    t.init(SCHEMA)
    t.merge_apply(
        _batch(spark, [(i, "I", f"c{i}", 0, f"v{i}") for i in range(8)]),
        {"lsn_hi": 7},
    )
    t.compact()
    for i in range(n_deltas):
        t.merge_apply(_batch(spark, [(8 + i, "U", f"c{i}", 0, f"u{i}")]),
                      {"lsn_hi": 8 + i})
    return t


def test_table_reads_plan_with_no_spark_job(spark, tmp_path):
    """Data dirs are scanned under the read version's metadata schema
    and read_keys' buckets are folded on the driver, so building any
    read's DataFrame starts no Spark job, however many deltas are
    pending."""
    t = _table_with_pending(spark, str(tmp_path / "t"), 3)
    base, cur = t.current_version() - 3, t.current_version()
    plans = {
        "read": lambda: t.read(),
        "read_pinned": lambda: t.read(version=base + 1),
        "read_keys": lambda: t.read_keys([("c1", 0), ("c5", 0)]),
        "read_changes": lambda: t.read_changes(base, cur),
        "read_changes_diff": lambda: t.read_changes(0, cur),
    }
    assert {n: _spark_jobs(spark, f) for n, f in plans.items()} == dict.fromkeys(
        plans, 0)
    assert {r["conv_id"]: r["text"]
            for r in t.read_keys([("c1", 0), ("c5", 0)]).collect()} == {
        "c1": "u1", "c5": "v5"}
    assert {r["conv_id"]: r["_change_type"]
            for r in t.read_changes(base, cur).collect()} == dict.fromkeys(
        ["c0", "c1", "c2"], "update")


def test_read_keys_over_many_buckets_plans_with_no_spark_job(spark, tmp_path):
    """A lookup whose keys span more than 32 bucket files lists each dir
    once under a file-name glob: explicit paths above
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
    would start a parallel listing job at plan time."""
    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=64,
                    compact_threshold=99)
    t.init(SCHEMA)
    t.merge_apply(_batch(spark, [(i, "I", f"c{i % 50}", i // 50, f"v{i}")
                                 for i in range(400)]), {"lsn_hi": 399})
    keys = [(f"c{i % 50}", i // 50) for i in range(0, 400, 2)]
    assert len(keys) == 200
    assert _spark_jobs(spark, lambda: t.read_keys(keys)) == 0
    got = t.read_keys(keys)
    assert len(set(got.inputFiles())) > 32
    full = t.read().join(
        spark.createDataFrame(keys, "conv_id STRING, turn_idx INT"),
        ["conv_id", "turn_idx"], "semi")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, full.select(*got.columns).collect()))


def test_count_live_jobs_do_not_grow_with_pending_deltas(spark, tmp_path):
    """count_live() resolves winners across base + pending deltas in a
    fixed number of jobs: no per-dir schema-inference job."""
    one = _table_with_pending(spark, str(tmp_path / "one"), 1)
    three = _table_with_pending(spark, str(tmp_path / "three"), 3)
    assert _spark_jobs(spark, one.count_live) == _spark_jobs(
        spark, three.count_live)
    assert one.count_live() == three.count_live() == 8


def test_replay_trigger_jobs_do_not_grow_with_pending_deltas(spark, tmp_path):
    """A replay(max_slices=1) trigger that leaves 3 pending deltas costs
    as many Spark jobs as one that leaves 1 (its count_live reads them
    all)."""
    from etl_reconciliate_spark.datagen import gen_changelog, write_changelog
    from etl_reconciliate_spark.streaming.runner import replay

    log, target = str(tmp_path / "log"), str(tmp_path / "t")
    write_changelog(spark, gen_changelog(2000, seed=11), log)

    def trigger():
        return replay(spark, log, target, slice_size=400, max_slices=1,
                      compact_threshold=99)

    trigger()
    TargetTable(spark, target).compact()
    jobs = [_spark_jobs(spark, trigger) for _ in range(3)]
    assert len(TargetTable(spark, target).metadata()["deltas"]) == 3
    assert jobs[0] == jobs[2]


def test_target_reads_name_their_schema():
    """Every parquet read in ``target/`` is an explicit-schema scan: a
    ``.read.parquet(`` without ``.schema(...)`` would bring back one
    schema-inference job per data dir."""
    import re

    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
        __file__))), "etl_reconciliate_spark", "target")
    bad = []
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            with open(os.path.join(pkg, name)) as f:
                bad += [(name, m.group(0)) for m in
                        re.finditer(r"\.read\s*\.\s*parquet\(", f.read())]
    assert bad == []


def test_merge_slot_pinned_to_read_snapshot(spark, tmp_path):
    """The lost-update TOCTOU (r4 core review): writer B commits BETWEEN
    writer A's metadata read and A's commit. A's commit slot must derive
    from the snapshot A actually read — so A CONFLICTS and retries on
    top of B — not from the live pointer at commit time, which would let
    A silently overwrite B (B's delta dropped from the delta list)."""
    path = str(tmp_path / "t")
    a = TargetTable(spark, path, n_buckets=2)
    a.init(SCHEMA)
    a.merge_apply(_batch(spark, [(1, "I", "c1", 0, "base")]), {"lsn_hi": 1})
    b = TargetTable(spark, path, n_buckets=2)

    real_meta = a.metadata
    state = {"fired": False}

    def hooked(version=None):
        m = real_meta(version)
        if not state["fired"] and version is None:
            state["fired"] = True
            b.merge_apply(
                _batch(spark, [(2, "I", "c2", 0, "from-b")]), {"lsn_hi": 2}
            )
        return m

    a.metadata = hooked
    stats = a.merge_apply(
        _batch(spark, [(3, "I", "c3", 0, "from-a")]), {"lsn_hi": 3}
    )
    assert stats["version"] == 3  # landed ON TOP of B, not instead of it
    rows = {r["conv_id"]: r["text"] for r in a.read().collect()}
    assert rows == {"c1": "base", "c2": "from-b", "c3": "from-a"}


def test_claim_placeholder_not_a_published_version(spark, tmp_path):
    """An in-flight commit's ``v{n}.json.<hex>.tmp`` is not metadata:
    versions() must skip it, current_version() must not move, and
    expire_snapshots must leave it alone while it is younger than the
    orphan grace (it may be milliseconds from its link)."""
    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.init(SCHEMA)
    for i in range(1, 4):
        t.merge_apply(_batch(spark, [(i, "I", f"c{i}", 0, "x")]), {"lsn_hi": i})
    cur = t.current_version()
    tmp = versions._meta_path(t.path, cur + 1) + ".0123abcd.tmp"
    with open(tmp, "w") as f:
        json.dump({**t.metadata(), "version": cur + 1}, f)
    assert cur + 1 not in t.versions()
    assert t.current_version() == cur
    with pytest.raises(FileNotFoundError):
        t.metadata(cur + 1)
    t.expire_snapshots(keep_last=2)
    assert os.path.exists(tmp)  # young in-flight temp is untouched
    assert t.read().count() == 3


def test_n_buckets_is_a_table_property(spark, tmp_path):
    """A handle constructed with a DIFFERENT n_buckets against an
    existing table adopts the table's recorded count — a maintainer
    with another shuffle-partitions default must not break read_keys'
    bucket pruning (r4 core review)."""
    path = str(tmp_path / "t")
    a = TargetTable(spark, path, n_buckets=2)
    a.init(SCHEMA)
    a.merge_apply(_batch(spark, [(1, "I", "c1", 0, "a")]), {"lsn_hi": 1})

    b = TargetTable(spark, path, n_buckets=7)
    assert b.n_buckets == 2  # recorded count wins over the arg
    b.merge_apply(_batch(spark, [(2, "I", "c9", 5, "late")]), {"lsn_hi": 2})
    got = {(r["conv_id"], r["turn_idx"]): r["text"]
           for r in a.read_keys([("c1", 0), ("c9", 5)]).collect()}
    assert got == {("c1", 0): "a", ("c9", 5): "late"}


def test_compact_vacuums_tombstones(spark, tmp_path):
    """A delete-heavy table reclaims its tombstones through compact()
    — merges retain them for the row-level replay guard, maintenance
    drops them under the ordered-commits argument (r4 core review)."""
    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.init(SCHEMA)
    t.merge_apply(_batch(spark, [(1, "I", "c1", 0, "a"),
                                 (2, "I", "c2", 0, "b")]), {"lsn_hi": 2})
    t.merge_apply(_batch(spark, [(3, "D", "c1", 0, None)]), {"lsn_hi": 3})
    # merge retained the tombstone row
    assert t.read(include_meta=True).count() == 2
    stats = t.compact()
    assert stats["row_count"] == 1
    assert t.read(include_meta=True).count() == 1  # tombstone reclaimed
    assert [r["conv_id"] for r in t.read().collect()] == ["c2"]

    # with nothing pending, the implicit maintenance call is a no-op
    v = t.current_version()
    t.compact()
    assert t.current_version() == v

    # out-of-order tables fold their deltas but keep the tombstones
    t2 = TargetTable(spark, str(tmp_path / "t2"), n_buckets=2,
                     ordered_commits=False)
    t2.init(SCHEMA)
    t2.merge_apply(_batch(spark, [(1, "I", "c1", 0, "a")]), {"lsn_hi": 1})
    t2.merge_apply(_batch(spark, [(2, "D", "c1", 0, None)]), {"lsn_hi": 2})
    assert t2.compact()["n_deltas"] == 0
    assert t2.read(include_meta=True).count() == 1
    assert t2.read().count() == 0


def test_legacy_cow_table_reads_and_merges(spark, tmp_path):
    """A table written by an engine that still had the copy-on-write
    mode records ``"mode": "cow"`` and no deltas. It reads as its base,
    and the next merge appends a delta on top — no migration."""
    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.init(SCHEMA)
    t.merge_apply(_batch(spark, [(1, "I", "c1", 0, "a"),
                                 (2, "I", "c2", 0, "b")]), {"lsn_hi": 2})
    t.compact()  # base-only, like a cow snapshot
    legacy = t.current_version()
    meta_path = versions._meta_path(t.path, legacy)
    with open(meta_path) as f:
        meta = json.load(f)
    assert meta["deltas"] == []
    meta["mode"] = "cow"
    with open(meta_path, "w") as f:
        json.dump(meta, f)

    assert sorted(r["text"] for r in t.read().collect()) == ["a", "b"]
    stats = t.merge_apply(
        _batch(spark, [(3, "U", "c1", 0, "a2"), (4, "D", "c2", 0, None),
                       (5, "I", "c3", 0, "c")]), {"lsn_hi": 5},
    )
    assert stats["n_deltas"] == 1
    assert {r["conv_id"]: r["text"] for r in t.read().collect()} == {
        "c1": "a2", "c3": "c"}
    changes = {r["conv_id"]: r["_change_type"]
               for r in t.read_changes(legacy).collect()}
    assert changes == {"c1": "update", "c2": "delete", "c3": "insert"}
    assert t.compact()["row_count"] == 2
    assert t.metadata()["deltas"] == []
    assert {r["conv_id"]: r["text"] for r in t.read().collect()} == {
        "c1": "a2", "c3": "c"}


def test_ordered_commits_is_a_table_property(spark, tmp_path):
    """A stream-fed (out-of-order) table records ordered_commits=False
    at init; a MAINTAINER handle constructed with the default True must
    inherit the recorded value, or its compaction would drop tombstones
    and let a later lower-LSN delivery resurrect the deleted row (r4
    review)."""
    path = str(tmp_path / "t")
    t = TargetTable(spark, path, n_buckets=2,
                    ordered_commits=False)
    t.init(SCHEMA)
    t.merge_apply(_batch(spark, [(10, "I", "c1", 0, "v10")]), {"b": 1})
    t.merge_apply(_batch(spark, [(20, "D", "c1", 0, None)]), {"b": 2})

    maintainer = TargetTable(spark, path, n_buckets=2)  # defaults: True
    assert maintainer.ordered_commits is False  # recorded value wins
    maintainer.compact()  # must RETAIN the tombstone
    # the out-of-order hazard: lsn 15 delivered after compaction
    t.merge_apply(_batch(spark, [(15, "U", "c1", 0, "v15")]), {"b": 3})
    assert t.read().count() == 0  # still deleted


def test_empty_partitioned_result_sink_rereadable(spark, tmp_path):
    """A zero-row result (the checksum strategy's happy path) written
    with partitioning must still leave a schema-bearing parquet dir —
    a partitioned empty write emits only _SUCCESS and the documented
    re-read crashes (r4 review). The count must also survive: an
    Observation is single-use, so emptiness cannot be probed up front."""
    from etl_reconciliate_spark.sinks.report import write_result_table

    df = spark.createDataFrame([("a", "MATCH")], "conv_id string, status string")
    empty = df.filter(F.col("status") == "NOPE")
    out = str(tmp_path / "res")
    assert write_result_table(empty, out, partition_by="status") == 0
    back = spark.read.parquet(out)  # must not raise
    assert back.count() == 0 and "status" in back.columns
    # non-empty control: partitioned layout + correct count
    out2 = str(tmp_path / "res2")
    assert write_result_table(df, out2, partition_by="status") == 1
    assert spark.read.parquet(out2).count() == 1


def test_compact_refuses_explicit_drop_on_unordered_table(spark, tmp_path):
    """An explicit drop_tombstones=True must not silently override a
    recorded ordered_commits=False (r5 review: maintain_job's explicit
    bool bypassed the guarantee and a later lower-LSN delivery would
    resurrect the delete). The escape hatch is allow_unordered_drop,
    which also forces the zero-delta MoR base rewrite so base-resident
    tombstones have an exit."""
    t = TargetTable(
        spark, str(tmp_path / "t"), n_buckets=2,
        ordered_commits=False,
    )
    t.init(SCHEMA)
    t.merge_apply(
        _batch(spark, [(1, "I", "c1", 0, "a"), (2, "I", "c2", 0, "b")]),
        {"b": 1},
    )
    t.merge_apply(_batch(spark, [(3, "D", "c1", 0, None)]), {"b": 2})
    t.compact()  # retains the tombstone (recorded unordered)
    meta = t.metadata()
    assert meta.get("deltas") == []  # tombstone now lives in the BASE
    base_rows = spark.read.parquet(
        os.path.join(t.path, meta["data_dir"])).count()
    assert base_rows == 2  # live row + retained tombstone

    with pytest.raises(ValueError, match="ordered_commits=False"):
        t.compact(drop_tombstones=True)

    # source decommissioned → explicit vacuum, zero pending deltas
    stats = t.compact(drop_tombstones=True, allow_unordered_drop=True)
    assert stats["row_count"] == 1
    vac_rows = spark.read.parquet(
        os.path.join(t.path, t.metadata()["data_dir"])).count()
    assert vac_rows == 1  # tombstone vacuumed from the base
    assert t.read().count() == 1


def test_stale_writer_cannot_rewind_pointer(spark, tmp_path):
    """The link can succeed into a version slot whose metadata
    expire_snapshots already deleted; the commit must still detect the
    newer published versions and withdraw instead of REWINDING the
    table (r5 review: a rewind silently discards every newer commit)."""
    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.init(SCHEMA)
    for i in range(4):
        t.merge_apply(
            _batch(spark, [(10 + i, "I", f"c{i}", 0, "x")]), {"b": i}
        )
    t.expire_snapshots(keep_last=2)
    cur = t.current_version()
    expired = [v for v in range(1, cur - 1)
               if not os.path.exists(versions._meta_path(t.path, v))]
    assert expired, "fixture must have an expired version slot"
    v = expired[0]
    with pytest.raises(CommitConflictError, match="stale"):
        t._commit(version=v, schema=SCHEMA, data_dir="snap-bogus",
                  offsets={}, row_count=0, parent=v - 1)
    assert t.current_version() == cur  # version untouched
    # the stale writer withdrew its link: slot v holds no file
    assert not os.path.exists(versions._meta_path(t.path, v))
    assert v not in t.versions()
    # and the table keeps working normally after the stale conflict
    t.merge_apply(_batch(spark, [(50, "I", "c9", 0, "y")]), {"b": 9})
    assert t.current_version() == cur + 1
    t.expire_snapshots(keep_last=2)
    assert not os.path.exists(versions._meta_path(t.path, v))


def test_expire_skips_sweep_when_kept_metadata_unreadable(spark, tmp_path, monkeypatch):
    """r5 final review: a KEPT version whose metadata a concurrent
    expirer removed must NOT be treated as 'references nothing' — the
    old `continue` let the orphan sweep delete the still-live shared
    MoR base/delta dirs. When no consistent read of the kept snapshots
    is possible, the sweep is skipped entirely."""
    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.init(SCHEMA)
    for i in range(4):
        t.merge_apply(
            _batch(spark, [(10 + i, "I", f"c{i}", 0, "x")]), {"lsn_hi": 10 + i}
        )
    cur = t.current_version()
    live_dirs = [
        n for n in os.listdir(t.path)
        if n.startswith(("snap-", "delta-"))
    ]
    # backdate every data dir: nothing is orphan-grace-protected
    for n in live_dirs:
        os.utime(os.path.join(t.path, n), (1, 1))

    real = versions.read_version
    kept = {cur, cur - 1}

    def flaky(root, version=None):
        if version in kept:
            raise FileNotFoundError("simulated concurrent expirer")
        return real(root, version)

    monkeypatch.setattr(versions, "read_version", flaky)
    t.expire_snapshots(keep_last=2, orphan_grace_secs=0)
    monkeypatch.undo()

    # the live base + retained deltas survived; the table still reads
    meta = t.metadata()
    assert os.path.isdir(os.path.join(t.path, meta["data_dir"]))
    for d in meta.get("deltas", []):
        assert os.path.isdir(os.path.join(t.path, d))
    assert t.read().count() == 4


def test_stalled_creator_resume_preserves_takeover_publish(
    spark, tmp_path, monkeypatch
):
    """Writer A finishes its metadata temp, then stalls just before its
    link; writer B commits the same slot in the meantime. When A
    resumes, its link must fail on B's published v{version}.json — never
    replace it — and A must conflict and retry onto the next slot with
    B's metadata intact."""
    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.init(SCHEMA)
    t.merge_apply(_batch(spark, [(1, "I", "c0", 0, "base")]), {"lsn_hi": 1})
    contested = t.current_version() + 1

    state = {"fired": False}
    real_link = os.link

    def stall_then_link(src, dst):
        # fire once, at A's FIRST link — its temp is written, the slot
        # is still empty
        if not state["fired"]:
            state["fired"] = True
            # writer B commits the slot while A is stalled (B's own link
            # recurses here with fired already set, passing through)
            b = TargetTable(spark, t.path, n_buckets=2)
            b.merge_apply(
                _batch(spark, [(99, "I", "cB", 0, "winner")]),
                {"lsn_hi": 99},
            )
            assert b.current_version() == contested
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", stall_then_link)
    stats = t.merge_apply(
        _batch(spark, [(2, "I", "cA", 0, "resumed")]), {"lsn_hi": 2}
    )
    monkeypatch.undo()
    assert state["fired"]

    # A conflicted on B's published slot and retried onto the next slot
    assert stats["version"] == contested + 1
    # B's published metadata survived A's resume
    assert int(t.metadata(contested)["offsets"]["lsn_hi"]) == 99
    texts = {r["conv_id"]: r["text"] for r in t.read().collect()}
    assert texts == {"c0": "base", "cB": "winner", "cA": "resumed"}


def test_live_stalled_writer_cannot_be_taken_over(spark, tmp_path, monkeypatch):
    """Writer A stalls mid-commit on version v, while writing its
    metadata temp. A stall holds no slot: B's commit of v succeeds
    meanwhile, because the first writer to link wins. A's resumed link
    then fails, A retries onto v+1, and B's metadata is never
    clobbered. All rows present, no clobber window at all."""
    import json as json_mod

    t = TargetTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.init(SCHEMA)
    t.merge_apply(_batch(spark, [(1, "I", "c0", 0, "base")]), {"lsn_hi": 1})
    contested = t.current_version() + 1

    state = {"fired": False}
    real_dump = json_mod.dump

    def hook(obj, fh, **kw):
        # fire once, on A's metadata write for the contested slot
        if (
            not state["fired"]
            and isinstance(obj, dict)
            and obj.get("version") == contested
        ):
            state["fired"] = True
            # while A stalls, B links the contested slot first
            b = TargetTable(spark, t.path, n_buckets=2)
            b._commit(contested, SCHEMA, b.metadata()["data_dir"],
                      {"lsn_hi": 50}, row_count=0, parent=contested - 1,
                      deltas=list(b.metadata().get("deltas") or []))
            assert b.current_version() == contested
        return real_dump(obj, fh, **kw)

    monkeypatch.setattr(json_mod, "dump", hook)
    stats = t.merge_apply(
        _batch(spark, [(2, "I", "cA", 0, "stalled")]), {"lsn_hi": 2}
    )
    monkeypatch.undo()
    assert state["fired"]

    # A lost the link race and retried onto the next slot
    assert stats["version"] == contested + 1
    # B's metadata is intact
    assert t.metadata(contested)["offsets"] == {"lsn_hi": 50}
    assert int(t.metadata(contested + 1)["offsets"]["lsn_hi"]) == 2
    # B's next merge lands after A's commit
    b = TargetTable(spark, t.path, n_buckets=2)
    stats_b = b.merge_apply(
        _batch(spark, [(99, "I", "cB", 0, "after")]), {"lsn_hi": 99}
    )
    assert stats_b["version"] == contested + 2
    texts = {r["conv_id"]: r["text"] for r in t.read().collect()}
    assert texts == {"c0": "base", "cA": "stalled", "cB": "after"}


def test_concurrent_writer_hammer_loses_nothing(spark, tmp_path):
    """End-to-end contention evidence for the link commit protocol:
    four writers (own TargetTable instances, one shared session —
    ``os.link`` put-if-absent conflicts between threads exactly as
    across processes) race 5 merges each onto one MoR table, crossing a
    compaction threshold mid-hammer, while a fifth thread loops
    ``expire_snapshots(keep_last=2)`` at the default orphan grace. Every
    CommitConflictError is retried from fresh state. NOTHING may be
    lost: all 20 batches' rows present with their final text, versions
    strictly monotone, and the metadata row count consistent with a
    direct read."""
    import threading

    path = str(tmp_path / "t")
    t0 = TargetTable(spark, path, n_buckets=2,
                     compact_threshold=7)
    t0.init(SCHEMA)

    n_writers, n_batches = 4, 5
    errors: list = []

    def writer(w: int) -> None:
        t = TargetTable(spark, path, n_buckets=2, compact_threshold=7)
        for b in range(n_batches):
            lsn = 1000 + w * 100 + b
            batch = _batch(
                spark,
                [(lsn, "I", f"w{w}", b, f"text-{w}-{b}")],
            )
            for attempt in range(60):
                try:
                    t.merge_apply(batch, {"lsn_hi": lsn})
                    break
                except CommitConflictError:
                    time.sleep(0.05 * (1 + (attempt % 4)))
            else:
                errors.append(f"writer {w} batch {b} never committed")
                return

    done = threading.Event()

    def expirer() -> None:
        t = TargetTable(spark, path, n_buckets=2)
        while not done.is_set():
            try:
                t.expire_snapshots(keep_last=2)
            except Exception as e:  # noqa: BLE001 — reported below
                errors.append(f"expirer: {e!r}")
                return
            time.sleep(0.01)

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(n_writers)
    ]
    expiry = threading.Thread(target=expirer)
    expiry.start()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    done.set()
    expiry.join()
    assert errors == []

    t = TargetTable(spark, path, n_buckets=2)
    rows = {(r["conv_id"], r["turn_idx"]): r["text"]
            for r in t.read().collect()}
    expect = {(f"w{w}", b): f"text-{w}-{b}"
              for w in range(n_writers) for b in range(n_batches)}
    assert rows == expect  # no lost updates, no phantoms
    # version history is strictly monotone and the pointer is readable
    vs = t.versions()
    assert vs == sorted(set(vs))
    assert t.metadata()["version"] == t.current_version()
    assert t.count_live() == n_writers * n_batches


def test_commit_crash_at_every_step_recovers(spark, tmp_path, monkeypatch):
    """Kill the commit at every file-system call it makes — the temp
    write, the link, the stale-check listing and the temp removal, each
    just before and just after the call. Whatever the crash point, a
    fresh handle sees either the prior version or the new one with its
    matching offsets, the next commit succeeds, and expire_snapshots
    leaves no temp litter. Driven through commit_offsets, so no step
    runs a Spark job. A link the filesystem refuses (PermissionError)
    propagates as that error, not as a retryable conflict."""

    class Crash(BaseException):
        """Stands in for a kill: not caught by ``except Exception``."""

    path = str(tmp_path / "t")
    t = TargetTable(spark, path, n_buckets=2)
    t.init(SCHEMA, offsets={"lsn_hi": 0})

    armed = {"on": False}
    real_commit = TargetTable._commit

    def armed_commit(self, *a, **k):
        armed["on"] = True
        try:
            return real_commit(self, *a, **k)
        finally:
            armed["on"] = False

    monkeypatch.setattr(TargetTable, "_commit", armed_commit)

    def crash_at(module, name, after):
        real = getattr(module, name)

        def hooked(*a, **k):
            if not armed["on"]:
                return real(*a, **k)
            armed["on"] = False  # one crash per commit
            if after:
                real(*a, **k)
            raise Crash(f"{name} {'after' if after else 'before'}")

        monkeypatch.setattr(module, name, hooked)
        return real

    # crash point -> does the new version survive? Only the link
    # publishes, so every crash before it leaves the prior version.
    published = {
        ("dump", False): False, ("dump", True): False,
        ("link", False): False, ("link", True): True,
        ("listdir", False): True, ("listdir", True): True,
        ("remove", False): True, ("remove", True): True,
    }
    lsn = 0
    for module, name in [(json, "dump"), (os, "link"), (os, "listdir"),
                         (os, "remove")]:
        for after in (False, True):
            prior = t.current_version()
            prior_offsets = t.committed_offsets()
            lsn += 1
            real = crash_at(module, name, after)
            with pytest.raises(Crash):
                t.commit_offsets({"lsn_hi": lsn})
            monkeypatch.setattr(module, name, real)

            fresh = TargetTable(spark, path, n_buckets=2)
            v = fresh.current_version()
            assert v == prior + published[name, after], (name, after, v)
            want = prior_offsets if v == prior else {"lsn_hi": lsn}
            assert fresh.committed_offsets() == want, (name, after)

            lsn += 1
            stats = fresh.commit_offsets({"lsn_hi": lsn})
            assert stats["version"] == v + 1
            fresh.expire_snapshots(keep_last=2, orphan_grace_secs=0)
            assert not [n for n in os.listdir(path) if n.endswith(".tmp")]
            assert fresh.committed_offsets() == {"lsn_hi": lsn}

    def refuse_link(src, dst):
        raise PermissionError(1, "hard links not permitted", dst)

    cur = t.current_version()
    monkeypatch.setattr(os, "link", refuse_link)
    with pytest.raises(PermissionError):
        t.commit_offsets({"lsn_hi": lsn + 1})
    monkeypatch.undo()
    assert t.current_version() == cur
    assert not [n for n in os.listdir(path) if n.endswith(".tmp")]
