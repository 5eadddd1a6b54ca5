"""Checksum-block reconciliation: digest determinism, dirty-block
pruning, and exact equivalence with the full row-level reconcile."""

import datetime
import threading

import pytest
from py4j.java_gateway import GatewayClient
from pyspark.sql import functions as F

from etl_reconciliate_spark.operators.checksum import (
    block_checksums,
    checksum_diff,
    checksum_reconcile,
)
from etl_reconciliate_spark.operators.reconcile import reconcile
from etl_reconciliate_spark.schemas import STATUS_MATCH, TRANSCRIPTS_SCHEMA
from test_table_semantics import _spark_jobs

TS = datetime.datetime(2026, 1, 1)
N_BLOCKS = 16


def _df(spark, rows):
    return spark.createDataFrame(
        [(c, t, "user", x, None, TS) for c, t, x in rows], schema=TRANSCRIPTS_SCHEMA
    )


@pytest.fixture(scope="module")
def drifted(spark):
    """~200-key source/target pair with seeded drift of every kind."""
    src_rows, tgt_rows = [], []
    for i in range(200):
        key = (f"c{i % 37}", i // 37)
        src_rows.append((*key, f"text-{i}"))
        if i % 23 == 3:
            continue  # SOURCE_ONLY
        if i % 29 == 5:
            tgt_rows.append((*key, f"text-{i}-DRIFT"))  # VALUE_DISCREPANCY
        else:
            tgt_rows.append((*key, f"text-{i}"))
    for i in range(200, 212):
        tgt_rows.append((f"c{i}", 0, "extra"))  # TARGET_ONLY
    return _df(spark, src_rows), _df(spark, tgt_rows)


def test_identical_tables_all_clean(spark, drifted):
    src, _ = drifted
    d = checksum_diff(
        block_checksums(src, n_blocks=N_BLOCKS),
        block_checksums(src, n_blocks=N_BLOCKS),
    )
    assert d.filter(F.col("dirty")).count() == 0
    # digests are stable across partitionings (XOR is order-free)
    a = {
        r.block_id: (r.n_rows, r.checksum)
        for r in block_checksums(src.repartition(7), n_blocks=N_BLOCKS).collect()
    }
    b = {
        r.block_id: (r.n_rows, r.checksum)
        for r in block_checksums(src.coalesce(1), n_blocks=N_BLOCKS).collect()
    }
    assert a == b


def test_value_drift_dirties_block(spark, drifted):
    src, tgt = drifted
    d = checksum_diff(
        block_checksums(src, n_blocks=N_BLOCKS),
        block_checksums(tgt, n_blocks=N_BLOCKS),
    ).collect()
    dirty = [r for r in d if r.dirty]
    assert 0 < len(dirty) < N_BLOCKS  # pruning is real: some blocks clean


def test_equivalence_with_full_reconcile(spark, drifted):
    src, tgt = drifted
    full = {
        (r.conv_id, r.turn_idx, r.status)
        for r in reconcile(src, tgt).filter(F.col("status") != STATUS_MATCH).collect()
    }
    pruned = {
        (r.conv_id, r.turn_idx, r.status)
        for r in checksum_reconcile(src, tgt, n_blocks=N_BLOCKS).collect()
    }
    assert pruned == full
    assert len(full) > 0


def test_null_payload_does_not_collide(spark):
    # ('a', NULL) vs (NULL, 'a') style canonicalization check on the
    # compared payload (role, text)
    a = spark.createDataFrame(
        [("c", 0, "x", None, None, TS)], schema=TRANSCRIPTS_SCHEMA
    )
    b = spark.createDataFrame(
        [("c", 0, None, "x", None, TS)], schema=TRANSCRIPTS_SCHEMA
    )
    d = checksum_diff(
        block_checksums(a, compare_cols=("role", "text"), n_blocks=4),
        block_checksums(b, compare_cols=("role", "text"), n_blocks=4),
    )
    assert d.filter(F.col("dirty")).count() == 1


def test_duplicate_key_self_cancel_caught_by_sum(spark):
    """XOR alone is blind to even multiplicities: the same key carrying
    text 'x' TWICE on one side vs 'y' TWICE on the other XORs to 0 = 0
    with equal counts — clean under the r3 digest. The sum leg
    (2·h(x) != 2·h(y)) must dirty the block (r3 advice)."""
    a = _df(spark, [("c", 0, "x"), ("c", 0, "x")])
    b = _df(spark, [("c", 0, "y"), ("c", 0, "y")])
    sums_a = block_checksums(a, n_blocks=4)
    sums_b = block_checksums(b, n_blocks=4)
    ra, rb = sums_a.collect()[0], sums_b.collect()[0]
    # the premise: XOR and count genuinely agree on this pair
    assert ra.checksum == rb.checksum == 0 and ra.n_rows == rb.n_rows
    d = checksum_diff(sums_a, sums_b)
    assert d.filter(F.col("dirty")).count() == 1


def test_key_cols_guard(spark, drifted):
    src, tgt = drifted
    with pytest.raises(ValueError, match="key_cols"):
        checksum_reconcile(src, tgt, key_cols=["conv_id"])


def test_identical_tables_no_drill_down(spark, drifted, tmp_path):
    """Zero dirty blocks: the dirty ids are collected on the driver and
    the result is an empty frame whose plan neither joins nor scans."""
    src, _ = drifted
    path = str(tmp_path / "src")
    src.write.parquet(path)
    df = spark.read.parquet(path)
    out = checksum_reconcile(df, df, n_blocks=N_BLOCKS)
    assert out.collect() == []
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "FileScan" not in plan, plan
    assert out.columns == ["conv_id", "turn_idx", "status", "src_text", "tgt_text"]


def _py4j_round_trips(monkeypatch, fn) -> int:
    """The driver-to-JVM round trips this thread makes while ``fn()``
    runs (other threads' calls, e.g. callbacks, are not counted)."""
    me, n, send = threading.get_ident(), [0], GatewayClient.send_command

    def counted(self, *a, **kw):
        n[0] += threading.get_ident() == me
        return send(self, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(GatewayClient, "send_command", counted)
        fn()
    return n[0]


def test_drill_down_calls_do_not_grow_with_dirty_blocks(spark, monkeypatch):
    """The dirty-block filter is one SQL IN: building the drill-down
    over 1,000+ dirty blocks costs about as many driver round trips as
    over one (``Column.isin`` sent one literal per id), and it still
    plans as an InSet filter."""
    n_blocks = 4096
    rows = [(f"c{i}", 0, f"t{i}") for i in range(3000)]
    src = _df(spark, rows)
    tgt = _df(spark, [(c, t, f"{x}!") for c, t, x in rows])
    diff = checksum_diff(
        block_checksums(src, n_blocks=n_blocks),
        block_checksums(tgt, n_blocks=n_blocks),
    ).localCheckpoint()
    dirty = diff.filter(F.col("dirty"))
    assert dirty.count() >= 1000
    one = dirty.orderBy("block_id").limit(1).localCheckpoint()
    out = {}

    def run(key, d):
        out[key] = checksum_reconcile(src, tgt, n_blocks=n_blocks, diff=d)

    calls = {k: _py4j_round_trips(monkeypatch, lambda: run(k, d))
             for k, d in (("one", one), ("many", dirty))}
    assert calls["many"] - calls["one"] < 300, calls
    plan = out["many"]._jdf.queryExecution().optimizedPlan().toString()
    assert "INSET" in plan, plan
    assert out["many"].count() == 3000
    assert out["one"].count() < 10


def test_small_dirty_blocks_skip_the_census(spark, drifted):
    """A key lies in one block, so dirty blocks of at most
    ``hot_threshold`` source rows hold no hot key: building the
    drill-down starts one job (the dirty-id collect) and no census."""
    src, tgt = drifted
    diff = checksum_diff(
        block_checksums(src, n_blocks=N_BLOCKS),
        block_checksums(tgt, n_blocks=N_BLOCKS),
    ).localCheckpoint()

    def jobs(**kw):
        return _spark_jobs(spark, lambda: checksum_reconcile(
            src, tgt, n_blocks=N_BLOCKS, diff=diff, **kw))

    # blocks above a threshold of 1 row: the census runs
    assert jobs() == 1 < jobs(hot_threshold=1)
