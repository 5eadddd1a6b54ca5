"""Seeded benchmark inputs and their engine-independent oracles.

The change log comes from the engine's own generator
(``datagen.write_changelog_spark``); every expected result comes from
DuckDB folding that log (max LSN per key wins, a delete removes the
key), never from the engine.

Inputs are regenerated in every run, not reused across runs: generating
them in the measured Spark session warms its JVM, and a run that
skipped generation measured ~20% lower backfill throughput and ~40%
longer set-up (see README.md), so a cache would make results depend
on the cache state.
"""

from __future__ import annotations

import os

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
KEYS = ["conv_id", "turn_idx"]


def log_glob(log_dir: str) -> str:
    return os.path.join(log_dir, "epoch=*", "*.parquet")


def fold_sql(log_dir: str, lsn_hi: int | None = None) -> str:
    """DuckDB query: the live rows after applying every event with
    ``lsn <= lsn_hi``. Epoch 0 lacks ``tool``, hence union_by_name."""
    where = f"WHERE lsn <= {int(lsn_hi)}" if lsn_hi is not None else ""
    return f"""
        SELECT {', '.join(COLS)}, lsn, op FROM (
          SELECT * FROM read_parquet('{log_glob(log_dir)}', union_by_name = true)
          {where}
          QUALIFY row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) = 1
        ) WHERE op <> 'D'"""


def duck(threads: int, tmp_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def build(spark, entry: str, workload: str, seed: int, params: dict, threads: int) -> dict:
    """Generate the inputs of one workload under ``entry``; returns the
    manifest: the oracle facts the checks need."""
    from etl_reconciliate_spark.datagen import write_changelog_spark

    log_dir = os.path.join(entry, "log")
    write_changelog_spark(
        spark, log_dir, params["events"], seed=seed,
        text_len=params["text_len"], block=params["block"],
    )
    con = duck(threads, os.path.join(entry, "duck_tmp"))
    man = {"params": params, "seed": seed}
    scan = f"read_parquet('{log_glob(log_dir)}', union_by_name = true)"
    man["max_lsn"], man["log_rows"] = con.execute(f"SELECT max(lsn), count(*) FROM {scan}").fetchone()
    man["live_final"] = con.execute(f"SELECT count(*) FROM ({fold_sql(log_dir)})").fetchone()[0]
    if workload == "tail":
        # expected live-row count after every trigger's slice
        cuts = [min(params["base_events"] - 1 + i * params["slice"], man["max_lsn"])
                for i in range(params["max_triggers"] + 1)]
        man["cuts"] = cuts
        man["live_at"] = _live_counts(con, log_dir, cuts)
    if workload == "recon":
        man.update(_recon_oracle(con, log_dir, entry, params, man["max_lsn"]))
    con.close()
    return man


def _live_counts(con, log_dir: str, cuts: list[int]) -> list[int]:
    """Live keys after each LSN cut, in one pass: per key, the LSN ranges
    over which its state is live."""
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE ev AS
        SELECT DISTINCT conv_id, turn_idx, lsn, op
        FROM read_parquet('{log_glob(log_dir)}', union_by_name = true)""")
    con.execute("""
        CREATE OR REPLACE TEMP TABLE runs AS
        SELECT lsn AS lo,
               coalesce(lead(lsn) OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn), 9223372036854775807) AS hi,
               op <> 'D' AS live
        FROM ev""")
    out = []
    for c in cuts:
        out.append(con.execute(
            f"SELECT count(*) FROM runs WHERE live AND lo <= {c} AND hi > {c}"
        ).fetchone()[0])
    return out


CLASSIFY = """
    SELECT coalesce(s.conv_id, t.conv_id) AS conv_id,
           coalesce(s.turn_idx, t.turn_idx) AS turn_idx,
           CASE WHEN t.conv_id IS NULL THEN 'SOURCE_ONLY'
                WHEN s.conv_id IS NULL THEN 'TARGET_ONLY'
                WHEN s.text IS NOT DISTINCT FROM t.text THEN 'MATCH'
                ELSE 'VALUE_DISCREPANCY' END AS status
    FROM src s FULL OUTER JOIN tgt t
      ON s.conv_id = t.conv_id AND s.turn_idx = t.turn_idx"""

ROLLUP = """
    SELECT CASE WHEN sum((status = 'SOURCE_ONLY')::INT) > 0 THEN 'MISSING_IN_TARGET'
                WHEN sum((status = 'TARGET_ONLY')::INT) > 0 THEN 'EXTRA_IN_TARGET'
                WHEN sum((status = 'VALUE_DISCREPANCY')::INT) > 0 THEN 'TEXT_DISCREPANCY'
                ELSE 'OK' END AS conv_status
    FROM cls GROUP BY conv_id"""


def recon_cuts(params: dict) -> tuple[int, int]:
    """(pinned LSN, cut LSN) of the recon target: the base slices end at
    the pin, the pending delta slices at the cut."""
    pin = params["base_slices"] * params["base_slice"] - 1
    return pin, pin + params["pending_slices"] * params["delta_slice"]


def _recon_oracle(con, log_dir: str, tmp: str, params: dict, max_lsn: int) -> dict:
    """Source of truth = fold of the whole log (written as parquet, the
    recon source); expected target = fold up to the cut LSN; expected
    changed keys = keys whose live state differs between the pinned and
    the cut LSN. Classification and rollup by plain SQL."""
    pin, cut = recon_cuts(params)
    if cut >= max_lsn:
        raise ValueError("recon params leave no drift after the cut LSN")
    src_path = os.path.join(tmp, "source.parquet")
    con.execute(f"COPY (SELECT {', '.join(COLS)} FROM ({fold_sql(log_dir)})) "
                f"TO '{src_path}' (FORMAT PARQUET)")
    con.execute(f"CREATE OR REPLACE TEMP TABLE src AS SELECT * FROM read_parquet('{src_path}')")
    con.execute(f"CREATE OR REPLACE TEMP TABLE tgt AS {fold_sql(log_dir, cut)}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE pin AS {fold_sql(log_dir, pin)}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE cls AS {CLASSIFY}")
    con.execute("""
        CREATE OR REPLACE TEMP TABLE changed AS
        SELECT coalesce(a.conv_id, b.conv_id) AS conv_id,
               coalesce(a.turn_idx, b.turn_idx) AS turn_idx
        FROM pin a FULL OUTER JOIN tgt b
          ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
        WHERE a.lsn IS DISTINCT FROM b.lsn""")

    def counts(sql: str) -> dict:
        return {k: v for k, v in con.execute(sql).fetchall()}

    full = counts("SELECT status, count(*) FROM cls GROUP BY 1")
    incr = counts("SELECT status, count(*) FROM cls SEMI JOIN changed USING (conv_id, turn_idx) GROUP BY 1")
    rollup = counts(f"SELECT conv_status, count(*) FROM ({ROLLUP}) GROUP BY 1")
    drift = con.execute(
        "SELECT conv_id, turn_idx, status FROM cls WHERE status <> 'MATCH'"
    ).fetchall()
    incr_drift = con.execute(
        "SELECT conv_id, turn_idx, status FROM cls SEMI JOIN changed USING (conv_id, turn_idx) "
        "WHERE status <> 'MATCH'"
    ).fetchall()
    missing = {"SOURCE_ONLY", "TARGET_ONLY", "VALUE_DISCREPANCY"} - set(full)
    if missing:
        raise ValueError(f"recon inputs lack drift kinds {sorted(missing)}; enlarge the log past the cut")
    return {
        "source": "source.parquet", "cut_lsn": cut, "pin_lsn": pin,
        "expect_full": full, "expect_incremental": incr, "expect_rollup": rollup,
        "expect_drift": sorted(map(list, drift)),
        "expect_incremental_drift": sorted(map(list, incr_drift)),
        "changed_keys": con.execute("SELECT count(*) FROM changed").fetchone()[0],
    }
