"""The three closed-loop workloads: set-up, timed operations, checks.

Every workload has the same shape. ``prepare`` builds the per-run state
(target pre-build and a warm-up pass; all of it counts as set-up time).
``step(i)`` runs the next timed operations, each inside a tracer span
with ``timed=True``, appends one sample per operation and then checks
the operation's output outside the span. ``finish`` runs the final
row-level check. A failed check or an exception marks its operation
failed and never stops the run.
"""

from __future__ import annotations

import os
import shutil
import traceback

from host import tree_cpu_s
from inputs import COLS, KEYS, duck, fold_sql


class Failure(Exception):
    pass


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise Failure(what)


class Workload:
    name = ""

    def __init__(self, spark, tracer, man: dict, entry: str, run_dir: str, k: int):
        self.spark = spark
        self.tracer = tracer
        self.man = man
        self.params = man["params"]
        self.entry = entry
        self.log = os.path.join(entry, "log")
        self.run_dir = run_dir
        self.k = k
        self.target = os.path.join(run_dir, "target")
        self.samples: list[dict] = []  # one per timed operation
        self.failures: list[dict] = []
        self.failed_ops: set[int] = set()
        self.attempts = 0

    def _fail(self, op: int, e: Exception) -> None:
        """Record a failed operation; called from an ``except`` block."""
        self.failed_ops.add(op)
        self.failures.append({"op": op, "error": f"{type(e).__name__}: {e}",
                              "traceback": traceback.format_exc()})

    def _replay(self, target: str, **kw) -> dict:
        # called through the module, so traced runs see the wrapped replay
        from etl_reconciliate_spark.streaming import runner

        return runner.replay(self.spark, self.log, target, n_partitions=self.k,
                             target_mode="mor", **kw)

    def _compare_table(self, target: str, lsn_hi: int | None) -> None:
        """Row for row: TargetTable.read() against the DuckDB fold."""
        from etl_reconciliate_spark.target.table import TargetTable

        out = os.path.join(self.run_dir, "check_rows")
        TargetTable(self.spark, target).read().select(*COLS).write.mode(
            "overwrite").parquet(out)
        con = duck(self.k, os.path.join(self.run_dir, "duck_tmp"))
        cols = ", ".join(COLS)
        con.execute(f"CREATE TEMP TABLE want AS SELECT {cols} FROM ({fold_sql(self.log, lsn_hi)})")
        con.execute(f"CREATE TEMP TABLE got AS SELECT {cols} FROM read_parquet('{out}/*.parquet')")
        extra = con.execute("SELECT count(*) FROM (FROM got EXCEPT ALL FROM want)").fetchone()[0]
        lost = con.execute("SELECT count(*) FROM (FROM want EXCEPT ALL FROM got)").fetchone()[0]
        con.close()
        _expect(extra == 0 and lost == 0,
                f"target differs from the oracle fold: {extra} unexpected rows, {lost} missing rows")

    def more(self) -> bool:
        """False when the inputs hold no further operation."""
        return True

    def can_stop(self) -> bool:
        """True when the run may end after the current operation, once
        its time is up."""
        return True

    def step(self, i: int) -> None:
        op = self.attempts
        self.attempts += 1
        try:
            self.op(i)
        except Exception as e:  # noqa: BLE001 - a failed op is a counted outcome
            self._fail(op, e)

    def finish(self) -> None:
        """Row-level check of the final state; a mismatch fails the last op."""
        try:
            self.final_check()
        except Exception as e:  # noqa: BLE001
            self._fail(self.attempts - 1, e)

    def final_check(self) -> None:
        pass

    def _timed(self, i: int, fn) -> dict:
        cpu0 = tree_cpu_s(os.getpid())
        with self.tracer.span("op", timed=True, i=i) as sp:
            stats = fn()
        cpu = tree_cpu_s(os.getpid()) - cpu0
        sp.attrs["items"] = stats["events"]
        self.samples.append({"secs": sp.secs, "cpu_s": cpu, "items": stats["events"]})
        return stats


class Backfill(Workload):
    """One replay() drains the whole log into an empty MoR target in a
    few large slices; compaction runs at the last slice."""

    name = "backfill"

    def _drain(self, target: str) -> dict:
        shutil.rmtree(target, ignore_errors=True)
        p = self.params
        return self._replay(target, slice_size=-(-p["events"] // p["slices"]),
                            compact_threshold=p["compact_threshold"])

    def prepare(self) -> None:
        # two warm-up drains: after one, drain times still fell ~8% per
        # drain, so the op count per run moved the median
        warm = os.path.join(self.run_dir, "warmup_target")
        for _ in range(2):
            self._drain(warm)
        shutil.rmtree(warm, ignore_errors=True)

    def op(self, i: int) -> None:
        shutil.rmtree(self.target, ignore_errors=True)
        stats = self._timed(i, lambda: self._drain(self.target))
        m = self.man
        _expect(stats["events"] == m["log_rows"],
                f"applied {stats['events']} events, the log has {m['log_rows']}")
        _expect(stats["target_rows"] == m["live_final"],
                f"{stats['target_rows']} live rows, oracle {m['live_final']}")

    def final_check(self) -> None:
        self._compare_table(self.target, None)


class Tail(Workload):
    """Repeated one-slice replay() triggers onto a pre-built, compacted
    target; the table compacts every ``compact_threshold`` commits."""

    name = "tail"

    def _trigger(self) -> dict:
        p = self.params
        stats = self._replay(self.target, slice_size=p["slice"], max_slices=1,
                             compact_threshold=p["compact_threshold"])
        self.done += 1
        return stats

    def prepare(self) -> None:
        p = self.params
        shutil.rmtree(self.target, ignore_errors=True)
        # two slices: one 60k-event slice made peak RSS spread 0.11
        # across runs instead of ~0.04
        self._replay(self.target, slice_size=p["base_events"] // 2, max_slices=2,
                     compact_threshold=2)
        self.done = 0
        for _ in range(p["warmup_triggers"]):
            self._trigger()

    def more(self) -> bool:
        """True while the log holds another slice."""
        return self.done < self.params["max_triggers"]

    def can_stop(self) -> bool:
        """True after a trigger that compacted, once at least two cycles
        were timed: every run measures whole compaction cycles, and a
        slow host still measures as many triggers as a run needs for a
        steady median."""
        c = self.params["compact_threshold"]
        return self.done % c == 0 and len(self.samples) >= 2 * c

    def op(self, i: int) -> None:
        stats = self._timed(i, self._trigger)
        m = self.man
        _expect(stats["final_lsn"] == m["cuts"][self.done],
                f"trigger ended at lsn {stats['final_lsn']}, expected {m['cuts'][self.done]}")
        _expect(stats["target_rows"] == m["live_at"][self.done],
                f"{stats['target_rows']} live rows, oracle {m['live_at'][self.done]}")

    def final_check(self) -> None:
        self._compare_table(self.target, self.man["cuts"][self.done])


class Recon(Workload):
    """Read-only: rounds of four recon passes over one MoR target that
    lags the source of truth by known drift and has pending deltas.
    Each pass is one operation; a round's time is the sum of its four
    pass spans (the checks between passes are excluded)."""

    name = "recon"
    PASSES = ("full", "normalized", "checksum", "incremental")

    def prepare(self) -> None:
        from etl_reconciliate_spark.target.table import TargetTable

        p = self.params
        shutil.rmtree(self.target, ignore_errors=True)
        keep = p["pending_slices"] + 4
        self._replay(self.target, slice_size=p["base_slice"], max_slices=p["base_slices"],
                     compact_threshold=p["base_slices"], expire_keep=keep)
        self.table = TargetTable(self.spark, self.target)
        self.pin_version = self.table.current_version()
        self._replay(self.target, slice_size=p["delta_slice"], max_slices=p["pending_slices"],
                     compact_threshold=keep, expire_keep=keep)
        self.to_version = self.table.current_version()
        meta = self.table.metadata()
        _expect(len(meta.get("deltas", [])) == p["pending_slices"],
                f"target has {len(meta.get('deltas', []))} pending deltas")
        _expect(meta["offsets"]["lsn_hi"] == self.man["cut_lsn"], "target cut LSN mismatch")
        self.source = self.spark.read.parquet(os.path.join(self.entry, self.man["source"]))
        # warm-up, checked like a timed pass: the checksum pass runs the
        # digest plan and, in its drill-down, the full reconcile plan
        self._pass("checksum", -1)

    def _collect(self, recon) -> tuple[dict, dict]:
        """The reconcile job's tail: persist once, then the status counts
        and the conversation rollup."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from etl_reconciliate_spark.operators import reconcile as R

        self._live = recon = recon.persist(StorageLevel.DISK_ONLY)
        counts = {r["status"]: r["n"] for r in R.status_counts(recon).collect()}
        rollup = {r["conv_status"]: r["n"] for r in R.rollup_conversations(recon)
                  .groupBy("conv_status").agg(F.count(F.lit(1)).alias("n")).collect()}
        return counts, rollup

    def _drift(self) -> list:
        from pyspark.sql import functions as F

        rows = self._live.filter(F.col("status") != "MATCH").select(
            "conv_id", "turn_idx", "status").collect()
        self._live.unpersist()
        return sorted([r[0], r[1], r[2]] for r in rows)

    def _pass(self, kind: str, i: int) -> None:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from etl_reconciliate_spark.operators import checksum as C
        from etl_reconciliate_spark.operators import reconcile as R

        tr, m = self.tracer, self.man
        extra: dict = {}
        diff = None
        cpu0 = tree_cpu_s(os.getpid())
        with tr.span(f"recon.{kind}", timed=i >= 0, i=i) as sp:
            target = self.table.read(version=self.to_version)
            if kind in ("full", "normalized"):
                counts, rollup = self._collect(R.reconcile(
                    self.source, target, comparator="exact" if kind == "full" else "normalized"))
            elif kind == "checksum":
                nb = self.params["n_blocks"]
                with tr.span("checksum.digest"):
                    diff = C.checksum_diff(
                        C.block_checksums(self.source, n_blocks=nb),
                        C.block_checksums(target, n_blocks=nb),
                    ).persist(StorageLevel.MEMORY_AND_DISK)
                    blk = diff.agg(F.count(F.lit(1)).alias("blocks"),
                                   F.sum(F.col("dirty").cast("int")).alias("dirty")).collect()[0]
                extra = {"blocks": blk["blocks"], "dirty_blocks": int(blk["dirty"] or 0)}
                counts, rollup = self._collect(
                    C.checksum_reconcile(self.source, target, n_blocks=nb, diff=diff))
            else:
                with tr.span("table.read_changes"):
                    changed = self.table.read_changes(self.pin_version, self.to_version).select(
                        *KEYS).distinct().localCheckpoint()
                    extra = {"changed_keys": changed.count()}
                counts, rollup = self._collect(R.reconcile_incremental(self.source, target, changed))
        cpu = tree_cpu_s(os.getpid()) - cpu0
        # keys the pass verified; the checksum pass clears clean blocks by digest
        items = sum(m["expect_full"].values()) if kind == "checksum" else sum(counts.values())
        sp.attrs.update(items=items, kind=kind, **extra)
        if i >= 0:
            self.samples.append({"secs": sp.secs, "cpu_s": cpu, "items": items, "kind": kind,
                                 "round": i})
        # ---- checks, outside the span
        drift = self._drift()
        if diff is not None:
            diff.unpersist()
        if kind in ("full", "normalized"):
            _expect(counts == m["expect_full"], f"{kind} counts {counts} != oracle {m['expect_full']}")
            _expect(rollup == m["expect_rollup"], f"{kind} rollup {rollup} != oracle {m['expect_rollup']}")
            _expect(drift == m["expect_drift"], f"{kind} non-MATCH key set differs from the oracle")
        elif kind == "checksum":
            want = {k: v for k, v in m["expect_full"].items() if k != "MATCH"}
            _expect(counts == want, f"checksum non-MATCH counts {counts} != full pass {want}")
            _expect(drift == m["expect_drift"], "checksum non-MATCH key set differs from the full pass")
        else:
            _expect(extra["changed_keys"] == m["changed_keys"],
                    f"{extra['changed_keys']} changed keys, oracle {m['changed_keys']}")
            _expect(counts == m["expect_incremental"],
                    f"incremental counts {counts} != oracle {m['expect_incremental']}")
            _expect(drift == m["expect_incremental_drift"],
                    "incremental non-MATCH key set differs from the oracle on the changed keys")

    def step(self, i: int) -> None:
        for kind in self.PASSES:
            op = self.attempts
            self.attempts += 1
            try:
                self._pass(kind, i)
            except Exception as e:  # noqa: BLE001 - counted, see Workload.step
                self._fail(op, e)


WORKLOADS = {w.name: w for w in (Backfill, Tail, Recon)}
