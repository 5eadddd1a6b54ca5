"""Per-layer metrics of a traced run, from spans plus the event log.

Attribution is by job description: a Spark job belongs to the innermost
span open when it ran (see ``spans.py``). Only work under a span marked
``timed`` counts; input generation, pre-build, warm-up and checks are
excluded. Each metric is ``(value, unit, note)``. A layer this workload
does not exercise reads 0 with the note "not exercised"; a value that
cannot be attributed from outside is ``None`` with the reason.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics

from eventlog import Log, union_ms
from spans import span_id

# the hot-key census filter of operators.skew: ``count > threshold``
# on the per-key counts of either side
CENSUS_FILTER = re.compile(r"\(_[lr]n#\d+L > \d+\)")

# the per-layer metrics of the result line (BENCHMARK.json lists the
# same); the two skew.* census metrics stay in the result file only,
# because the census often reports no plan metrics (value None)
REPORTED = (
    "sources.open_s", "plans.plan_slices_s", "sources.rows_scanned_per_event",
    "dedup.map_task_s_per_mevent", "dedup.shuffle_write_bytes_per_event",
    "dedup.rows_out_per_row_in", "table.merge_reduce_task_s_per_mevent",
    "table.delta_bytes_written_per_event", "table.files_written_per_commit",
    "table.commit_driver_s", "table.commit_conflicts", "runner.jobs_per_slice",
    "table.expire_s", "table.count_live_s", "table.compact_s", "table.compact_bytes_rewritten",
    "runner.driver_serial_share", "runner.reduce_task_skew", "reconcile.join_task_s",
    "reconcile.shuffle_bytes_per_row", "text_udf.arrow_eval_s",
    "table.read_rows_scanned_per_live_row", "table.read_changes_s", "checksum.digest_s",
    "checksum.dirty_block_share", "spark.gc_share", "spark.spill_bytes",
    "spark.executor_run_s", "spark.executor_cpu_s",
)


def per_layer(log: Log, tracer, wl) -> dict:
    spans = {sp.id: sp for sp in tracer.spans}

    def timed_root(sp):
        while sp is not None:
            if sp.attrs.get("timed"):
                return sp
            sp = spans.get(sp.parent)
        return None

    timed = [sp for sp in spans.values() if timed_root(sp) is not None]
    named = lambda name: [sp for sp in timed if sp.name == name]  # noqa: E731
    ops = [sp for sp in timed if sp.attrs.get("timed")]
    n_ops = max(1, len(ops))

    def span_of(desc):
        sid = span_id(desc)
        return spans.get(sid) if sid is not None else None

    def stages_under(roots) -> list:
        """Stages run by a job tagged with one of ``roots`` or a span
        nested in one of them."""
        ids = {sp.id for sp in roots}
        out = []
        for st in log.stages:
            sp = span_of(st.description)
            while sp is not None and sp.id not in ids:
                sp = spans.get(sp.parent)
            if sp is not None:
                out.append(st)
        return out

    def stages_of(roots) -> list:
        """Stages whose job the span itself tagged (nested spans excluded)."""
        ids = {sp.id for sp in roots}
        return [st for st in log.stages if span_id(st.description) in ids]

    def med(xs, default=0.0):
        xs = list(xs)
        return statistics.median(xs) if xs else default

    def ratio(a, b):
        return a / b if b else 0.0

    out: dict[str, tuple] = {}
    NA = "not exercised by this workload"

    def put(name, value, unit, exercised=True, note=""):
        out[name] = (value if exercised else 0.0, unit, note if exercised else NA)

    # ------------------------------------------------------------ replay
    replays = named("runner.replay")
    merges = named("table.merge_apply")
    compacts = named("table.compact")
    events = sum(sp.attrs.get("events", 0) for sp in replays)
    merge_stages = stages_of(merges)
    map_st = [s for s in merge_stages if s.shuffle_write_bytes and not s.shuffle_read_bytes]
    red_st = [s for s in merge_stages if s.shuffle_read_bytes]
    ing = bool(merges)
    log_dir = os.path.join(wl.entry, "log")
    on_log = lambda n: log_dir in n.location  # noqa: E731
    on_target = lambda n: wl.target in n.location  # noqa: E731

    put("sources.open_s", med(sp.secs for sp in named("sources.open")), "s", bool(replays))
    put("plans.plan_slices_s", med(sp.secs for sp in named("plans.plan_slices")), "s", bool(replays))
    put("sources.rows_scanned_per_event",
        ratio(sum(log.sql_rows(s, on_log) for s in merge_stages), events), "rows/event", ing)
    put("dedup.map_task_s_per_mevent",
        ratio(sum(s.run_ms for s in map_st) / 1e3, events / 1e6), "s/Mevent", ing)
    put("dedup.shuffle_write_bytes_per_event",
        ratio(sum(s.shuffle_write_bytes for s in map_st), events), "B/event", ing)
    put("dedup.rows_out_per_row_in",
        ratio(sum(s.shuffle_write_records for s in map_st), events), "rows/row", ing)
    put("table.merge_reduce_task_s_per_mevent",
        ratio(sum(s.run_ms for s in red_st) / 1e3, events / 1e6), "s/Mevent", ing)
    put("table.delta_bytes_written_per_event",
        ratio(sum(s.output_bytes for s in merge_stages), events), "B/event", ing)

    merge_ids = {sp.id for sp in merges}
    files = sum(
        v for a, v in log.driver_metrics.items()
        if (n := log.nodes.get(a)) is not None and n.metric == "number of written files"
        and span_id(log.execution_desc.get(n.execution_id)) in merge_ids
    )
    put("table.files_written_per_commit", ratio(files, len(merges)), "files", ing)

    merge_jobs = [j for j in log.jobs.values() if span_id(j.description) in merge_ids]
    driver_s = []
    for sp in merges:
        lo, hi = int(sp.start * 1e3), int(sp.end * 1e3)
        busy = union_ms([(j.submit_ms, j.complete_ms) for j in merge_jobs
                         if span_id(j.description) == sp.id], lo, hi)
        nested = sum(c.secs for c in compacts if c.parent == sp.id)
        driver_s.append(sp.secs - nested - busy / 1e3)
    put("table.commit_driver_s", med(driver_s), "s", ing,
        "merge_apply wall minus its Spark jobs and nested compaction")
    put("table.commit_conflicts", tracer.conflicts, "count", ing)
    put("runner.jobs_per_slice", ratio(len(merge_jobs), len(merges)), "jobs", ing,
        "jobs tagged by merge_apply, compaction excluded")
    put("table.expire_s", med(sp.secs for sp in named("table.expire")), "s", ing)
    count_live = named("table.count_live")
    put("table.count_live_s", med(sp.secs for sp in count_live), "s", bool(count_live))
    put("table.compact_s", med(sp.secs for sp in compacts), "s", bool(compacts))
    put("table.compact_bytes_rewritten",
        ratio(sum(s.output_bytes for s in stages_under(compacts)), len(compacts)), "B",
        bool(compacts), "per compaction")

    serial = []
    for sp in replays:
        lo, hi = int(sp.start * 1e3), int(sp.end * 1e3)
        busy = union_ms([iv for s in stages_under([sp]) for iv in s.task_intervals], lo, hi)
        serial.append((hi - lo - busy, hi - lo))
    put("runner.driver_serial_share",
        ratio(sum(a for a, _ in serial), sum(b for _, b in serial)), "share", bool(replays),
        "replay() wall time with no task running")
    skews = [s.task_max_ms / s.task_p50_ms for s in red_st if len(s.task_ms) > 1 and s.task_p50_ms]
    put("runner.reduce_task_skew", med(skews), "max/p50", bool(skews))

    # --------------------------------------------------------- recon
    full = named("recon.full")
    norm = named("recon.normalized")
    checks = named("recon.checksum")
    full_st, norm_st = stages_under(full), stages_under(norm)
    rec = bool(full)
    # The census map stages are bare key scans whose aggregate reports
    # no plan metrics (and in the exact pass no census node reports any),
    # so census time cannot be attributed from outside. Its outcome can:
    # the threshold filter's output rows, in the passes where it reports.
    out["skew.census_s"] = (None, "s", "census stages carry no attributable plan metrics")
    census = [[s for s in stages_under([sp])
               if log.stage_has_node(s, lambda n: CENSUS_FILTER.search(n.detail))]
              for sp in full + norm]
    census = [st for st in census if st]
    if census:
        hot = sum(log.sql_rows(s, lambda n: n.node == "Filter" and CENSUS_FILTER.search(n.detail))
                  for st in census for s in st)
        put("skew.hot_keys_found", hot / len(census), "keys", note=(
            "keys over the census threshold, both sides, per pass whose census reported"))
    else:
        put("skew.hot_keys_found", 0.0, "keys", exercised=False)
        if rec:
            out["skew.hot_keys_found"] = (None, "keys", "no census filter reported plan metrics")

    join_pred = lambda n: "Join" in n.node and "FullOuter" in n.detail  # noqa: E731
    classify_pred = lambda n: join_pred(n) or n.node == "ArrowEvalPython"  # noqa: E731

    def classify_s(stages, passes):
        return ratio(sum(s.run_ms for s in stages if log.stage_has_node(s, classify_pred)) / 1e3,
                     len(passes))

    put("reconcile.join_task_s", classify_s(full_st, full), "s", rec,
        "executor run time of the full-outer join stages, per full pass")
    put("reconcile.shuffle_bytes_per_row",
        ratio(sum(s.shuffle_write_bytes for s in full_st),
              sum(sp.attrs.get("items", 0) for sp in full)), "B/row", rec)
    put("text_udf.arrow_eval_s", classify_s(norm_st, norm) - classify_s(full_st, full), "s",
        bool(norm), "classify-stage run time, normalized minus exact pass")
    if rec:
        live_rows = sum(v for k, v in wl.man["expect_full"].items() if k != "SOURCE_ONLY")
        read_rows = sum(log.sql_rows(s, on_target) for s in full_st) / len(full)
        put("table.read_rows_scanned_per_live_row", ratio(read_rows, live_rows),
            "rows/row", note="base + delta rows per live row, full pass")
    else:
        # count_live() scans only between compactions; right after one it
        # returns the row_count recorded in the metadata
        scanning = [sp for sp in count_live if stages_of([sp])]
        put("table.read_rows_scanned_per_live_row",
            ratio(sum(log.sql_rows(s, on_target) for s in stages_of(scanning)),
                  sum(sp.attrs.get("live", 0) for sp in scanning)),
            "rows/row", bool(scanning), "count_live() scans")
    put("table.read_changes_s", med(sp.secs for sp in named("table.read_changes")), "s",
        bool(named("table.read_changes")))
    put("checksum.digest_s", med(sp.secs for sp in named("checksum.digest")), "s", bool(checks))
    put("checksum.dirty_block_share",
        ratio(sum(sp.attrs.get("dirty_blocks", 0) for sp in checks),
              sum(sp.attrs.get("blocks", 0) for sp in checks)), "share", bool(checks))

    # ---------------------------------------------------------- spark
    all_st = stages_under(ops)
    run_ms = sum(s.run_ms for s in all_st)
    put("spark.gc_share", ratio(sum(s.gc_ms for s in all_st), run_ms), "share")
    put("spark.spill_bytes", sum(s.spill_bytes for s in all_st) / n_ops, "B", note="per operation")
    put("spark.executor_run_s", run_ms / 1e3 / n_ops, "s", note="per operation")
    put("spark.executor_cpu_s", sum(s.cpu_ns for s in all_st) / 1e9 / n_ops, "s",
        note="per operation; excludes Python-worker time")
    return out


def tracing_overhead(work: str, workload: str, traced: dict) -> dict:
    """Traced minus untraced value of each end-to-end metric, against the
    newest untraced result of the same workload in ``work``."""
    files = sorted(glob.glob(os.path.join(work, "results", f"{workload}-trace0-*.json")),
                   key=os.path.getmtime)
    if not files:
        return {"note": "no untraced result of this workload to compare with"}
    with open(files[-1]) as f:
        base = json.load(f)["end_to_end"]
    return {
        name: {"traced": v, "untraced": base[name][0], "delta": v - base[name][0],
               "share": (v - base[name][0]) / base[name][0] if base[name][0] else None}
        for name, (v, _) in traced.items() if name in base
    }
