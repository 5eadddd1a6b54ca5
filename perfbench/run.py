#!/usr/bin/env python3
"""CDC engine benchmark: backfill, tail and recon workloads.

Run from the repository root:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

One Spark driver process (``local[k]``, k = min(cpus, 4) // 2) calls
the engine's public functions directly. The inputs come from ``--seed``
and are regenerated in every run; every output is
checked against DuckDB oracles outside the timed region.

The gated set-up and per-operation times are CPU seconds of the whole
process tree, JIT compiler threads excluded (``host.tree_cpu_s``);
wall-clock times are printed too.

stdout: one line per named end-to-end metric of the workload, then, as
the last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The full record goes to
``.perfbench_work/results/``. Exits non-zero when a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def end_to_end(wl, setup_s: float, setup_wall_s: float,
               peak_rss: int) -> tuple[dict, dict, dict]:
    """(the contract's generic metrics, the wall-clock ones, the same
    numbers under the workload's own names)."""
    if wl.name == "recon":
        # one operation of the headline metrics = one round of four passes
        rounds: dict[int, list] = {}
        for s in wl.samples:
            rounds.setdefault(s["round"], []).append(s)
        done = [r for r in rounds.values() if len(r) == len(wl.PASSES)]
        ops = [sum(s["secs"] for s in r) for r in done]
        cpu_ops = [sum(s["cpu_s"] for s in r) for r in done]
    else:
        ops = [s["secs"] for s in wl.samples]
        cpu_ops = [s["cpu_s"] for s in wl.samples]
    secs = sum(s["secs"] for s in wl.samples)
    cpu = sum(s["cpu_s"] for s in wl.samples)
    items = sum(s["items"] for s in wl.samples)
    m = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
        "op_cpu_p50_s": (statistics.median(cpu_ops), "s"),
        "items_per_cpu_s": (items / cpu, "1/s"),
    }
    wall = {"setup_wall_s": (setup_wall_s, "s"), "op_p50_s": (statistics.median(ops), "s"),
            "items_per_s": (items / secs, "1/s")}
    named = {"setup_s": m["setup_s"], "setup_wall_s": wall["setup_wall_s"],
             "peak_rss_mb": m["peak_rss_mb"]}
    if wl.name == "backfill":
        named["backfill_events_per_s"] = (wall["items_per_s"][0], "events/s")
        named["backfill_drain_p50_s"] = wall["op_p50_s"]
        named["backfill_drain_cpu_p50_s"] = m["op_cpu_p50_s"]
        named["backfill_events_per_cpu_s"] = (m["items_per_cpu_s"][0], "events/cpu-s")
        named["backfill_drains"] = (len(ops), "count")
    elif wl.name == "tail":
        named["tail_commit_p50_s"] = wall["op_p50_s"]
        # informational: with 8-12 triggers a run, p75 has only 2-3
        # samples above it, too few to gate on
        named["tail_commit_p75_s"] = (statistics.quantiles(ops, n=4)[2], "s")
        named["tail_events_per_s"] = (wall["items_per_s"][0], "events/s")
        named["tail_commit_cpu_p50_s"] = m["op_cpu_p50_s"]
        named["tail_events_per_cpu_s"] = (m["items_per_cpu_s"][0], "events/cpu-s")
        named["tail_triggers"] = (len(ops), "count")
    else:
        for kind in wl.PASSES:
            named[f"recon_{kind}_s"] = (
                statistics.median(s["secs"] for s in wl.samples if s["kind"] == kind), "s")
        named["recon_round_p50_s"] = wall["op_p50_s"]
        named["recon_keys_per_s"] = (wall["items_per_s"][0], "keys/s")
        named["recon_round_cpu_p50_s"] = m["op_cpu_p50_s"]
        named["recon_keys_per_cpu_s"] = (m["items_per_cpu_s"][0], "keys/cpu-s")
        named["recon_rounds"] = (len(ops), "count")
    return m, wall, named


def start_spark(k: int, mem_gb: int, run_dir: str, trace: bool):
    from etl_reconciliate_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{mem_gb}g",
        "spark.local.dir": os.path.join(run_dir, "spark_local"),
        # a fixed-size heap: a growing heap made peak RSS depend on when
        # the collector ran; compiler threads that never exit, so their
        # CPU time can be told apart (host.tree_cpu_s)
        "spark.driver.extraJavaOptions": (
            f"-Xms{mem_gb}g -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={run_dir}/tmp"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf["spark.eventLog.dir"] = os.path.join(run_dir, "eventlog")
        os.makedirs(conf["spark.eventLog.dir"])
    spark = get_spark("perfbench", master=f"local[{k}]", shuffle_partitions=k, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until every process
    this run started has ended."""
    from pyspark import SparkContext

    from host import descendants

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while (kids := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in kids:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "tail", "recon"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    import host

    t_proc = host.process_start_monotonic()
    if not os.path.isdir(os.path.join(ROOT, "etl_reconciliate_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    import inputs
    from spans import Tracer
    from workloads import WORKLOADS

    os.makedirs(WORK, exist_ok=True)
    h = host.facts(WORK)
    size = host.sizing(h)
    params = size[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # Spark prefers this over spark.local.dir; keep shuffle files in the run dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark_local")
    host.check_fits(h, params["events"] * 400, params["events"] * 4000)

    rss = host.RssSampler()
    ticks0 = host.cpu_ticks()
    spark = start_spark(size["k"], size["driver_mem_gb"], run_dir, bool(args.trace))
    tracer = Tracer(spark, tag_jobs=bool(args.trace))
    try:
        t_gen, cpu_gen = time.monotonic(), host.tree_cpu_s(os.getpid())
        entry = os.path.join(run_dir, "inputs")
        man = inputs.build(spark, entry, args.workload, args.seed, params, size["k"])
        host.check_fits(h, host.warm_page_cache(os.path.join(entry, "log")), 0)
        gen_s = time.monotonic() - t_gen
        gen_cpu_s = host.tree_cpu_s(os.getpid()) - cpu_gen
        # the engine's memory, from set-up to the last timed operation;
        # the DuckDB oracles run in this process before and after
        rss.start()

        if args.trace:
            tracer.install()
        wl = WORKLOADS[args.workload](spark, tracer, man, entry, run_dir, size["k"])
        wl.prepare()
        setup_wall_s = time.monotonic() - t_proc - gen_s
        setup_s = host.tree_cpu_s(os.getpid()) - gen_cpu_s

        deadline = time.monotonic() + args.seconds
        i = 0
        while True:
            wl.step(i)
            i += 1
            if not wl.more() or (time.monotonic() >= deadline and wl.can_stop()):
                break
        measured_s = time.monotonic() - deadline + args.seconds
        peak = rss.stop()
        wl.finish()
        tracer.uninstall()
        versions = host.versions(spark)
    finally:
        stop_spark(spark)
    steal, total = (b - a for a, b in zip(ticks0, host.cpu_ticks()))

    metrics, wall, named = end_to_end(wl, setup_s, setup_wall_s, peak)
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "measured_s": measured_s, "generate_s": gen_s,
        "host": {**h, **versions, "k": size["k"], "driver_mem_gb": size["driver_mem_gb"],
                 "seed": args.seed, "cpu_steal_share": steal / total if total else 0.0},
        "params": params, "end_to_end": {**metrics, **wall}, "named": named,
        "samples": wl.samples, "failures": wl.failures,
        "setup_spans": [(sp.name, sp.secs) for sp in tracer.spans
                        if sp.parent is None and not sp.attrs.get("timed")],
    }
    if args.trace:
        from layers import REPORTED, per_layer, tracing_overhead
        from eventlog import parse

        log = parse(os.path.join(run_dir, "eventlog"))
        result["per_layer"] = per_layer(log, tracer, wl)
        result["tracing_overhead"] = tracing_overhead(WORK, args.workload, {**metrics, **wall})
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out_path = os.path.join(
        WORK, "results", f"{args.workload}-trace{args.trace}-seed{args.seed}-{int(time.time())}.json")
    if args.trace:
        tracer.dump(out_path.replace(".json", ".spans.jsonl"))
        shutil.move(os.path.join(run_dir, "eventlog"), out_path.replace(".json", ".eventlog"))
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    for name, (value, unit) in named.items():
        print(f"{args.workload}.{name} = {value:.6g} {unit}")
    for f in wl.failures:
        print(f"FAILED op {f['op']}: {f['error']}")
    if args.trace:
        for name, (value, unit, note) in result["per_layer"].items():
            print(f"{args.workload}.layer.{name} = {value} {unit}" + (f"  ({note})" if note else ""))
        for name, d in result["tracing_overhead"].items():
            print(f"{args.workload}.tracing_overhead.{name} = {d}")
        chosen = {n: result["per_layer"][n] for n in REPORTED}
    else:
        chosen = metrics
    failed = len(wl.failed_ops)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": wl.attempts,
        "failed": failed,
        "metrics": {n: {"value": v[0], "unit": v[1]} for n, v in chosen.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
