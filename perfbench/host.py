"""Host facts, input sizing from them, and the peak-RSS sampler."""

from __future__ import annotations

import os
import shutil
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def meminfo() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0]) * 1024
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def process_start_monotonic() -> float:
    """time.monotonic() at which this process started (from /proc), so
    set-up time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.monotonic() - (uptime - start_ticks / TICK)


def facts(work: str) -> dict:
    mem = meminfo()
    shm = shutil.disk_usage("/dev/shm").total if os.path.isdir("/dev/shm") else 0
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "ram_bytes": mem["MemTotal"],
        "ram_available_bytes": mem["MemAvailable"],
        "disk_free_bytes": shutil.disk_usage(work).free,
        "shm_bytes": shm,
        "git_sha": git_sha(),
    }


def sizing(h: dict) -> dict:
    """Engine parallelism and per-workload input sizes for this host.
    Spark gets half the cores (k = min(cpus, 4) // 2): the other half
    runs the driver's Python process, the JVM's GC and JIT threads and
    the Python workers, which with k = cpus competed with the tasks.
    Sizes scale with
    min(cpus, 4); a 4-core host gets the reference sizes below."""
    c = max(1, min(h["cpus"], 4))
    k = max(1, c // 2)
    s = c / 4
    # the driver JVM holds every executor thread in local mode
    mem_gb = max(1, min(3, int(h["ram_bytes"] / 2**30 / 5)))

    def ev(n: int, q: int) -> int:  # round to a multiple of q
        return max(q, int(n * s) // q * q)

    base_slice = ev(40_000, 1000)
    delta_slice = ev(1_000, 100)
    recon_events = base_slice + 3 * delta_slice + ev(2_000, 100)
    tail_base, tail_slice, max_triggers = ev(60_000, 1000), ev(2_000, 100), 24
    return {
        "k": k,
        "driver_mem_gb": mem_gb,
        "backfill": {"events": ev(160_000, 4000), "slices": 4, "compact_threshold": 4,
                     "text_len": 128, "block": ev(40_000, 1000)},
        "tail": {"base_events": tail_base, "slice": tail_slice, "max_triggers": max_triggers,
                 "events": tail_base + tail_slice * max_triggers, "compact_threshold": 4,
                 "warmup_triggers": 4, "text_len": 128, "block": ev(40_000, 1000)},
        "recon": {"events": recon_events, "base_slices": 1, "base_slice": base_slice,
                  "pending_slices": 3, "delta_slice": delta_slice, "n_blocks": 4096,
                  "text_len": 128, "block": ev(40_000, 1000)},
    }


def check_fits(h: dict, log_bytes: int, work_bytes_estimate: int) -> None:
    """Refuse to run when the log would not stay in page cache, or the
    work dir could not hold the run's files."""
    if log_bytes * 4 > h["ram_available_bytes"]:
        raise SystemExit(
            f"refusing to run: change log {log_bytes} B does not fit in page cache "
            f"({h['ram_available_bytes']} B available, need 4x)"
        )
    if work_bytes_estimate * 3 > h["disk_free_bytes"]:
        raise SystemExit(
            f"refusing to run: {h['disk_free_bytes']} B free disk, need ~{3 * work_bytes_estimate}"
        )


def warm_page_cache(path: str) -> int:
    """Read every file under ``path`` once; returns the bytes read."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            with open(os.path.join(dirpath, name), "rb") as f:
                while chunk := f.read(1 << 20):
                    total += len(chunk)
    return total


def git_sha() -> str | None:
    """The checkout's commit, or None outside a git repository. Called
    before the RSS sampler starts: a forked child briefly shows the
    parent's RSS."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def versions(spark) -> dict:
    import duckdb
    import pyarrow

    return {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(os.getpid()))
            self._stop.wait(self.interval)


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    return children


def _tree(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of ``root`` and every descendant."""
    children = _children()
    out, stack = [(root, 0)], [root]
    while stack:
        parent = stack.pop()
        for c in children.get(parent, []):
            out.append((c, parent))
            stack.append(c)
    return out


def descendants(root: int) -> list[int]:
    return [pid for pid, _ in _tree(root)[1:]]


# the JVM's JIT compiler threads (comm is cut to 15 characters)
COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat_path: str, fields: slice) -> int:
    with open(stat_path) as f:
        return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[fields])


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``root`` and its live descendants, less the JVM's JIT compiler
    threads. The kernel charges time the hypervisor stole from a vCPU to
    steal, not to the process; compilation is the JVM warming up, which
    a long-lived session pays once and which kept going through a whole
    benchmark run.
    The compiler threads must live as long as the JVM
    (``-XX:-UseDynamicNumberOfCompilerThreads``): an exited thread's
    time stays in the process total but leaves its task list."""
    ticks = 0
    for pid, _ in _tree(root):
        try:
            ticks += _ticks(f"/proc/{pid}/stat", slice(11, 15))
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().startswith(COMPILER_THREADS):
                        ticks -= _ticks(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))
        except (OSError, ValueError, IndexError):
            pass
    return ticks / TICK


def tree_rss(root: int) -> int:
    """Summed RSS of ``root`` and its descendants. A child whose RSS
    equals its parent's is skipped: a vfork()ed child (the JVM starts
    helper processes that way) shares the parent's memory until it
    execs and reports the parent's RSS, which once doubled a run's peak."""
    tree = _tree(root)
    rss = {}
    for pid, _ in tree:
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss[pid] = int(f.read().split()[1]) * PAGE
        except (OSError, ValueError, IndexError):
            pass
    return sum(rss[pid] for pid, parent in tree
               if pid in rss and rss[pid] != rss.get(parent))
