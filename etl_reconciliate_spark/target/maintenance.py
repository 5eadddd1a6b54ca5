"""Data-dir GC for the maintenance jobs' write-then-swap outputs.

The rollup/dedup-index jobs materialize each build into a fresh
``data-v*`` dir and atomically swap a small JSON meta pointer at it
(``jobs/rollup_job.py``, ``jobs/dedup_index_job.py``). This module is
the shared collector for the dirs that swap retires — the sibling of
``TargetTable.expire_snapshots`` for job-owned outputs, living at the
target/storage layer because that is where the swap protocol's other
half (snapshot retention) lives.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid

try:
    import fcntl
except ImportError:  # pragma: no cover - non-POSIX
    fcntl = None

RETIRED_SUFFIX = ".retired"
BUILDING_SUFFIX = ".building"

# a meta-swap temp or an unlocked build claim younger than this is never
# touched, even at grace_secs<=0 — it may belong to a swap/build that is
# milliseconds from completing (deleting a racer's tmp between its write
# and its os.replace would crash the racer)
_MIN_LITTER_AGE_SECS = 60.0


def _flock_probe(fd: int, shared: bool = False) -> str:
    """Non-blocking flock on ``fd`` — the build-claim writer-liveness
    probe: ``"acquired"`` (lock now held by us until the fd closes),
    ``"held"`` (a live process owns it), ``"unsupported"`` (no advisory
    locks here).

    ``shared=True`` probes with ``LOCK_SH``: it still conflicts with a
    writer's ``LOCK_EX`` (correctly reporting "held") but NOT with
    another prober's ``LOCK_SH`` — so two concurrent sweeps probing the
    same crashed claim cannot make each other see a phantom live writer
    (r5 fourth review).
    """
    if fcntl is None:
        return "unsupported"
    try:
        fcntl.flock(fd, (fcntl.LOCK_SH if shared else fcntl.LOCK_EX)
                    | fcntl.LOCK_NB)
        return "acquired"
    except OSError as e:
        import errno

        if e.errno in (errno.EACCES, errno.EAGAIN, errno.EWOULDBLOCK):
            return "held"
        return "unsupported"


def _claim_held(claim_path: str) -> bool:
    """True iff a LIVE process holds the flock on ``claim_path``.

    A missing claim, an acquirable lock (crashed writer — the kernel
    released it), or no flock support all return False; the probe fd is
    closed immediately so an acquired probe lock is released at once.
    The probe takes ``LOCK_SH``, so concurrent probes never block each
    other and never (transiently) present a writer-excluding lock for
    longer than the syscall pair.
    """
    try:
        fd = os.open(claim_path, os.O_RDONLY)
    except OSError:
        return False
    try:
        return _flock_probe(fd, shared=True) == "held"
    finally:
        os.close(fd)


def claim_build_dir(data_dir: str) -> int | None:
    """Advertise an in-flight build of ``data_dir``: create a claim file
    beside it and hold a kernel flock on it until release (or process
    death — the kernel drops the lock with the process, which is what
    lets sweeps distinguish a crashed attempt's orphan from a LIVE
    slower build).

    Call BEFORE the first byte of the build is written; keep the
    returned fd open until ``release_build_claim``. Without a live
    claim, a build slower than the sweep grace can be marked by one
    overlapping run's start-of-run sweep and reaped mid-write by the
    next (r5 third review — the pre-claim design only protected an
    in-flight dir for as long as no two competing runs completed).
    Returns ``None`` when the claim cannot be created or locked; the
    build proceeds with grace-only protection (the pre-claim behavior).
    """
    claim = data_dir + BUILDING_SUFFIX
    try:
        fd = os.open(claim, os.O_RDWR | os.O_CREAT, 0o644)
    except OSError:
        return None
    # a concurrent sweep's liveness probe holds a LOCK_SH on this very
    # file for a syscall pair — one EWOULDBLOCK does NOT mean another
    # writer owns the dir (the uuid name makes that impossible), so
    # retry briefly instead of silently downgrading a multi-minute
    # build to grace-only protection (r5 fourth review)
    for attempt in range(5):
        status = _flock_probe(fd)
        if status == "acquired":
            return fd
        if status == "unsupported":
            break
        if attempt < 4:
            time.sleep(0.05)
    os.close(fd)
    return None


def release_build_claim(fd: int | None, data_dir: str) -> None:
    """Drop the build claim taken by ``claim_build_dir`` (after the
    pointer swap has made the dir live — the keep-set protects it from
    then on)."""
    try:
        os.remove(data_dir + BUILDING_SUFFIX)
    except OSError:
        pass
    if fd is not None:
        try:
            os.close(fd)
        except OSError:
            pass


def mark_retired(data_dir: str) -> None:
    """Stamp (or re-stamp) ``data_dir``'s retirement sentinel NOW.

    Unconditional create-or-touch, unlike the sweep's ``O_EXCL``
    discovery mark: the caller is the run that just swapped the meta
    pointer AWAY from this dir, i.e. the one process that knows the true
    retirement instant. Re-stamping is load-bearing — a concurrent
    sweep's discovery mark can land on a dir in the window after its
    owner's swap made it live (the mark then sits there AGING while the
    dir serves readers), and without this reset the run that eventually
    supersedes the dir would find an already-expired sentinel and reap
    it with zero reader grace (r5 review of the first two-phase sweep).
    There is exactly one swap winner per retirement event, so this
    cannot reset an in-progress retirement clock the way a sweep-side
    unconditional touch could.
    """
    sentinel = data_dir + RETIRED_SUFFIX
    try:
        fd = os.open(sentinel, os.O_WRONLY | os.O_CREAT, 0o644)
        os.close(fd)
        os.utime(sentinel, None)
    except OSError:
        pass


def swap_meta_pointer(meta_path: str, meta: dict) -> None:
    """Atomically publish ``meta`` at ``meta_path`` and retire the dir
    the previous meta pointed at.

    * The temp file carries a unique suffix: two overlapping runs
      writing the SAME ``meta_path + ".tmp"`` could interleave so one
      run's ``os.replace`` publishes the other's half-written payload
      (or crashes on a vanished temp). Unique temps make the swap
      last-writer-wins cleanly.
    * The prior dir is re-read immediately before the replace, so the
      retirement mark lands on whatever dir this swap ACTUALLY
      supersedes (an overlapping run may have moved the pointer since
      this run read its ``prior_meta`` at startup). The tiny window
      between the read and the replace can at worst MISS the swap-time
      mark — the sweep's discovery pass then marks the dir later, which
      only lengthens its grace, never shortens it.
    """
    prior_dir = None
    try:
        with open(meta_path) as f:
            prior_dir = json.load(f).get("data_dir")
    except (OSError, ValueError):
        pass
    tmp = f"{meta_path}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, meta_path)
    except BaseException:
        # don't leave the unique temp behind on a failed swap (ENOSPC,
        # interrupt) — SIGKILL litter is collected by the sweep instead
        try:
            os.remove(tmp)
        except OSError:
            pass
        raise
    new_dir = meta.get("data_dir")
    if prior_dir and (
        not new_dir
        or os.path.abspath(prior_dir) != os.path.abspath(new_dir)
    ):
        mark_retired(prior_dir)


def measure_changed(prior_meta: dict, expected) -> bool:
    """True when a persisted derived artifact (rollup, dedup band
    index) was built under DIFFERENT measurement semantics than the
    current code — the caller must degrade an incremental ``--refresh``
    to a full rebuild.

    Refreshing across a semantics change silently breaks the
    refresh == rebuild guarantee both maintenance jobs advertise: a
    rollup would recompute only dirty cells under the new tokenizer
    while untouched cells keep old counts, and a band index would union
    rows hashed under the new family next to stale rows so identical
    text stops colliding and near-dup candidates are lost. ``expected``
    is whatever version constant defines the artifact's semantics
    (textstats.TOKENIZER_VERSION for token-count rollups,
    dedupe_docs.SIGNATURE_VERSION — tokenizer × hash family — for the
    band index); the job stamps the same value back on every publish
    via :func:`swap_meta_pointer`.
    """
    return prior_meta.get("measure_version") != expected


def sweep_stale_data_dirs(root: str, meta_path: str,
                          keep_dir: str | None = None,
                          grace_secs: float = 300.0) -> None:
    """Two-phase GC of ``data-v*`` dirs under ``root``.

    A dir that is neither ``keep_dir`` nor referenced by the CURRENT
    on-disk meta is first MARKED retired (an empty ``<dir>.retired``
    sentinel file beside it) and left alone; only a LATER sweep removes
    it, once the sentinel is older than ``grace_secs``. Measuring grace
    from the retirement mark — not from the dir's own mtime — is what
    actually delivers the two protections the grace exists for (r5
    review of the first, mtime-based sweep, which delivered neither):

    * readers mid-scan of the just-superseded version: its mtime is its
      WRITE time, so under any refresh cadence ≥ grace it was always
      already "old enough" at the very moment it stopped being live;
    * an overlapping slower run whose write→verify→swap window exceeds
      grace: its dir would age past the mtime bar before its pointer
      swap landed, recreating the exact deleted-under-the-winner race
      the grace was added to close.

    Mark hygiene against concurrent swaps (r5 second review — a mark
    created from a stale liveness view could age on a LIVE dir and
    collapse its eventual grace to zero):

    * the common case never relies on discovery at all — the swapping
      run stamps the retired dir's sentinel at the swap instant
      (``swap_meta_pointer`` → ``mark_retired``), resetting any bogus
      aged mark at the exact moment the grace clock should start;
    * the discovery path (crash orphans that were never live) re-reads
      the live meta immediately before creating its ``O_EXCL``
      sentinel, shrinking the mark-a-live-dir window to the read→create
      gap — and a mark that still slips through is repaired by the
      swap-time re-stamp above when the dir is eventually superseded;
    * a dir that becomes live again (a slower run's swap landing after
      it was marked) has its sentinel cleared by every later sweep.

    ``keep_dir`` is the dir the calling run just wrote (pre-swap it is
    not yet in the meta); pass ``None`` for a start-of-run sweep that
    protects only what the meta references — jobs run one of those
    before building so a crash-looping build cannot accumulate one
    corpus-sized orphan per attempt unboundedly (each attempt marks its
    predecessor's orphan and reaps the one before, r5 review).

    An OVERLAPPING run's in-flight, not-yet-swapped dir is recognized by
    its live ``.building`` flock claim (``claim_build_dir``) and never
    marked or removed, at any grace — without the claim, a build slower
    than the grace would be marked by one competing start-of-run sweep
    and reaped mid-write by the next (r5 third review). A claim whose
    lock is free is a crashed attempt: its dir takes the normal
    mark→grace→reap path and the claim file is collected with the dir.

    ``grace_secs <= 0`` reverts to single-pass immediate removal (tests
    and manual cleanup; no reader/overlap protection beyond live
    claims).
    """
    live = keep_dir
    try:
        with open(meta_path) as f:
            live = json.load(f).get("data_dir") or keep_dir
    except (OSError, ValueError):
        pass
    keep = {
        os.path.abspath(d) for d in (keep_dir, live) if d
    }
    now = time.time()
    # collect crashed swaps' unique meta temps (SIGKILL between write
    # and replace — swap_meta_pointer unlinks on ordinary failure); an
    # age floor keeps a racing swap's ms-lived temp safe even at grace 0
    for tmp in glob.glob(glob.escape(meta_path) + ".tmp-*"):
        try:
            if now - os.path.getmtime(tmp) > max(grace_secs,
                                                 _MIN_LITTER_AGE_SECS):
                os.remove(tmp)
        except OSError:
            pass
    for d in sorted(os.listdir(root)):
        full = os.path.join(root, d)
        if d.startswith("data-v") and d.endswith(RETIRED_SUFFIX):
            # orphan sentinel whose dir is already gone (a crash between
            # rmtree and sentinel removal, or a foreign cleanup)
            if not os.path.isdir(full[: -len(RETIRED_SUFFIX)]):
                try:
                    os.remove(full)
                except OSError:
                    pass
            continue
        if d.startswith("data-v") and d.endswith(BUILDING_SUFFIX):
            # claim whose dir never appeared (crash before the first
            # write) — reap once the lock is free and the claim is old
            # enough to rule out a writer between claim and first byte
            if (not os.path.isdir(full[: -len(BUILDING_SUFFIX)])
                    and not _claim_held(full)):
                try:
                    if now - os.path.getmtime(full) > max(
                            grace_secs, _MIN_LITTER_AGE_SECS):
                        os.remove(full)
                except OSError:
                    pass
            continue
        if not (d.startswith("data-v") and os.path.isdir(full)):
            continue
        sentinel = full + RETIRED_SUFFIX
        if os.path.abspath(full) in keep:
            # live (again) — clear any retirement mark a concurrent
            # sweep left while this run's swap was still in flight, and
            # any dead build claim a crash stranded between the pointer
            # swap and release_build_claim (the kernel freed its lock;
            # leaving it would advertise a phantom in-flight build for
            # the dir's whole live lifetime — r5 fourth review)
            try:
                os.remove(sentinel)
            except OSError:
                pass
            claim = full + BUILDING_SUFFIX
            if not _claim_held(claim):  # False for missing claim too
                try:
                    os.remove(claim)
                except OSError:
                    pass
            continue
        if _claim_held(full + BUILDING_SUFFIX):
            # an overlapping run is STILL WRITING this dir (its claim
            # flock is held by a live process) — not ours to touch, and
            # clear any mark an earlier claimless sweep may have left
            try:
                os.remove(sentinel)
            except OSError:
                pass
            continue
        if grace_secs <= 0:
            shutil.rmtree(full, ignore_errors=True)
            for litter in (sentinel, full + BUILDING_SUFFIX):
                try:
                    os.remove(litter)
                except OSError:
                    pass
            continue
        try:
            retired_age = now - os.path.getmtime(sentinel)
        except OSError:
            # first sighting as stale: mark, reap on a later sweep —
            # but re-check liveness at the last instant (a concurrent
            # run's swap may have made this dir live since this sweep
            # read the meta at its start)
            try:
                with open(meta_path) as f:
                    now_live = json.load(f).get("data_dir")
                if now_live and (os.path.abspath(now_live)
                                 == os.path.abspath(full)):
                    continue
            except (OSError, ValueError):
                pass
            try:
                fd = os.open(sentinel, os.O_WRONLY | os.O_CREAT | os.O_EXCL,
                             0o644)
                os.close(fd)
            except OSError:
                pass
            continue
        if retired_age < grace_secs:
            continue
        shutil.rmtree(full, ignore_errors=True)
        for litter in (sentinel, full + BUILDING_SUFFIX):
            try:
                os.remove(litter)
            except OSError:
                pass
