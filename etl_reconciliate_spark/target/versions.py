"""The version log: one ``v{n:06d}.json`` per published version.

Every versioned artifact publishes through this module — the target
table's snapshots and the rollup / dedup-index job outputs alike. A
root directory holds the version files plus the data dirs they
reference (``snap-*`` / ``delta-*``, named by :func:`data_name` and
recorded by path relative to the root). The current version is the
highest published file; there is no pointer to swap.

* **publish** — :func:`publish_version` writes the complete metadata to
  a unique temp file and hard-links it into its slot. The link is the
  single commit point (put-if-absent, the Delta Lake / Iceberg
  Hadoop-table log store): of two writers for one slot exactly one
  wins, and a reader sees either no file or a finished one.
* **expire** — :func:`expire_versions` drops all but the newest
  versions and collects data dirs and temp files nothing kept
  references. The slot number in a name is its writer's claim: a name
  whose slot is above the current version may still be linked by a
  live writer, so it is never collected.
* **refresh** — :func:`refresh_output` is the run of a job output
  derived from a table: build or incrementally refresh it, publish it
  as the next version, expire the old ones.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql.types import StructType

# the key under which Spark's parquet writer stores the row schema (JSON)
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


class SnapshotExpiredError(ValueError):
    """A version required by the requested read was dropped by
    ``expire_snapshots``.

    Subclasses ``ValueError`` for backward compatibility, but exists as
    its own type because the recovery differs from a plain bad-argument
    ``ValueError``: an expired base means the deltas are unrecoverable
    and the caller should re-snapshot / rebuild (the jobs'
    ``bootstrap_expired_cursor`` / ``rebuild_expired_base`` paths),
    whereas ``from_version > to_version`` is a caller range error that
    must fail loudly — conflating the two let a bounded export rewind a
    consumer cursor (r5 jobs review)."""


class CommitConflictError(RuntimeError):
    """Another writer already committed the same version, or this
    writer's base snapshot was stale.

    The caller's view of the log is stale: re-read metadata, recompute
    from the fresh state, and retry — exactly Iceberg's
    optimistic-concurrency contract."""


def _meta_path(root: str, version: int) -> str:
    return os.path.join(root, f"v{version:06d}.json")


def list_versions(root: str) -> list[int]:
    """Published versions, ascending: every ``v{n:06d}.json`` under
    ``root`` (a commit's in-flight ``*.tmp`` is not a version)."""
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return []
    return sorted(
        int(n[1:-5]) for n in names
        if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit()
    )


def read_version(root: str, version: int | None = None) -> dict:
    """Metadata of ``version`` (default: the highest published one);
    ``FileNotFoundError`` when it is not published (or was expired)."""
    if version is None:
        vs = list_versions(root)
        if not vs:
            raise FileNotFoundError(f"no committed version under {root}")
        version = vs[-1]
    with open(_meta_path(root, version)) as f:
        return json.load(f)


def publish_version(root: str, version: int, meta: dict) -> None:
    """Publish ``meta`` as version ``version`` of ``root`` or raise
    :class:`CommitConflictError`.

    A hard link is atomic and fails if the slot exists, so the link IS
    the commit point. On an object store the same contract is a
    conditional PUT (``If-None-Match: *``). A filesystem without hard
    links raises a non-``FileExistsError`` ``OSError`` from the link,
    which propagates: the publish fails loudly rather than degrading.

    A slot can be empty because :func:`expire_versions` freed it after
    newer versions were published. A writer whose base is that old
    links into it successfully, so after the link it checks for a
    higher version; if one exists it removes its own link and conflicts
    as stale, and the current version never rewinds. (A fresh publish
    that a racing writer builds on within that link-then-list window
    conflicts too; the newer version already carries its work, and the
    idempotent retry re-applies it.)"""
    mp = _meta_path(root, version)
    tmp = f"{mp}.{uuid.uuid4().hex}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        try:
            os.link(tmp, mp)  # THE atomic commit point
        except FileExistsError:
            raise CommitConflictError(
                f"version {version} of {root} was committed by another "
                f"writer; re-read metadata and retry"
            ) from None
    finally:
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass
    if list_versions(root)[-1] > version:
        os.remove(mp)
        raise CommitConflictError(
            f"version {version} of {root} was already published and "
            f"expired; this writer's base snapshot is stale"
        )


def data_name(kind: str, slot: int) -> str:
    """A fresh name for a ``snap`` or ``delta`` data dir written for
    version ``slot``: the slot that :func:`_slot` reads back, plus a
    random suffix that keeps a concurrent writer of the same slot out
    of this dir."""
    return f"{kind}-{slot:06d}-{uuid.uuid4().hex[:8]}"


def _slot(name: str) -> int | None:
    """The version slot a data dir (``snap-N[-hex]``, ``delta-N-hex``)
    or commit temp (``vN.json.<hex>.tmp``) was written for; ``None``
    for any other name, or one whose number does not parse."""
    if name.startswith(("snap-", "delta-")):
        num = name.split("-")[1]
    elif name.startswith("v") and name.endswith(".tmp"):
        num = name[1:].split(".")[0]
    else:
        return None
    return int(num) if num.isdigit() else None


def expire_versions(
    root: str, keep_last: int, orphan_grace_secs: float
) -> None:
    """Drop the metadata of all but the newest ``keep_last`` (>= 1)
    versions, then collect unreferenced data dirs and commit temps.

    A ``snap-*`` / ``delta-*`` dir or ``v*.json.*.tmp`` file is removed
    only when all three hold:

    * no kept version references it (versions share data dirs, so
      removal is by reference, like Iceberg's expire-snapshots +
      orphan-file cleanup);
    * the slot number in its name is <= the current version — a name
      carrying an unpublished slot belongs to a writer that may still
      link it, however long it has been writing; once that slot is
      published or expired, its writer is bound to conflict;
    * it is older than ``orphan_grace_secs`` (a staged dir may be
      milliseconds from its link).

    Any other name — including one whose number does not parse — is
    left alone."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    # a CONCURRENT expirer may remove version metadata between our
    # listing and our access — losing the race is fine, crashing the
    # caller mid-backlog is not. But a KEPT version whose metadata
    # vanished must NOT be treated as "references nothing": its dirs may
    # be the live base shared by newer versions, and sweeping them would
    # delete live data. Re-list and retry until one pass reads every
    # kept version consistently; if that never happens, drop only our
    # planned metadata and SKIP the sweep — the next expire picks the
    # garbage up.
    referenced: set | None = None
    for _attempt in range(5):
        vs = list_versions(root)
        if not vs:
            return
        drop, keep, current = vs[:-keep_last], vs[-keep_last:], vs[-1]
        refs = set()
        consistent = True
        for v in keep:
            try:
                m = read_version(root, v)
            except FileNotFoundError:
                consistent = False  # racing expirer → re-list
                break
            refs.add(m["data_dir"])
            refs.update(m.get("deltas", []))
        if consistent:
            referenced = refs
            break
    for v in drop:
        try:
            os.remove(_meta_path(root, v))
        except FileNotFoundError:
            pass
    if referenced is None:
        return
    now = time.time()
    for name in os.listdir(root):
        slot = _slot(name)
        if slot is None or slot > current or name in referenced:
            continue
        p = os.path.join(root, name)
        try:
            if now - os.path.getmtime(p) < orphan_grace_secs:
                continue
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)
        except OSError:
            continue


def refresh_output(
    tbl, root: str, *, name: str, params: dict, measure_version,
    refresh: bool, sweep_grace_secs: float, build, update, unchanged,
) -> int:
    """One run of a job output derived from table ``tbl``, published as
    the next version of ``root``: prints one JSON line and returns the
    exit code (0, or 1 with an ``{"error": ...}`` line).

    The output's metadata records ``params``, ``measure_version``, the
    ``table_version`` it was built from, its ``data_dir`` and its
    ``{name}_rows``. The run pins the table's current version and picks
    a mode:

    * ``build`` — no output yet; ``rebuild`` — one exists but
      ``refresh`` is off;
    * an error — ``refresh`` over an output whose params differ;
    * ``rebuild_measure_changed`` — the output was measured under
      another ``measure_version``: refreshed cells would sit next to
      stale ones, so it is rebuilt;
    * ``rebuild_expired_base`` — the table version it was built from
      is expired, so there is nothing to diff against. A deliberate
      rebuild is plain ``rebuild``, so this label fires only when table
      expiry outpaces the refresh cadence;
    * ``refresh`` — otherwise. When the table has not moved it is a
      no-op: ``unchanged(table_meta)`` supplies the report and nothing
      is published.

    The bodies write the output into a fresh ``snap-*`` dir and return
    report fields: ``build(to_version, data_dir)`` and
    ``update(from_version, to_version, stale, data_dir)``, where
    ``stale`` is the previous output scanned under the Spark schema its
    metadata records (from a part file's footer): no inference job. A
    table version they read that is expired mid-run ends the run with
    an error line naming it, unpublished. Of two runs on one base the
    first to link wins and the other exits 1 with a conflict. After a
    publish all but the last two versions expire, and unreferenced
    dirs older than ``sweep_grace_secs`` are collected."""
    if not tbl.exists():
        print(json.dumps({"error": f"no table at {tbl.path}"}))
        return 1
    to_version = tbl.current_version()
    published = list_versions(root)
    base = published[-1] if published else -1
    prior = read_version(root, base) if published else None
    rows_key = f"{name}_rows"
    out = {"to_version": to_version, **params}
    meta = None  # the refresh base, only when refreshing is possible
    if prior is None:
        out["mode"] = "build"
    elif not refresh:
        out["mode"] = "rebuild"
    elif {k: prior.get(k) for k in params} != params:
        print(json.dumps({"error": f"existing {name} has different "
                          f"{'/'.join(params)}; rebuild without --refresh"}))
        return 1
    elif prior.get("measure_version") != measure_version:
        out["mode"] = "rebuild_measure_changed"
    else:
        out.update(mode="refresh", from_version=prior["table_version"])
        try:
            table_meta = tbl.metadata(prior["table_version"])
            meta = prior
        except FileNotFoundError:
            out["mode"] = "rebuild_expired_base"
    if meta is not None and meta["table_version"] == to_version:
        out.update(unchanged(table_meta))
        out[rows_key] = meta[rows_key]
        print(json.dumps(out))
        return 0

    os.makedirs(root, exist_ok=True)
    # the slot this run publishes, named into its build dir: expiry
    # never collects a dir whose slot is not yet published
    data_dir = os.path.join(root, data_name("snap", base + 1))
    pins = [to_version] + ([meta["table_version"]] if meta else [])
    try:
        if meta is None:
            out.update(build(to_version, data_dir))
        else:
            stale = tbl.spark.read
            if "schema" in meta:  # outputs published before it was recorded
                stale = stale.schema(StructType.fromJson(meta["schema"]))
            stale = stale.parquet(os.path.join(root, meta["data_dir"]))
            out.update(update(meta["table_version"], to_version, stale,
                              data_dir))
    except (FileNotFoundError, SnapshotExpiredError):
        # a concurrent writer expired a version this run pinned
        gone = sorted(set(pins) - set(tbl.versions()))
        if not gone:
            raise
        print(json.dumps({"error": f"table version {gone[0]} expired mid-run"}))
        return 1

    # the row count and the Spark schema from the footers: no Spark job
    import pyarrow.parquet as pq

    footers = [
        pq.read_metadata(os.path.join(data_dir, n))
        for n in os.listdir(data_dir)
        if n.startswith("part-") and n.endswith(".parquet")
    ]
    out[rows_key] = sum(f.num_rows for f in footers)
    schema = next((f.metadata[SPARK_SCHEMA_KEY] for f in footers
                   if SPARK_SCHEMA_KEY in (f.metadata or {})), None)
    try:
        publish_version(root, base + 1, {
            "table_version": to_version, **params,
            "data_dir": os.path.basename(data_dir), rows_key: out[rows_key],
            "measure_version": measure_version,
            **({"schema": json.loads(schema)} if schema else {}),
        })
    except CommitConflictError as e:
        print(json.dumps({"error": f"publish conflict: {e}"}))
        return 1
    expire_versions(root, keep_last=2, orphan_grace_secs=sweep_grace_secs)
    print(json.dumps(out))
    return 0
