"""Iceberg-semantics target table.

No ``iceberg-spark-runtime`` jar ships offline with PySpark 4.1.2 (SURVEY
§7.4), so the engine's sink is a small table abstraction with
Iceberg-equivalent semantics implemented over parquet snapshots + one
JSON metadata file per version:

* **snapshot isolation** — every MERGE writes a brand-new data directory
  and metadata file; the current version is the highest published
  ``v{n:06d}.json``, and readers only ever see a fully written one;
* **atomic commit** — one put-if-absent publish of the finished metadata
  file into its version slot (``target/versions.py``, the version log
  the rollup and dedup-index jobs publish through too); checkpoint
  offsets are embedded IN the snapshot metadata, so offsets and data
  commit together (exactly-once without a separate transaction
  coordinator — SURVEY §7.3);
* **schema evolution** — each snapshot records its schema; columns
  present in an incoming batch but absent from the table are appended
  (add-column), and old snapshots read with nulls for them;
* **idempotent MERGE** — per-row ``_lsn`` (last-applied LSN) and
  ``_deleted`` tombstones make re-applying any overlapping or replayed
  slice a no-op: a row only changes when the incoming LSN is strictly
  newer (newer-LSN-wins; reference analog: the job-repository restart
  state at springbatch-schema.sql:58-72, done right).

On a real cluster the same interface binds to Iceberg
(``spark.table`` + ``MERGE INTO`` + ``ALTER TABLE ADD COLUMN``); the
engine code above this layer is backend-agnostic. At 100 TB the Iceberg
backend would be bucket-partitioned on (conv_id, turn_idx) so the
merge's storage-partitioned join avoids shuffling the target side; the
emulation approximates this by hash-clustering data files on the key.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from etl_reconciliate_spark.operators.dedup import dedup_max_lsn
from etl_reconciliate_spark.schemas import KEY_COLS, META_LSN
# CommitConflictError and SnapshotExpiredError are part of this
# module's API (callers catch them from here); the version log defines
# them
from etl_reconciliate_spark.target.versions import (
    CommitConflictError,
    SnapshotExpiredError,
    data_name,
    expire_versions,
    list_versions,
    publish_version,
    read_version,
)

META_DELETED = "_deleted"
META_COLS = [META_LSN, META_DELETED]

# Iceberg's default parquet codec (write.parquet.compression-codec) is
# zstd; matching it keeps the emulation's storage cost and CPU profile
# faithful to the real backend.
PARQUET_CODEC = "zstd"


# Safe type promotions (Iceberg's evolution rules): each chain is
# ordered narrow → wide; a column may move right along its chain only.
_PROMOTION_CHAINS = (
    ["byte", "short", "integer", "long"],
    ["float", "double"],
)


def _wider(a: T.DataType, b: T.DataType) -> T.DataType:
    """The wider of two types along a safe promotion chain; raises
    SchemaConflictError when they are on no common chain."""
    if a == b:
        return a
    an, bn = a.typeName(), b.typeName()
    for chain in _PROMOTION_CHAINS:
        if an in chain and bn in chain:
            return a if chain.index(an) >= chain.index(bn) else b
    raise SchemaConflictError(
        f"incompatible type change {an} -> {bn}: only widening promotions "
        f"{_PROMOTION_CHAINS} are supported"
    )


class SchemaConflictError(RuntimeError):
    """A batch column's type conflicts with the table schema and is not
    a safe widening promotion."""


def _conform(df: DataFrame, want: T.StructType) -> DataFrame:
    """Pad columns missing from ``df`` with typed nulls and cast columns
    whose type is narrower than ``want``'s (widening evolution).

    For DataFrames only — the merge batch and ``read_changes``' from-side;
    data dirs are scanned under the metadata schema instead
    (:meth:`TargetTable._read_padded`). ONE select, not a ``withColumn``
    loop: per-column ``withColumn`` stacks one Project node per evolved
    column into the plan. Existing columns stay in place (passthrough
    extras such as the meta columns included), missing ``want`` columns
    are appended."""
    have = {f_.name: f_.dataType for f_ in df.schema.fields}
    want_types = {f_.name: f_.dataType for f_ in want.fields}
    cols = []
    for name in df.columns:
        w = want_types.get(name)
        if w is not None and have[name] != w:
            cols.append(F.col(name).cast(w).alias(name))
        else:
            cols.append(F.col(name))
    for f_ in want.fields:
        if f_.name not in have:
            cols.append(F.lit(None).cast(f_.dataType).alias(f_.name))
    return df.select(cols)


def _with_meta(schema: T.StructType) -> T.StructType:
    """``schema`` plus the stored meta columns (``_lsn``, ``_deleted``)."""
    return T.StructType(
        list(schema.fields)
        + [
            T.StructField(META_LSN, T.LongType(), True),
            T.StructField(META_DELETED, T.BooleanType(), True),
        ]
    )


def _winners(parts: list[DataFrame]) -> DataFrame:
    """Union data dirs padded to one schema and keep each key's
    max-``_lsn`` row — base + delta resolution."""
    return dedup_max_lsn(
        functools.reduce(DataFrame.unionByName, parts), order=(META_LSN,)
    )


def _visible(df: DataFrame, want: T.StructType, include_meta: bool) -> DataFrame:
    """``want``'s columns of resolved rows: live rows only, or every row
    with the meta columns when ``include_meta``."""
    cols = [f_.name for f_ in want.fields]
    if include_meta:
        return df.select(cols + META_COLS)
    return df.filter(~F.coalesce(F.col(META_DELETED), F.lit(False))).select(cols)


class TargetTable:
    """A versioned, MERGE-able table rooted at ``path``.

    Merge-on-read (Iceberg's ``write.merge.mode=merge-on-read``): every
    MERGE appends only the deduplicated change batch as a
    hash-clustered **delta** file set; readers resolve the per-key
    max-``_lsn`` winner across base+deltas at scan time. Write cost is
    O(slice) regardless of table size, with automatic compaction folding
    deltas back into the base every ``compact_threshold`` commits.

    Reads plan from the commit metadata alone: each data dir is scanned
    under the read version's recorded schema, never an inferred one, so
    a read starts no schema-inference job per base or delta dir.

    Tombstones (``_deleted``) are kept in deltas so the read-time winner
    selection sees the delete's LSN high-water mark. Whether compaction
    may DROP them depends on ``ordered_commits``:

    * ``ordered_commits=True`` (the bounded LSN-slice runner): slices
      commit in LSN order, so any post-compaction event for a dropped key
      necessarily carries a higher LSN and legitimately re-inserts it (an
      interrupted slice replays only LSNs above the last committed offset
      — see ``plans/checkpoint.py``). Tombstones are dropped.
    * ``ordered_commits=False`` (e.g. the Structured Streaming file
      source, whose discovery order is mtime- not LSN-based): a
      lower-LSN I/U for a deleted key may still arrive AFTER compaction;
      dropping the tombstone would let read-time max-LSN resolution
      resurrect the deleted row. Tombstones are retained at compaction
      (they only leave the table via ``expire_snapshots`` of pre-delete
      history, never silently).

    Writers use optimistic concurrency: a commit publishes version
    ``n`` by hard-linking its finished metadata file into the empty slot
    ``v{n:06d}.json`` (``versions.publish_version``). A second writer
    for the same slot gets :class:`CommitConflictError` and must
    recompute from fresh metadata (Iceberg-style CAS). A crashed writer
    leaves only a temp file and perhaps a data dir, which
    ``expire_snapshots`` reaps once their slot is published and they are
    older than ``orphan_grace_secs``; nothing has to be taken over.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int = 32,
        compact_threshold: int = 8,
        ordered_commits: bool = True,
        orphan_grace_secs: float = 600.0,
    ):
        self.spark = spark
        self.path = path
        self._n_buckets_arg = n_buckets
        self._n_buckets_cache: int | None = None
        self.compact_threshold = compact_threshold
        self._ordered_commits_arg = ordered_commits
        self._ordered_commits_cache: bool | None = None
        self.orphan_grace_secs = orphan_grace_secs

    @property
    def ordered_commits(self) -> bool:
        """Whether commits are guaranteed LSN-ordered — a TABLE property
        recorded at commit time, NOT a per-writer setting (r4 core
        review): the flag gates tombstone dropping, and a maintainer
        constructed with the default True against a stream-fed
        (out-of-order) table would otherwise compact away tombstones
        and let later lower-LSN deliveries resurrect deleted rows. An
        existing table's recorded value always wins; the constructor
        arg applies at init."""
        if self._ordered_commits_cache is not None:
            return self._ordered_commits_cache
        try:
            recorded = self.metadata().get("ordered_commits")
        except (FileNotFoundError, OSError):
            return self._ordered_commits_arg
        if recorded is not None:
            self._ordered_commits_cache = bool(recorded)
            return self._ordered_commits_cache
        return self._ordered_commits_arg

    @property
    def n_buckets(self) -> int:
        """The table's hash-bucket count — a TABLE property fixed at
        init, NOT a per-writer setting: every data/delta dir must share
        one count or read_keys' bucket pruning opens the wrong part
        files (r4 core review: writers used to impose their constructor
        arg, so a maintainer constructed with a different
        shuffle-partitions default silently broke point lookups). An
        existing table's recorded count always wins; the constructor
        arg only applies at init time."""
        if self._n_buckets_cache is not None:
            return self._n_buckets_cache
        try:
            recorded = self.metadata().get("n_buckets")
        except (FileNotFoundError, OSError):
            return self._n_buckets_arg  # table not initialized yet
        if recorded is not None:
            self._n_buckets_cache = int(recorded)
            return self._n_buckets_cache
        return self._n_buckets_arg

    # ------------------------------------------------------------ state
    def versions(self) -> list[int]:
        """Published versions, ascending."""
        return list_versions(self.path)

    def exists(self) -> bool:
        return bool(self.versions())

    def current_version(self) -> int:
        """The highest published version (one directory listing)."""
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no committed version under {self.path}")
        return vs[-1]

    def metadata(self, version: int | None = None) -> dict:
        return read_version(self.path, version)

    def schema(self) -> T.StructType:
        """Current user-facing schema (no metadata columns)."""
        return T.StructType.fromJson(self.metadata()["schema"])

    def committed_offsets(self) -> dict:
        """Checkpoint offsets committed atomically with the last snapshot."""
        return self.metadata().get("offsets", {})

    # ------------------------------------------------------------- init
    def init(self, schema: T.StructType, offsets: dict | None = None) -> None:
        """Create version 0: an empty snapshot."""
        os.makedirs(self.path, exist_ok=True)
        data_dir = data_name("snap", 0)
        empty = self.spark.createDataFrame([], schema=_with_meta(schema))
        empty.write.mode("overwrite").parquet(os.path.join(self.path, data_dir))
        self._commit(
            0, schema, data_dir, offsets or {}, row_count=0, parent=None,
            deltas=[],
        )

    # ------------------------------------------------------------- read
    def _read_padded(
        self, data_dir: str, want: T.StructType, files: str | None = None
    ) -> DataFrame:
        """One data dir scanned under schema ``want`` with meta columns
        last — the read version's schema from its metadata, so planning
        the scan runs no schema-inference job. Spark reads a late-added
        column as nulls (Iceberg-style) and widens files written before
        a promotion (int32 under an int64 schema); a file WIDER than
        ``want`` fails the read instead of being narrowed. ``files``, if
        given, is a glob the dir's file names must match."""
        reader = self.spark.read.schema(_with_meta(want))
        if files is not None:
            reader = reader.option("pathGlobFilter", files)
        return reader.parquet(os.path.join(self.path, data_dir))

    def read(self, include_meta: bool = False, version: int | None = None) -> DataFrame:
        """Current (or pinned-version) table contents.

        Live rows only unless ``include_meta``. The per-key
        max-``_lsn`` winner is resolved across base + deltas at scan
        time (one window over a key-hash shuffle — the read-side
        cost MoR trades for O(slice) writes). Every dir is scanned
        under the version's metadata schema, so building the plan runs
        no Spark job, however many deltas are pending."""
        meta = self.metadata(version)
        # the PINNED version's schema — time-travel must not show columns
        # added after that snapshot (round-1 verdict item 7)
        want = T.StructType.fromJson(meta["schema"])
        parts = [
            self._read_padded(d, want)
            for d in [meta["data_dir"], *meta.get("deltas", [])]
        ]
        # a lone base dir already holds one row per key
        df = _winners(parts) if len(parts) > 1 else parts[0]
        return _visible(df, want, include_meta)

    def read_keys(
        self,
        keys: list[tuple],
        include_meta: bool = False,
        version: int | None = None,
    ) -> DataFrame:
        """Bucket-pruned point lookup: the rows for an explicit list of
        ``(conv_id, turn_idx)`` keys, reading ONLY the parquet files
        whose hash bucket can contain them.

        Every snapshot/delta dir is written with
        ``repartition(n_buckets, *KEY_COLS)`` — Spark's HashPartitioning
        places a row in partition ``pmod(murmur3(keys), n_buckets)`` and
        the ``part-NNNNN-*`` file prefix IS that partition index. The
        same function is available as a Column (``pmod(hash(...), n)``),
        so the reader computes each key's bucket on the driver (no job,
        no scan) and opens one file per (bucket, dir)
        instead of the whole table: O(dirs × distinct_buckets) files —
        at 10^10 rows a point lookup touches ``1 + n_deltas`` files, not
        ``n_buckets × (1 + n_deltas)``. This is Iceberg's
        bucket-transform partition pruning, driven from the commit
        metadata (``n_buckets`` is recorded there by the writer).

        Semantics match ``read(...).filter(keys)`` exactly: per-key
        max-``_lsn`` winner across base + deltas, tombstones dropped
        unless ``include_meta``. Intended for bounded key lists (the
        filter is a literal OR over the keys); for a large keyset join
        against ``read()`` instead.
        """
        if not keys:
            raise ValueError("read_keys requires at least one key tuple")
        meta = self.metadata(version)
        want = T.StructType.fromJson(meta["schema"])
        n_buckets = meta.get("n_buckets", self.n_buckets)
        key_types = {f_.name: f_.dataType for f_ in want.fields}
        bucket_cols, key_filter = [], None
        for kt in keys:
            if len(kt) != len(KEY_COLS):
                raise ValueError(f"read_keys takes {KEY_COLS} tuples, got {kt!r}")
            # values cast to the TABLE's key types (murmur3 of int32 != int64)
            lits = [F.lit(v).cast(key_types[k]) for k, v in zip(KEY_COLS, kt)]
            bucket_cols.append(F.pmod(F.hash(*lits), F.lit(n_buckets)))
            cond = functools.reduce(
                lambda a, b: a & b,
                [F.col(k).eqNullSafe(x) for k, x in zip(KEY_COLS, lits)],
            )
            key_filter = cond if key_filter is None else key_filter | cond
        # buckets via Spark's own hash partitioning function, projected
        # from a one-row local relation: folded on the driver, no job
        buckets = sorted(set(
            self.spark.sql("VALUES (0)").select(F.array(*bucket_cols)).first()[0]
        ))

        # one listing per dir, filtered to the buckets' files by name:
        # explicit file paths above 32 would start a parallel listing job
        # (spark.sql.sources.parallelPartitionDiscovery.threshold)
        files = f"part-{{{','.join(f'{b:05d}' for b in buckets)}}}-*.parquet"
        df = _winners([
            self._read_padded(d, want, files).filter(key_filter)
            for d in [meta["data_dir"], *meta.get("deltas", [])]
        ])
        return _visible(df, want, include_meta)

    CHANGE_TYPE = "_change_type"

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        _force_diff: bool = False,
    ) -> DataFrame:
        """Net row-level changes between two committed snapshots — the
        incremental-consumption / CDC-out surface (Iceberg
        ``table_changes`` / Delta Change Data Feed analog): downstream
        consumers tail the lake table itself instead of the upstream
        change log. One row per key whose LIVE state differs between
        ``from_version`` and ``to_version`` (default: current), with
        ``_change_type`` in ``('insert', 'update', 'delete')``.

        Insert/update rows carry the TO-side postimage payload and its
        ``_lsn``; delete rows carry the last-known FROM-side payload
        (the preimage) and the tombstone's ``_lsn`` (null when
        compaction already dropped the tombstone). Columns are presented
        under the TO version's schema — late-added columns read as null
        on pre-evolution rows, consistent with :meth:`read`. Replayed /
        stale slices inside the range produce NO change rows (their LSNs
        lose to the from-state), mirroring the merge's idempotence.

        Scale shape — two plans, picked from the metadata alone:

        * **delta fast path** (no compaction/base rewrite in
          ``(from, to]``, detected as data_dir unchanged + delta-list
          prefix): scans ONLY the delta dirs committed in the range,
          winner-resolves them (one window over the key shuffle,
          O(range deltas)), and probes the from-snapshot once with a
          join to classify insert-vs-update and drop stale replays —
          output and shuffle cost are O(changed keys), never O(table).
        * **snapshot diff fallback** (the range crosses a compaction):
          full-outer join of the two resolved states on the key —
          correct for ANY pair of retained versions.

        Both versions' metadata must still be retained
        (``expire_snapshots`` removes old versions); otherwise raises
        ``SnapshotExpiredError`` (a ``ValueError`` subclass — distinct
        from the plain ``ValueError`` a ``from_version > to_version``
        range error raises, so callers can bootstrap/rebuild on expiry
        without swallowing range errors).
        """
        if to_version is None:
            to_version = self.current_version()
        if from_version > to_version:
            raise ValueError(
                f"from_version {from_version} > to_version {to_version}"
            )
        try:
            m_from = self.metadata(from_version)
            m_to = self.metadata(to_version)
        except FileNotFoundError as e:
            raise SnapshotExpiredError(
                f"version metadata missing (expired by expire_snapshots?): {e}"
            ) from None
        want = T.StructType.fromJson(m_to["schema"])
        payload_cols = [f_.name for f_ in want.fields if f_.name not in KEY_COLS]
        out_fields = (
            KEY_COLS
            + payload_cols
            + [self.CHANGE_TYPE, META_LSN]
        )

        if from_version == to_version:
            empty = T.StructType(
                [f_ for f_ in want.fields if f_.name in KEY_COLS]
                + [f_ for f_ in want.fields if f_.name in payload_cols]
                + [
                    T.StructField(self.CHANGE_TYPE, T.StringType(), False),
                    T.StructField(META_LSN, T.LongType(), True),
                ]
            )
            return self.spark.createDataFrame([], schema=empty)

        from_deltas = m_from.get("deltas", [])
        to_deltas = m_to.get("deltas", [])
        new_deltas = (
            to_deltas[len(from_deltas):]
            if (
                not _force_diff
                and m_to["data_dir"] == m_from["data_dir"]
                and to_deltas[: len(from_deltas)] == from_deltas
            )
            else None
        )

        # the from-side under the TO schema: columns added in the range
        # read as nulls, columns widened in it are cast up
        prior = _conform(self.read(include_meta=True, version=from_version), want)
        dead = lambda side: F.coalesce(  # noqa: E731 — local predicate
            F.col(f"{side}.{META_DELETED}"), F.lit(False)
        )
        if new_deltas is not None:
            if not new_deltas:
                return self.read_changes(from_version, from_version)
            winner = _winners([self._read_padded(d, want) for d in new_deltas])
            j = winner.alias("s").join(
                prior.alias("t"),
                [F.col(f"s.{k}").eqNullSafe(F.col(f"t.{k}")) for k in KEY_COLS],
                "left",
            )
            prior_live = F.col(f"t.{META_LSN}").isNotNull() & ~dead("t")
            newer = F.col(f"t.{META_LSN}").isNull() | (
                F.col(f"s.{META_LSN}") > F.col(f"t.{META_LSN}")
            )
            change = (
                F.when(~newer, F.lit(None))  # stale replay → no net change
                .when(dead("s") & prior_live, F.lit("delete"))
                .when(dead("s"), F.lit(None))  # dead → dead
                .when(prior_live, F.lit("update"))
                .otherwise(F.lit("insert"))
            )
            out = j.select(
                *[F.col(f"s.{k}").alias(k) for k in KEY_COLS],
                *[
                    F.when(change == "delete", F.col(f"t.{c}"))
                    .otherwise(F.col(f"s.{c}"))
                    .alias(c)
                    for c in payload_cols
                ],
                change.alias(self.CHANGE_TYPE),
                F.col(f"s.{META_LSN}").alias(META_LSN),
            )
            return out.filter(F.col(self.CHANGE_TYPE).isNotNull()).select(out_fields)

        tt = self.read(include_meta=True, version=to_version)
        j = prior.alias("t").join(
            tt.alias("s"),
            [F.col(f"s.{k}").eqNullSafe(F.col(f"t.{k}")) for k in KEY_COLS],
            "full_outer",
        )
        fr_live = F.col(f"t.{META_LSN}").isNotNull() & ~dead("t")
        tt_live = F.col(f"s.{META_LSN}").isNotNull() & ~dead("s")
        change = (
            F.when(
                tt_live
                & fr_live
                & (F.col(f"s.{META_LSN}") != F.col(f"t.{META_LSN}")),
                F.lit("update"),
            )
            .when(tt_live & ~fr_live, F.lit("insert"))
            .when(fr_live & ~tt_live, F.lit("delete"))
            .otherwise(F.lit(None))
        )
        out = j.select(
            *[
                F.coalesce(F.col(f"s.{k}"), F.col(f"t.{k}")).alias(k)
                for k in KEY_COLS
            ],
            *[
                F.when(change == "delete", F.col(f"t.{c}"))
                .otherwise(F.col(f"s.{c}"))
                .alias(c)
                for c in payload_cols
            ],
            change.alias(self.CHANGE_TYPE),
            # delete: the TO-side tombstone's LSN when retained (null
            # after compaction dropped it); insert/update: the TO LSN.
            F.col(f"s.{META_LSN}").alias(META_LSN),
        )
        return out.filter(F.col(self.CHANGE_TYPE).isNotNull()).select(out_fields)

    # ------------------------------------------------------------ merge
    def merge_apply(self, batch: DataFrame, offsets: dict, retries: int = 2) -> dict:
        """MERGE a deduplicated change batch into the table, retrying on
        commit conflicts.

        A :class:`CommitConflictError` means a concurrent writer
        published our version slot first; each retry recomputes
        from fresh table state (new version, evolved schema, their
        committed rows visible), so the merge lands correctly ON TOP of
        the racing commit — the batch itself is deterministic input and
        the merge idempotent, making blind retry safe. After ``retries``
        failed attempts (writers that keep winning the race for the
        next slot) the conflict propagates.
        See :meth:`_merge_apply_once` for the merge semantics.
        """
        for attempt in range(retries + 1):
            try:
                return self._merge_apply_once(batch, offsets)
            except CommitConflictError:
                if attempt == retries:
                    raise

    def commit_offsets(self, offsets: dict, retries: int = 2) -> dict:
        """Advance the committed offsets WITHOUT touching data: a
        metadata-only snapshot reusing the current data/delta dirs.

        The replay loop uses this to persist the high-water mark over a
        TRAILING run of provably-empty gap slices (r5 final review:
        with ``max_slices`` set, an LSN gap wider than the slice budget
        would otherwise re-plan the same gap slices on every invocation
        — zero progress, a livelock). Retries like :meth:`merge_apply`:
        each attempt re-reads fresh metadata, so a racing writer's
        commit is simply re-based on."""
        for attempt in range(retries + 1):
            meta = self.metadata()
            # never REWIND the high-water mark: a racing writer (or the
            # rebase after its conflict) may already have committed a
            # newer lsn_hi — advancing offsets is monotone
            cur_hi = int(meta.get("offsets", {}).get("lsn_hi", -1))
            if int(offsets.get("lsn_hi", -1)) <= cur_hi:
                return {"version": meta["version"],
                        "row_count": meta.get("row_count"), "noop": True}
            try:
                self._commit(
                    meta["version"] + 1,
                    T.StructType.fromJson(meta["schema"]),
                    meta["data_dir"],
                    offsets,
                    row_count=meta.get("row_count"),
                    parent=meta["version"],
                    deltas=meta.get("deltas", []),
                )
                return {"version": meta["version"] + 1,
                        "row_count": meta.get("row_count")}
            except CommitConflictError:
                if attempt == retries:
                    raise

    def _merge_apply_once(self, batch: DataFrame, offsets: dict) -> dict:
        """MERGE a deduplicated change batch into the table.

        ``batch`` must have exactly one row per key — the max-LSN winner
        from ``operators.dedup`` — with columns
        ``(lsn, op, <keys>, <payload...>)``. Semantics per row, vs the
        current target row for the same key (if any):

        * incoming ``lsn`` <= stored ``_lsn`` → keep the target row
          (replay / out-of-order slice → no-op: idempotence);
        * newer + op in (I, U) → upsert the payload (U on a missing key
          inserts, like ``MERGE ... WHEN NOT MATCHED THEN INSERT``);
        * newer + op = D → tombstone the key (kept with
          ``_deleted=true`` so an even-later replayed slice still sees
          the LSN high-water mark).

        Schema evolution happens first: payload columns absent from the
        table schema are appended. Returns commit statistics.
        """
        if not self.exists():
            raise RuntimeError(f"target table at {self.path} not initialized")

        # ONE metadata read pins EVERYTHING this merge derives from —
        # schema basis, read snapshot, delta list, and the commit slot
        # (base version + 1). Re-reading current_version() at commit
        # time was a lost-update TOCTOU (r4 core review): a writer that
        # committed between our state read and our slot computation
        # would be silently overwritten instead of conflicting. With
        # the slot pinned to the SNAPSHOT WE READ, any racing commit
        # takes our slot first and our link raises
        # CommitConflictError -> merge_apply retries from fresh state.
        base_meta = self.metadata()
        cur_schema = T.StructType.fromJson(base_meta["schema"])
        # key columns NEVER evolve implicitly (ADVICE r2): a batch whose
        # key type differs from the table's — wider (long turn_idx vs
        # int) or narrower — fails loudly instead of being silently cast
        # by _conform, where a down-cast could collapse distinct keys.
        cur_types = {f_.name: f_.dataType for f_ in cur_schema.fields}
        for f_ in batch.schema.fields:
            if f_.name in KEY_COLS and f_.dataType != cur_types.get(f_.name):
                raise SchemaConflictError(
                    f"key column {f_.name!r}: batch type "
                    f"{f_.dataType.simpleString()} != table type "
                    f"{cur_types[f_.name].simpleString()}; key types are "
                    "fixed at init and never evolve implicitly"
                )
        batch_payload = [
            c for c in batch.columns
            if c not in ("lsn", "op") and c not in META_COLS
            and c not in KEY_COLS
        ]
        new_fields = [
            f_ for f_ in batch.schema.fields
            if f_.name in batch_payload and f_.name not in cur_schema.fieldNames()
        ]
        # widen existing columns when the batch carries a safely-wider
        # type (int→long, float→double, Iceberg's promotion rules); a
        # NARROWER batch type (old epoch replayed after widening) keeps
        # the table's wide type and the batch is cast up at write time.
        batch_types = {f_.name: f_.dataType for f_ in batch.schema.fields}
        evolved_existing = [
            T.StructField(f_.name, _wider(f_.dataType, batch_types[f_.name]), True)
            if f_.name in batch_payload
            and batch_types[f_.name] != f_.dataType
            else f_
            for f_ in cur_schema.fields
        ]
        evolved = T.StructType(
            evolved_existing
            + [T.StructField(f_.name, f_.dataType, True) for f_ in new_fields]
        )

        # append the batch as a delta file set, hash-clustered on the
        # key like the base: O(slice) write cost regardless of table
        # size; winner resolution happens at read time. The slot is
        # base_meta["version"]+1, so a racing writer conflicts instead
        # of having its delta silently dropped from the list (r4 core
        # review).
        src = _conform(batch, evolved)
        delta_rows = (
            src.select(
                *[F.col(f_.name) for f_ in evolved.fields],
                F.col("lsn").alias(META_LSN),
                (F.col("op") == F.lit("D")).alias(META_DELETED),
            )
        )
        version = base_meta["version"] + 1
        delta_dir = data_name("delta", version)
        out_path = os.path.join(self.path, delta_dir)
        delta_rows.repartition(self.n_buckets, *KEY_COLS).write.option(
            "compression", PARQUET_CODEC
        ).mode("overwrite").parquet(out_path)
        deltas = base_meta.get("deltas", []) + [delta_dir]
        self._commit(
            version, evolved, base_meta["data_dir"], offsets,
            row_count=None, parent=version - 1, deltas=deltas,
        )
        stats = {"version": version, "row_count": None,
                 "data_dir": base_meta["data_dir"], "n_deltas": len(deltas)}
        if len(deltas) >= self.compact_threshold:
            try:
                stats = self.compact()
            except CommitConflictError:
                # the merge itself committed fine; a racing maintainer
                # beat us to the compaction slot — theirs covers ours
                pass
        return stats

    def compact(
        self,
        drop_tombstones: bool | None = None,
        allow_unordered_drop: bool = False,
    ) -> dict:
        """Fold all deltas into a new base snapshot (MoR maintenance).

        ``drop_tombstones`` defaults to ``self.ordered_commits``:
        dropping a tombstone is only safe when nothing older than it can
        ever be committed later (see class docstring); out-of-order
        writers (file-source streaming) must retain them. An EXPLICIT
        ``True`` on a table whose metadata records
        ``ordered_commits=False`` is refused (r5 review: maintain_job's
        explicit bool silently bypassed the recorded guarantee, and a
        later lower-LSN delivery would resurrect the deleted row) —
        pass ``allow_unordered_drop=True`` only when the out-of-order
        source is decommissioned and no stale delivery can ever arrive.

        An explicit ``drop_tombstones=True`` on a table with zero
        pending deltas still rewrites the base (the vacuum request —
        base-resident tombstones have no other exit); the no-delta
        early-return applies only to the implicit maintenance call."""
        explicit_drop = drop_tombstones is True
        if drop_tombstones is None:
            drop_tombstones = self.ordered_commits
        if drop_tombstones and not self.ordered_commits and not allow_unordered_drop:
            raise ValueError(
                f"table {self.path} records ordered_commits=False: dropping "
                "tombstones could resurrect deleted rows when an older-LSN "
                "delivery arrives later. Retain them, or pass "
                "allow_unordered_drop=True if the out-of-order source is "
                "decommissioned."
            )
        meta = self.metadata()
        if not meta.get("deltas") and not explicit_drop:
            return {"version": meta["version"], "row_count": meta.get("row_count"),
                    "data_dir": meta["data_dir"], "n_deltas": 0}
        schema = T.StructType.fromJson(meta["schema"])
        resolved = self.read(include_meta=True, version=meta["version"])
        if drop_tombstones:
            resolved = resolved.filter(
                ~F.coalesce(F.col(META_DELETED), F.lit(False))
            )
        version = meta["version"] + 1
        data_dir = data_name("snap", version)
        out_path = os.path.join(self.path, data_dir)
        from pyspark.sql import Observation

        obs = Observation()
        resolved = resolved.observe(
            obs,
            F.sum(
                F.when(~F.coalesce(F.col(META_DELETED), F.lit(False)), 1).otherwise(0)
            ).alias("live"),
        )
        # compaction is already a full rewrite, so key-sort each bucket
        # file for free-ish: parquet row-group min/max on conv_id become
        # tight, and every point/range read after compaction prunes row
        # groups instead of scanning the bucket (delta writes stay
        # UNSORTED — the hot path pays no sort; sorting is amortized
        # into maintenance, the Iceberg rewrite-with-sort-order pattern)
        resolved.repartition(self.n_buckets, *KEY_COLS).sortWithinPartitions(
            *KEY_COLS
        ).write.option(
            "compression", PARQUET_CODEC
        ).mode("overwrite").parquet(
            out_path
        )
        row_count = self._observed_live(obs, out_path, schema)
        self._commit(
            version, schema, data_dir, meta.get("offsets", {}),
            row_count=row_count, parent=version - 1, deltas=[],
        )
        return {"version": version, "row_count": row_count, "data_dir": data_dir,
                "n_deltas": 0}

    def _observed_live(self, obs, out_path: str, schema: T.StructType) -> int:
        """Live-row count from the write's Observation, with a fallback:
        when the written plan is EMPTY, AQE propagates the empty
        relation through the sort and eliminates the CollectMetrics
        node, so ``obs.get`` raises a JVM assertion instead of returning
        a null metric — re-count from the written files (degenerate
        case, cheap)."""
        try:
            return int(obs.get["live"] or 0)
        except Exception:
            out = self.spark.read.schema(_with_meta(schema)).parquet(out_path)
            return out.filter(
                ~F.coalesce(F.col(META_DELETED), F.lit(False))
            ).count()

    def count_live(self) -> int:
        """Exact live-row count (committed metadata after init or a
        compaction; a winner-resolution scan while deltas are pending)."""
        rc = self.metadata().get("row_count")
        if rc is None:
            return self.read().count()
        return rc

    # ----------------------------------------------------------- commit
    def _commit(
        self,
        version: int,
        schema: T.StructType,
        data_dir: str,
        offsets: dict,
        row_count: int | None,
        parent: int | None,
        deltas: list[str] | None = None,
    ) -> None:
        """Publish version ``version`` or raise :class:`CommitConflictError`
        (put-if-absent, ``versions.publish_version``)."""
        meta = {
            "version": version,
            "schema": schema.jsonValue(),
            "data_dir": data_dir,
            "offsets": offsets,
            "row_count": row_count,
            "parent": parent,
            # the only mode; recorded so an older engine reading this
            # table takes its merge-on-read path
            "mode": "mor",
            "deltas": deltas or [],
            # recorded so READERS can bucket-prune (read_keys) without
            # having to be constructed with the writer's n_buckets
            "n_buckets": self.n_buckets,
            # recorded so EVERY writer (incl. maintain_job) inherits the
            # table's ordering guarantee instead of its own default —
            # gates whether compaction may drop tombstones
            "ordered_commits": self.ordered_commits,
        }
        publish_version(self.path, version, meta)

    # ---------------------------------------------------------- history
    def expire_snapshots(
        self, keep_last: int = 2, orphan_grace_secs: float | None = None
    ) -> None:
        """Drop metadata of all but the newest ``keep_last`` (>= 1)
        snapshots, then delete the data/delta dirs and commit temps no
        kept snapshot references (the rule is
        ``versions.expire_versions``'s). ``orphan_grace_secs`` defaults to the table's
        setting: a concurrent writer stages its data dir and metadata
        temp before committing, so a fresh "orphan" may be an in-flight
        merge."""
        if orphan_grace_secs is None:
            orphan_grace_secs = self.orphan_grace_secs
        expire_versions(self.path, keep_last, orphan_grace_secs)
