"""Checkpoint / offset protocol.

The reference tracks restart state in the Spring Batch job repository
(reference: src/main/resources/springbatch-schema.sql:34-72 —
READ_COUNT/WRITE_COUNT counters + serialized execution contexts). Our
engine replaces that with per-partition LSN offsets embedded directly in
the target table's snapshot metadata (``TargetTable._commit``): because
offsets and data are one JSON published by one atomic put-if-absent
link of the version file, there is no window where data is applied but
offsets are not (or vice versa) — that's the whole exactly-once argument, plus row-level
newer-LSN-wins for overlapping replays (see ``target.table``).

This module is the thin view over those embedded offsets: resume point,
slice planning, and the run manifest (lineage + row-count metrics per
slice, appended as JSONL so a crashed run's history survives).
"""

from __future__ import annotations

import json
import os
import time


class CheckpointManager:
    def __init__(self, table, manifest_path: str | None = None):
        self.table = table
        self.manifest_path = manifest_path or os.path.join(
            table.path, "run_manifest.jsonl"
        )

    def last_committed_lsn(self) -> int:
        """Resume point: highest LSN whose slice is fully applied."""
        return int(self.table.committed_offsets().get("lsn_hi", -1))

    def plan_slices(self, max_lsn: int, slice_size: int) -> list[tuple[int, int]]:
        """Bounded (lo, hi] micro-batch ranges from the resume point."""
        lo = self.last_committed_lsn()
        out = []
        while lo < max_lsn:
            hi = min(lo + slice_size, max_lsn)
            out.append((lo, hi))
            lo = hi
        return out

    def offsets_for(self, lsn_hi: int, partition_offsets: list[dict]) -> dict:
        """Offset blob committed with the snapshot: global high-water mark
        plus per-input-partition lineage (file → lsn range → row count)."""
        return {
            "lsn_hi": lsn_hi,
            "partitions": partition_offsets,
            "committed_at_unix": time.time(),
        }

    def append_manifest(self, record: dict) -> None:
        with open(self.manifest_path, "a") as f:
            f.write(json.dumps(record, sort_keys=True) + "\n")

    def manifest(self) -> list[dict]:
        if not os.path.exists(self.manifest_path):
            return []
        out = []
        with open(self.manifest_path) as f:
            for line in f:
                if not line.strip():
                    continue
                try:
                    out.append(json.loads(line))
                except json.JSONDecodeError:
                    # a torn trailing line is exactly what a mid-append
                    # crash leaves; the manifest exists to SURVIVE that
                    # crash, so skip the fragment instead of dying on it
                    # (r4 review). Only the final line can be torn —
                    # earlier writes ended with a flushed newline.
                    continue
        return out
