"""Bounded LSN-slice reader over the change-log table.

The change feed is an LSN-ordered table (here parquet files, flat or in
``epoch=N`` dirs; on a cluster an Iceberg table fed by Debezium-style
capture). The engine tails it in bounded micro-batches:
``read_slice(lo, hi)`` returns all events with ``lo < lsn <= hi``.

One index describes the log: ``footer_index`` reads every file's parquet
footer driver-side (rows, lsn min/max, Spark schema) — the per-file
column stats an Iceberg/Delta manifest keeps as table metadata. The
open, ``initial_schema``, ``max_lsn``, the per-slice lineage and every
slice scan are planned from it; opening the source runs no Spark job.
A slice scans exactly the files whose lsn range overlaps it
(``slice_lineage`` is the one overlap test), and its lsn predicate
reaches the scan (PushedFilters → row-group min/max pruning), so a
slice read costs proportional to the slice, not the log.

Schema evolution: early files lack the ``tool`` column, and a later
file may widen a column (int → long). A slice reads its files under the
union of their schemas by name, each column at its widest type (the
target table's promotion rule); a file lacking a column reads it as
nulls — how an Iceberg reader resolves old data files against a newer
schema. A slice touching only pre-evolution files has no ``tool``
column at all.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from etl_reconciliate_spark.target.table import _wider


def footer_index(changelog_path: str) -> list[dict]:
    """Per-file index from parquet FOOTERS, read driver-side with pyarrow
    — no Spark job at all. One entry per data file: its path, the
    lineage key ``file`` (last two path components), row count, lsn
    min/max across its row groups and its Spark schema (all columns
    nullable, as Spark's file reads make them)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    out = []
    for root, _dirs, files in os.walk(changelog_path):
        _dirs.sort()  # readdir order is fs-dependent; lineage must not be
        for name in sorted(files):
            if not name.endswith(".parquet"):
                continue
            fp = os.path.join(root, name)
            pf = pq.ParquetFile(fp)
            md = pf.metadata
            lo = hi = None
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    if col.path_in_schema == "lsn" and col.statistics is not None:
                        s = col.statistics
                        lo = s.min if lo is None else min(lo, s.min)
                        hi = s.max if hi is None else max(hi, s.max)
            if lo is None and "lsn" in pf.schema_arrow.names and md.num_rows > 0:
                # the file HAS lsn values but its footer carries no
                # column statistics (writer disabled/truncated them) —
                # without bounds the slice reader would silently skip
                # every event in the file. Fall back to reading the one
                # column driver-side; degenerate case, still no Spark job.
                import pyarrow.compute as pc

                col_data = pf.read(columns=["lsn"])["lsn"]
                lo = pc.min(col_data).as_py()
                hi = pc.max(col_data).as_py()
            schema = from_arrow_schema(pf.schema_arrow)
            out.append(
                {
                    "path": fp,
                    "file": "/".join(fp.rsplit("/", 2)[-2:]),
                    "rows": md.num_rows,
                    "lsn_lo": lo,
                    "lsn_hi": hi,
                    "schema": T.StructType(
                        [T.StructField(f.name, f.dataType, True) for f in schema]
                    ),
                }
            )
    return out


def slice_lineage(index: list[dict], lo: int, hi: int) -> list[dict]:
    """Files of the footer index whose lsn range overlaps (lo, hi].

    ``file_rows`` is the WHOLE file's row count (footer metadata — the
    slice may cover only part of it when slice boundaries don't align
    with file boundaries); the exact per-slice event count is measured
    separately via ``observe_count`` and recorded next to this lineage
    in the run manifest. LSN ranges are clipped to the slice."""
    return [
        {
            "file": f["file"],
            "file_rows": f["rows"],
            "lsn_lo": max(f["lsn_lo"], lo + 1),
            "lsn_hi": min(f["lsn_hi"], hi),
        }
        for f in index
        if f["lsn_hi"] is not None and f["lsn_hi"] > lo and f["lsn_lo"] <= hi
    ]


def _lsn_order(f: dict) -> tuple:
    return (f["lsn_lo"] is None, f["lsn_lo"] or 0)


class ChangeLogSource:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        epoch_layout = any(
            d.startswith("epoch=") and os.path.isdir(os.path.join(path, d))
            for d in os.listdir(path)
        )
        self.file_index = footer_index(path)
        self._by_file = {f["file"]: f for f in self.file_index}
        for f in self.file_index:
            rel = os.path.relpath(f["path"], path).split(os.sep)
            if not (
                len(rel) == 2 and rel[0].startswith("epoch=")
                if epoch_layout else len(rel) == 1
            ):
                # a data file beside or below the epoch= dirs (or below a
                # flat log) has no place in the layout; refuse loudly
                # rather than guess where its events belong
                raise ValueError(
                    f"changelog layout error: {f['file']} is not inside "
                    f"an epoch= directory of {path}; expected a flat dir "
                    f"or epoch=N subdirs only"
                )

    def initial_schema(self) -> T.StructType:
        """Schema of the file holding the EARLIEST events (the
        pre-evolution shape) — the correct basis for initializing a
        target table whose later columns arrive through schema
        evolution. From the footer index: no read."""
        if not self.file_index:
            raise ValueError(f"changelog {self.path} holds no parquet files")
        return min(self.file_index, key=_lsn_order)["schema"]

    def max_lsn(self) -> int:
        return max(
            (f["lsn_hi"] for f in self.file_index if f["lsn_hi"] is not None),
            default=-1,
        )

    def lineage(self, lsn_lo_exclusive: int, lsn_hi_inclusive: int) -> list[dict]:
        """Lineage records of the files overlapping (lo, hi] — empty for
        a slice the index proves holds no events."""
        return slice_lineage(self.file_index, lsn_lo_exclusive, lsn_hi_inclusive)

    def read_slice(self, lsn_lo_exclusive: int, lsn_hi_inclusive: int) -> DataFrame:
        """Events with lsn in (lo, hi]: one explicit-schema scan of the
        files overlapping the slice (so the slice's schema is the schema
        of its actual data), with the lsn predicate pushed to the scan.
        A slice overlapping no file is an empty frame typed by
        ``initial_schema()``, with no file scan at all."""
        hit = [
            self._by_file[f["file"]]
            for f in self.lineage(lsn_lo_exclusive, lsn_hi_inclusive)
        ]
        if not hit:
            return self.spark.createDataFrame([], self.initial_schema())
        types: dict[str, T.DataType] = {}
        for f in sorted(hit, key=_lsn_order):  # earliest file's columns lead
            for c in f["schema"]:
                types[c.name] = _wider(types.get(c.name, c.dataType), c.dataType)
        merged = T.StructType([T.StructField(n, t, True) for n, t in types.items()])
        return (
            self.spark.read.schema(merged)
            .parquet(*[f["path"] for f in hit])
            .filter(
                (F.col("lsn") > F.lit(lsn_lo_exclusive))
                & (F.col("lsn") <= F.lit(lsn_hi_inclusive))
            )
        )
