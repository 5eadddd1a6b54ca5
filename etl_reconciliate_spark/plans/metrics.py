"""Lineage + row-count metrics.

The reference logs per-message counts ad hoc
(reference: service/ReconciliationService.java:68-75). The engine makes
them first-class: per-slice, per-input-file row counts and LSN ranges
(lineage), plus named stage counters collected via Spark's ``Observation``
API — metrics ride along with the job's own actions, costing no extra
pass over the data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F


def footer_index(changelog_path: str) -> list[dict]:
    """Per-file lineage index from parquet FOOTERS, read driver-side with
    pyarrow — no Spark job at all. One entry per data file: row count and
    lsn min/max across its row groups. Read once per replay; each slice
    then selects its overlapping files in memory.

    This is the 10^10-event design: lineage is table **metadata** (on a
    real cluster, the Iceberg manifest's per-file column stats — the same
    numbers), never a data scan. A 10 TB log has ~10^5 files → ~100 ms of
    footer reads, instead of one extra executor job per slice."""
    import pyarrow.parquet as pq

    out = []
    for root, _dirs, files in os.walk(changelog_path):
        _dirs.sort()  # readdir order is fs-dependent; lineage must not be
        for name in sorted(files):
            if not name.endswith(".parquet"):
                continue
            fp = os.path.join(root, name)
            pf = pq.ParquetFile(fp)
            md = pf.metadata
            has_lsn = "lsn" in pf.schema_arrow.names
            lo = hi = None
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    if col.path_in_schema == "lsn" and col.statistics is not None:
                        s = col.statistics
                        lo = s.min if lo is None else min(lo, s.min)
                        hi = s.max if hi is None else max(hi, s.max)
            if lo is None and has_lsn and md.num_rows > 0:
                # the file HAS lsn values but its footer carries no
                # column statistics (writer disabled/truncated them) —
                # without bounds the slice reader would silently skip
                # every event in the file (r4 review). Fall back to
                # reading the one column driver-side; degenerate case,
                # still no Spark job.
                import pyarrow.compute as pc

                col_data = pf.read(columns=["lsn"])["lsn"]
                lo = pc.min(col_data).as_py()
                hi = pc.max(col_data).as_py()
            out.append(
                {
                    "file": "/".join(fp.rsplit("/", 2)[-2:]),
                    "rows": md.num_rows,
                    "lsn_lo": lo,
                    "lsn_hi": hi,
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


def observed_or(obs, keys: tuple[str, ...], default: int = 0) -> dict:
    """Read an ``Observation``'s metrics, tolerating the empty-plan
    failure: on an empty input AQE propagates the empty relation and
    eliminates the CollectMetrics node, making ``obs.get`` raise — the
    metrics then ARE the defaults. One implementation of the guard
    (the replay loop carried two inline copies — r5 review)."""
    try:
        got = obs.get
        return {k: int(got[k] or default) for k in keys}
    except Exception:
        return {k: default for k in keys}


def observe_count(df: DataFrame):
    """Attach a plain row counter via ``Observation``; evaluated for free
    by whatever action later consumes ``df``."""
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def observe_ops(deduped: DataFrame):
    """Attach I/U/D counters to ``deduped`` via the ``Observation`` API.

    Returns ``(df, observation)``; after any ACTION consumes ``df`` (the
    merge's snapshot write), ``observation.get`` yields the counts with
    zero extra passes — the Spark-native replacement for the reference's
    per-step READ_COUNT/WRITE_COUNT counters
    (reference: src/main/resources/springbatch-schema.sql:34-56)."""
    from pyspark.sql import Observation

    obs = Observation()
    df = deduped.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("op") == "I", 1).otherwise(0)).alias("I"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0)).alias("U"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("D"),
    )
    return df, obs
