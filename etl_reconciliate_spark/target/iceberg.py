"""Real-Iceberg backend for the target table.

``TargetTable`` (target/table.py) emulates Iceberg semantics over
parquet snapshots because no ``iceberg-spark-runtime`` jar ships
offline with PySpark in this sandbox (SURVEY §7.4). This module is the
binding for a cluster where the jar IS available::

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \
      --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.lake.type=hadoop \
      --conf spark.sql.catalog.lake.warehouse=s3://bucket/warehouse \
      ...

Same surface as the emulation (init / merge_apply / read / compact /
committed_offsets), expressed in Iceberg SQL:

* MERGE INTO with newer-LSN-wins conditions (exactly the emulation's
  row rules: replayed or out-of-order slices are per-row no-ops);
* ALTER TABLE ADD COLUMNS for schema evolution;
* offsets in a sibling ``<table>_offsets`` Iceberg table written after
  the merge commit — not atomic with it, which is safe BECAUSE the
  merge is idempotent: a crash between merge and offset write replays
  one slice whose rows all no-op (at-least-once + idempotence =
  exactly-once effect, the same argument as streaming/stream_runner);
* compaction/expiry via the Iceberg maintenance procedures.

UNTESTED OFFLINE: this module imports nothing Iceberg-specific at
import time; every method raises a clear error if the session has no
Iceberg catalog. The engine's test suite runs against the emulation,
which implements the same contract.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from etl_reconciliate_spark.schemas import KEY_COLS, META_LSN


def _q(name: str) -> str:
    return ".".join(f"`{p}`" for p in name.split("."))


class IcebergTargetTable:
    """MERGE-able Iceberg table at ``catalog.db.name``."""

    def __init__(self, spark: SparkSession, name: str):
        self.spark = spark
        self.name = name
        self.offsets_name = f"{name}_offsets"

    def _check(self) -> None:
        catalog = self.name.split(".")[0]
        impl = self.spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if impl is None:
            raise RuntimeError(
                f"no Iceberg catalog '{catalog}' configured "
                f"(spark.sql.catalog.{catalog} unset) — use the parquet "
                "emulation (target.table.TargetTable) or configure the "
                "catalog per the module docstring"
            )

    # ------------------------------------------------------------- state
    def exists(self) -> bool:
        self._check()
        return self.spark.catalog.tableExists(self.name)

    def schema(self) -> T.StructType:
        self._check()
        full = self.spark.table(self.name).schema
        return T.StructType([f for f in full.fields if f.name != META_LSN])

    def committed_offsets(self) -> dict:
        self._check()
        if not self.spark.catalog.tableExists(self.offsets_name):
            return {}
        row = (
            self.spark.table(self.offsets_name)
            .orderBy(F.col("lsn_hi").desc())
            .limit(1)
            .collect()
        )
        return {"lsn_hi": row[0]["lsn_hi"]} if row else {}

    # -------------------------------------------------------------- init
    def init(self, schema: T.StructType) -> None:
        self._check()
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        # bucket partitioning on the merge key: storage-partitioned joins
        # make the MERGE's target side shuffle-free.
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {_q(self.name)} "
            f"({cols}, `{META_LSN}` BIGINT) USING iceberg "
            f"PARTITIONED BY (bucket(32, conv_id)) "
            f"TBLPROPERTIES ('write.merge.mode'='merge-on-read', "
            f"'write.update.mode'='merge-on-read', "
            f"'write.delete.mode'='merge-on-read', "
            f"'write.parquet.compression-codec'='zstd')"
        )
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {_q(self.offsets_name)} "
            f"(lsn_hi BIGINT, committed_at TIMESTAMP) USING iceberg"
        )

    # ------------------------------------------------------------- merge
    def merge_apply(self, batch: DataFrame, offsets: dict) -> dict:
        """``batch``: one row per key (max-LSN winner) with (lsn, op,
        payload...). Newer-LSN-wins MERGE; deletes are real row deletes
        (Iceberg MoR positional deletes), so no tombstone column is
        needed — the LSN high-water mark for replay safety is the
        offsets table's lsn_hi, enforced by the slice planner."""
        self._check()
        cur = {f.name for f in self.schema().fields}
        new_cols = [
            f for f in batch.schema.fields
            if f.name not in cur and f.name not in ("lsn", "op")
        ]
        if new_cols:
            add = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in new_cols
            )
            self.spark.sql(f"ALTER TABLE {_q(self.name)} ADD COLUMNS ({add})")

        payload = [
            f.name for f in self.schema().fields
            if f.name not in KEY_COLS and f.name != META_LSN
        ]
        # per-call unique view name: a fixed one would let concurrent
        # merges in the same SparkSession clobber each other's source
        view = f"_cdc_batch_{uuid.uuid4().hex[:12]}"
        batch.createOrReplaceTempView(view)
        try:
            on = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in KEY_COLS)
            set_clause = ", ".join(
                [f"t.`{c}` = s.`{c}`" for c in payload if c in batch.columns]
                + [f"t.`{META_LSN}` = s.lsn"]
            )
            ins_cols = ", ".join(
                [f"`{k}`" for k in KEY_COLS]
                + [f"`{c}`" for c in payload if c in batch.columns]
                + [f"`{META_LSN}`"]
            )
            ins_vals = ", ".join(
                [f"s.`{k}`" for k in KEY_COLS]
                + [f"s.`{c}`" for c in payload if c in batch.columns]
                + ["s.lsn"]
            )
            self.spark.sql(
                f"MERGE INTO {_q(self.name)} t USING {view} s ON {on} "
                f"WHEN MATCHED AND s.lsn > t.`{META_LSN}` AND s.op = 'D' THEN DELETE "
                f"WHEN MATCHED AND s.lsn > t.`{META_LSN}` THEN UPDATE SET {set_clause} "
                f"WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT ({ins_cols}) "
                f"VALUES ({ins_vals})"
            )
        finally:
            self.spark.catalog.dropTempView(view)
        if "lsn_hi" in offsets:
            # DataFrame write, not string-interpolated SQL
            self.spark.createDataFrame(
                [(int(offsets["lsn_hi"]),)], "lsn_hi BIGINT"
            ).withColumn("committed_at", F.current_timestamp()).writeTo(
                self.offsets_name
            ).append()
        return {"version": None, "row_count": None, "data_dir": self.name}

    # -------------------------------------------------------------- read
    def read(self) -> DataFrame:
        self._check()
        return self.spark.table(self.name).drop(META_LSN)

    # ------------------------------------------------------- maintenance
    def compact(self) -> dict:
        self._check()
        catalog = self.name.split(".")[0]
        self.spark.sql(
            f"CALL {catalog}.system.rewrite_data_files(table => '{self.name}')"
        )
        return {"version": None, "row_count": None, "data_dir": self.name,
                "n_deltas": 0}

    def expire_snapshots(self, keep_last: int = 2) -> None:
        self._check()
        catalog = self.name.split(".")[0]
        self.spark.sql(
            f"CALL {catalog}.system.expire_snapshots(table => '{self.name}', "
            f"retain_last => {keep_last})"
        )
