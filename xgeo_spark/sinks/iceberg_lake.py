"""Iceberg-backed lake table (active only when Iceberg jars are present).

The sandbox image ships no Iceberg runtime, so this class is exercised for
its SQL-generation logic only (unit-testable without a catalog); on a real
cluster with ``--packages org.apache.iceberg:iceberg-spark-runtime-*`` and
a configured catalog it is selected automatically by
``xgeo_spark.sinks.open_lake_table``.

Semantics mirror ParquetLakeTable exactly:
- key-partitioned MERGE INTO with LWW guard (``s._lsn > t._lsn``),
- tombstoned deletes (``_deleted`` flag, so late lower-lsn events can't
  resurrect them),
- idempotency via the ``xgeo.last_batch_id`` table property
  (:data:`BATCH_ID_PROP`), written by ``merge`` and read back by
  ``last_batch_id`` — ONE shared constant, so writer and reader cannot
  drift apart,
- schema evolution via ALTER TABLE ADD COLUMN / ALTER COLUMN TYPE.

Exactly-once under crash-replay: the MERGE and the batch-id property set
are two separate Iceberg commits, so a crash between them replays the
batch. Replay CONVERGES rather than duplicating: every previously-inserted
row is now MATCHED with ``s._lsn == t._lsn``, which fails the strictly-
greater LWW guard on both the update and the delete branch (no-op), and
no longer reaches WHEN NOT MATCHED (no duplicate insert). The property
set then lands and subsequent replays skip outright. The same strictly-
greater guard is what the parquet sink's replay tests
(tests/test_cdc_replay.py::test_idempotent_remerge) verify end-to-end;
tests/test_iceberg_sql.py verifies the SQL this class emits encodes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from xgeo_spark.operators.dedup import lww_dedup_agg
from xgeo_spark.plans.schema_evolution import diff_schemas
from xgeo_spark.sinks.base import LakeTable, MergeStats

# The single source of truth for the idempotency stamp. merge() writes it
# with SET TBLPROPERTIES; last_batch_id() reads it with SHOW TBLPROPERTIES.
BATCH_ID_PROP = "xgeo.last_batch_id"


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def merge_sql(table: str, key_cols: list[str], payload_cols: list[str]) -> str:
    """The MERGE INTO statement (north-star shape) — pure function, tested."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    sets = ", ".join(f"t.{c} = s.{c}" for c in payload_cols)
    ins_cols = ", ".join(key_cols + payload_cols + ["_lsn", "_deleted"])
    ins_vals = ", ".join(f"s.{c}" for c in key_cols + payload_cols) + ", s._lsn, s._deleted"
    return (
        f"MERGE INTO {table} t USING _xgeo_updates s ON {on} "
        f"WHEN MATCHED AND s._lsn > t._lsn AND s._deleted "
        f"THEN UPDATE SET t._deleted = true, t._lsn = s._lsn "
        f"WHEN MATCHED AND s._lsn > t._lsn "
        f"THEN UPDATE SET {sets}, t._lsn = s._lsn, t._deleted = false "
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def stamp_batch_sql(table: str, batch_id: int) -> str:
    """The idempotency stamp — writes :data:`BATCH_ID_PROP`, the exact
    property ``last_batch_id``/:func:`parse_batch_id` reads back."""
    return (
        f"ALTER TABLE {table} SET TBLPROPERTIES ('{BATCH_ID_PROP}'='{int(batch_id)}')"
    )


def parse_batch_id(props: dict[str, str]) -> int | None:
    """Extract the last committed batch id from a table-properties map."""
    v = props.get(BATCH_ID_PROP)
    if v is None:
        return None
    try:
        return int(v)
    except (TypeError, ValueError):
        return None


def alter_sql(table: str, diff) -> list[str]:
    stmts = [
        f"ALTER TABLE {table} ADD COLUMN {f.name} {f.dataType.simpleString()}"
        for f in diff.added
    ]
    stmts += [
        f"ALTER TABLE {table} ALTER COLUMN {name} TYPE {dst.simpleString()}"
        for name, _, dst in diff.widened
    ]
    return stmts


class IcebergLakeTable(LakeTable):
    def __init__(self, spark: SparkSession, identifier: str):
        self.spark = spark
        self.identifier = identifier

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.identifier)

    @property
    def user_schema(self) -> T.StructType:
        full = self.spark.table(self.identifier).schema
        return T.StructType([f for f in full.fields if not f.name.startswith("_")])

    def create(self, schema: T.StructType, key_cols: list[str], n_buckets: int = 64) -> None:
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
        self.spark.sql(
            f"CREATE TABLE {self.identifier} ({cols}, _lsn bigint, _deleted boolean) "
            f"USING iceberg PARTITIONED BY (bucket({n_buckets}, {key_cols[0]})) "
            f"TBLPROPERTIES ('write.merge.mode'='merge-on-read', "
            f"'xgeo.key_cols'='{','.join(key_cols)}')"
        )
        self._key_cols = key_cols

    def _key_cols_of(self) -> list[str]:
        props = {
            r["key"]: r["value"]
            for r in self.spark.sql(f"SHOW TBLPROPERTIES {self.identifier}").collect()
        }
        return props["xgeo.key_cols"].split(",")

    def last_batch_id(self) -> int | None:
        props = {
            r["key"]: r["value"]
            for r in self.spark.sql(f"SHOW TBLPROPERTIES {self.identifier}").collect()
        }
        return parse_batch_id(props)

    def read(self, include_system: bool = False) -> DataFrame:
        df = self.spark.table(self.identifier)
        if include_system:
            return df
        from pyspark.sql import functions as F

        return df.filter(~F.col("_deleted")).drop("_lsn", "_deleted")

    def merge(
        self,
        updates: DataFrame,
        batch_id: int | None = None,
        offset_range: tuple[int, int] | None = None,
        post_write_stats=None,
        **_hints,
    ) -> MergeStats:
        last = self.last_batch_id()
        if batch_id is not None and last is not None and batch_id <= last:
            return MergeStats(batch_id=batch_id, skipped=True)
        key_cols = self._key_cols_of()

        payload_schema = T.StructType(
            [
                f for f in updates.schema.fields
                if f.name not in ("op", "lsn", "offset", "schema_version")
            ]
        )
        diff = diff_schemas(self.user_schema, payload_schema)
        for stmt in alter_sql(self.identifier, diff):
            self.spark.sql(stmt)

        from pyspark.sql import functions as F

        deduped = lww_dedup_agg(updates, key_cols, "lsn", "ts")
        user_cols = [f.name for f in self.user_schema.fields]
        shaped = deduped.select(
            *[
                (F.col(c) if c in deduped.columns else F.lit(None)).alias(c)
                for c in key_cols + [c for c in user_cols if c not in key_cols]
            ],
            F.col("lsn").alias("_lsn"),
            (F.col("op") == "D").alias("_deleted"),
        )
        shaped.createOrReplaceTempView("_xgeo_updates")
        payload_cols = [c for c in user_cols if c not in key_cols]
        self.spark.sql(merge_sql(self.identifier, key_cols, payload_cols))
        rows_in = deletes_in = 0
        if post_write_stats is not None:
            # same contract as the parquet sink: the deferred provider (an
            # Observation riding the merge scan) is queried after the MERGE
            # action, before the idempotency stamp
            observed = post_write_stats() or {}
            if offset_range is None and observed.get("offset_start") is not None:
                offset_range = (
                    int(observed["offset_start"]), int(observed["offset_end"])
                )
            rows_in = int(observed.get("rows_in") or 0)
            deletes_in = int(observed.get("deletes_in") or 0)
        if batch_id is not None:
            self.spark.sql(stamp_batch_sql(self.identifier, batch_id))
        return MergeStats(
            batch_id=batch_id,
            offset_range=offset_range,
            rows_upserted=rows_in - deletes_in,
            rows_deleted=deletes_in,
        )
