"""Per-batch, per-partition lineage manifest (FIXTURES.md §3).

Every applied micro-batch appends one row per input partition plus one
batch summary row to an append-only parquet log — the resumability audit
trail the north rule requires (offsets applied, rows upserted/deleted,
dedup losses). The reference has no recovery story at all (a panic loses
stream position, /root/reference/cmd/xgeo/main.go:48-50); this log plus
the checkpointed source offsets is the strict upgrade.
"""

from __future__ import annotations

import datetime as _dt
import io
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from xgeo_spark.sinks.base import MergeStats
from xgeo_spark.sinks.fsio import HadoopFS

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), True),
        T.StructField("partition_id", T.IntegerType(), True),  # -1 = batch summary
        T.StructField("offset_start", T.LongType(), True),
        T.StructField("offset_end", T.LongType(), True),
        T.StructField("rows_in", T.LongType(), True),
        T.StructField("rows_upserted", T.LongType(), True),
        T.StructField("rows_deleted", T.LongType(), True),
        T.StructField("rows_quarantined", T.LongType(), True),
        T.StructField("approx_bytes", T.LongType(), True),
        T.StructField("skipped", T.BooleanType(), True),
        T.StructField("committed_at", T.TimestampType(), True),
    ]
)


# arrow twin of LINEAGE_SCHEMA — the append path serializes on the driver
# (a lineage batch is O(partitions) rows; spinning a Spark job per commit
# cost ~0.3s/batch of pure scheduling) and uploads the parquet bytes via
# the Hadoop FS API, so the log can live on HDFS/S3A like the table.
_PA_SCHEMA = pa.schema(
    [
        ("batch_id", pa.int64()),
        ("partition_id", pa.int32()),
        ("offset_start", pa.int64()),
        ("offset_end", pa.int64()),
        ("rows_in", pa.int64()),
        ("rows_upserted", pa.int64()),
        ("rows_deleted", pa.int64()),
        ("rows_quarantined", pa.int64()),
        ("approx_bytes", pa.int64()),
        ("skipped", pa.bool_()),
        ("committed_at", pa.timestamp("us", tz="UTC")),
    ]
)


class LineageLog:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.fs = HadoopFS(spark, path)

    def append(
        self,
        stats: MergeStats,
        partition_rows: list[dict] | None = None,
        rows_quarantined: int = 0,
    ) -> None:
        now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        rows = []
        for p in partition_rows or []:
            rows.append(
                {
                    "batch_id": stats.batch_id,
                    "partition_id": int(p["partition_id"]),
                    "offset_start": p.get("offset_start"),
                    "offset_end": p.get("offset_end"),
                    "rows_in": p.get("rows_in"),
                    "rows_upserted": None,
                    "rows_deleted": None,
                    "rows_quarantined": None,
                    "approx_bytes": p.get("approx_bytes"),
                    "skipped": stats.skipped,
                    "committed_at": now,
                }
            )
        rows.append(
            {
                "batch_id": stats.batch_id,
                "partition_id": -1,
                "offset_start": None if not stats.offset_range else stats.offset_range[0],
                "offset_end": None if not stats.offset_range else stats.offset_range[1],
                "rows_in": None,
                "rows_upserted": stats.rows_upserted,
                "rows_deleted": stats.rows_deleted,
                "rows_quarantined": rows_quarantined,
                "approx_bytes": getattr(stats, "approx_bytes", None),
                "skipped": stats.skipped,
                "committed_at": now,
            }
        )
        cols = {
            name: [r[name] for r in rows] for name in _PA_SCHEMA.names
        }
        table = pa.Table.from_pydict(cols, schema=_PA_SCHEMA)
        buf = io.BytesIO()
        pq.write_table(table, buf)
        self.fs.write_bytes(
            self.fs.join(self.path, f"part-{uuid.uuid4().hex}.parquet"),
            buf.getvalue(),
        )

    def read(self) -> DataFrame:
        if not self.fs.exists(self.path):
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)
