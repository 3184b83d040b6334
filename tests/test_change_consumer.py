"""Downstream CDC propagation: ChangeFeedConsumer over table_changes.

Contract: a downstream table fed ONLY by the consumer loop converges to
the upstream table's state after every poll — across updates, deletes,
multi-commit ranges, compaction-only commits, crash-replay (apply without
checkpoint), and mid-stream schema evolution.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from xgeo_spark.sinks.parquet_lake import ParquetLakeTable
from xgeo_spark.streaming.consumer import ChangeFeedConsumer
from xgeo_spark.streaming.pipeline import KEY_COLS, TRANSCRIPT_SCHEMA


def _batch(spark, lsn0: int, texts: dict[int, str], op: str = "U", extra=None):
    rows = [
        {"lsn": lsn0 + i, "offset": lsn0 + i, "op": op, "conv_id": "c",
         "turn_idx": t, "role": "user", "text": x, "tool": None,
         "ts": dt.datetime(2026, 1, 1), "schema_version": 1,
         **(extra or {})}
        for i, (t, x) in enumerate(sorted(texts.items()))
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def _state(table):
    return {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in table.read().collect()
    }


@pytest.fixture()
def rig(spark, tmp_path):
    up = ParquetLakeTable(spark, str(tmp_path / "up"))
    up.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=4)
    down = ParquetLakeTable(spark, str(tmp_path / "down"))
    consumer = ChangeFeedConsumer(up, str(tmp_path / "ckpt"))
    return up, down, consumer


def test_propagate_converges_per_poll(rig, spark):
    up, down, consumer = rig
    up.merge(_batch(spark, 0, {0: "a", 1: "b"}), batch_id=0)
    consumer.propagate(down)
    assert _state(down) == _state(up)

    up.merge(_batch(spark, 10, {0: "a2"}), batch_id=1)          # update
    up.merge(_batch(spark, 20, {1: "x"}, op="D"), batch_id=2)   # delete
    consumer.propagate(down)  # one poll covering BOTH commits
    assert _state(down) == _state(up) == {("c", 0): "a2"}


def test_caught_up_poll_is_none(rig, spark):
    up, down, consumer = rig
    up.merge(_batch(spark, 0, {0: "a"}), batch_id=0)
    assert consumer.propagate(down) is not None
    assert consumer.poll() is None
    assert consumer.propagate(down) is None


def test_crash_replay_is_exactly_once(rig, spark, tmp_path):
    up, down, consumer = rig
    up.merge(_batch(spark, 0, {0: "a", 1: "b"}), batch_id=0)
    consumer.propagate(down)
    up.merge(_batch(spark, 10, {0: "a2"}), batch_id=1)

    # crash AFTER the downstream merge, BEFORE the checkpoint: apply the
    # polled range by hand and skip commit()
    changes, v_from, v_to = consumer.poll()
    from pyspark.sql import functions as F
    updates = changes.select(
        *[c for c in changes.columns if c not in ("_change_type", "_commit_version")],
        F.when(F.col("_change_type") == "delete", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col("_commit_version").cast("long").alias("lsn"),
    )
    down.merge(updates, batch_id=v_to)
    down_version_after_crash = down.current_version()

    # a FRESH consumer on the same checkpoint dir replays the same range;
    # the downstream batch_id idempotency makes it a no-op
    consumer2 = ChangeFeedConsumer(up, str(tmp_path / "ckpt"))
    assert consumer2.last_consumed() == v_from
    stats = consumer2.propagate(down)
    assert stats.skipped
    assert down.current_version() == down_version_after_crash
    assert _state(down) == _state(up)
    assert consumer2.poll() is None  # checkpoint advanced despite the skip


def test_compaction_only_commit_propagates_cleanly(rig, spark):
    up, down, consumer = rig
    up.merge(_batch(spark, 0, {0: "a", 1: "b"}), batch_id=0)
    up.merge(_batch(spark, 10, {0: "a2"}), batch_id=1)
    consumer.propagate(down)
    up.compact()  # no net data change
    consumer.propagate(down)
    assert consumer.poll() is None
    assert _state(down) == _state(up)


def test_schema_evolution_flows_downstream(rig, spark):
    up, down, consumer = rig
    up.merge(_batch(spark, 0, {0: "a"}), batch_id=0)
    consumer.propagate(down)
    assert "tool_meta" not in [f.name for f in down.user_schema.fields]
    up.merge(
        _batch(spark, 10, {1: "b"}, extra={"tool_meta": '{"k":1}'}),
        batch_id=1,
    )
    consumer.propagate(down)
    assert "tool_meta" in [f.name for f in down.user_schema.fields]
    got = {r["turn_idx"]: (r["text"], r["tool_meta"]) for r in down.read().collect()}
    assert got == {0: ("a", None), 1: ("b", '{"k":1}')}
