"""Bucket-count evolution: ParquetLakeTable.rebucket."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from xgeo_spark.sinks.parquet_lake import ParquetLakeTable
from xgeo_spark.streaming.pipeline import KEY_COLS, TRANSCRIPT_SCHEMA


def _batch(spark, lsn0: int, convs: list[str], op: str = "U"):
    rows = [
        {"lsn": lsn0 + i, "offset": lsn0 + i, "op": op, "conv_id": c,
         "turn_idx": t, "role": "user", "text": f"{c}-{t}@{lsn0 + i}",
         "tool": None, "ts": dt.datetime(2026, 1, 1), "schema_version": 1}
        for i, (c, t) in enumerate((c, t) for c in convs for t in range(2))
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def _state(table):
    return {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in table.read().collect()
    }


@pytest.fixture()
def table(spark, tmp_path):
    t = ParquetLakeTable(spark, str(tmp_path / "lake"))
    t.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=4)
    t.merge(_batch(spark, 0, [f"c{i}" for i in range(10)]), batch_id=0)
    t.merge(_batch(spark, 100, ["c3", "c7"]), batch_id=1)          # updates
    t.merge(_batch(spark, 200, ["c9"], op="D"), batch_id=2)        # delete
    return t


def test_rebucket_preserves_state_and_layout_invariants(table):
    before = _state(table)
    stats = table.rebucket(16)
    m = table.manifest()
    assert m["n_buckets"] == 16
    assert not any((m.get("deltas") or {}).values())
    assert _state(table) == before
    assert stats.buckets_touched == len(m["buckets"]) <= 16
    # every row sits in the bucket the NEW layout's lookup will probe
    for conv in ("c0", "c3", "c9"):
        got = {r["turn_idx"]: r["text"] for r in table.lookup(conv).collect()}
        want = {t: x for (c, t), x in before.items() if c == conv}
        assert got == want
    # stats follow the rewrite: exactly the referenced files
    assert set(m["file_stats"]) == {
        f for fl in m["buckets"].values() for f in fl
    }
    assert m["commits"][-1]["rebucket"] == {"from": 4, "to": 16}


def test_rebucket_emits_no_spurious_changes(table):
    v_before = table.current_version()
    table.rebucket(8)
    changes = table.table_changes(v_before).collect()
    assert changes == []


def test_rebucket_keeps_tombstone_protection(table, spark):
    table.rebucket(8)
    # a late lower-lsn update for the deleted conv must NOT resurrect it
    table.merge(_batch(spark, 150, ["c9"]), batch_id=3)
    assert all(c != "c9" for (c, _t) in _state(table))


def test_rebucket_noop_and_validation(table):
    assert table.rebucket(4).skipped
    with pytest.raises(ValueError):
        table.rebucket(0)


def test_time_travel_across_rebucket(table):
    v = table.current_version()
    before = _state(table)
    table.rebucket(16)
    old = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in table.read(version=v).collect()
    }
    assert old == before
