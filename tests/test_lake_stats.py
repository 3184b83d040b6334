"""Manifest file statistics and pruned read paths (data skipping).

Covers the Iceberg-manifest-statistics analogue: footer stats recorded at
commit time, key-bucket-pruned point lookups, ts/lsn file skipping on
compacted snapshots, clustered compaction, and the correctness rule that
delta-carrying buckets are never pruned.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from xgeo_spark.sinks.parquet_lake import ParquetLakeTable
from xgeo_spark.streaming.pipeline import KEY_COLS, TRANSCRIPT_SCHEMA

JAN = dt.datetime(2026, 1, 15)
FEB = dt.datetime(2026, 2, 15)
MAR = dt.datetime(2026, 3, 15)


def _batch(spark, lsn0: int, convs: list[str], ts: dt.datetime, op: str = "U"):
    rows = [
        {"lsn": lsn0 + i, "offset": lsn0 + i, "op": op, "conv_id": c,
         "turn_idx": t, "role": "user", "text": f"{c}-{t}@{lsn0 + i}",
         "tool": None, "ts": ts, "schema_version": 1}
        for i, (c, t) in enumerate((c, t) for c in convs for t in range(3))
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


CONVS_A = [f"a{i}" for i in range(8)]
CONVS_B = [f"b{i}" for i in range(8)]


@pytest.fixture()
def table(spark, tmp_path):
    t = ParquetLakeTable(spark, str(tmp_path / "lake"))
    t.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=4)
    t.merge(_batch(spark, 0, CONVS_A, JAN), batch_id=0)
    t.merge(_batch(spark, 100, CONVS_B, FEB), batch_id=1)
    return t


def _captured_reads(monkeypatch, table):
    """Spy on _read_files: record every file list the reader plans."""
    captured: list[list[str]] = []
    orig = ParquetLakeTable._read_files

    def spy(self, files, schema):
        captured.append(list(files))
        return orig(self, files, schema)

    monkeypatch.setattr(ParquetLakeTable, "_read_files", spy)
    return captured


def _all_files(m: dict) -> set[str]:
    return {
        f
        for coll in (m["buckets"], m.get("deltas") or {})
        for fl in coll.values()
        for f in fl
    }


def test_file_stats_recorded_and_carried(table):
    m = table.manifest()
    files = _all_files(m)
    stats = m["file_stats"]
    assert files and files == set(stats)
    for s in stats.values():
        assert s["rows"] > 0
        assert s["lsn_min"] <= s["lsn_max"]
        assert s["ts_min"] <= s["ts_max"]
    # batch-0 delta files carry Jan-only ts ranges (TIMESTAMP_MICROS stats)
    jan_us = int((JAN - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    jan_files = [f for f, s in stats.items() if s["ts_max"] == jan_us]
    assert jan_files and all(s["lsn_max"] < 100 for f, s in stats.items()
                             if f in jan_files)
    # compaction rewrites stats for the new base and drops dead files' stats
    table.compact()
    m2 = table.manifest()
    assert set(m2["file_stats"]) == _all_files(m2)


def test_unreadable_footer_drops_only_that_files_stats(table, monkeypatch):
    """A footer read that fails (a truncated file) leaves THAT file without
    stats, so readers plan it unpruned; a bug in the stats conversion
    itself surfaces instead of silently making every file unprunable."""
    import os
    import posixpath

    m = table.manifest()
    good = sorted(_all_files(m))[0]
    broken = posixpath.join(posixpath.dirname(good), "truncated.parquet")
    with open(os.path.join(table.root, good), "rb") as f:
        data = f.read()
    with open(os.path.join(table.root, broken), "wb") as f:
        f.write(data[: len(data) // 2])

    stats = table._collect_file_stats({0: [good, broken]})
    assert set(stats) == {good}
    assert stats[good] == m["file_stats"][good]

    def boom(value):
        raise TypeError("stats conversion bug")

    monkeypatch.setattr(ParquetLakeTable, "_ts_us", staticmethod(boom))
    with pytest.raises(TypeError, match="stats conversion bug"):
        table._collect_file_stats({0: [good]})


def test_lookup_reads_one_bucket_and_matches_full_read(table, monkeypatch, spark):
    table.compact()
    m = table.manifest()
    captured = _captured_reads(monkeypatch, table)
    got = {(r["conv_id"], r["turn_idx"], r["text"])
           for r in table.lookup("a3").collect()}
    want = {(r["conv_id"], r["turn_idx"], r["text"])
            for r in table.read().filter("conv_id = 'a3'").collect()}
    assert got == want and len(got) == 3
    # the lookup's plan listed exactly one bucket's files; the full read all
    lookup_files = captured[0]
    per_bucket = m["buckets"]
    assert any(set(lookup_files) == set(fl) for fl in per_bucket.values())
    assert len(lookup_files) < len(_all_files(m))


def test_lookup_on_mor_deltas_reduces_to_last_writer(table):
    # overwrite one conv's turn with a higher lsn, no compaction: lookup
    # must read base+delta of that bucket and return the delta's version
    table.merge(_batch(table.spark, 500, ["a3"], MAR), batch_id=2)
    rows = {r["turn_idx"]: r["text"] for r in table.lookup("a3").collect()}
    assert rows == {0: "a3-0@500", 1: "a3-1@501", 2: "a3-2@502"}


def test_scan_prunes_files_after_clustered_compaction(table, monkeypatch):
    # cluster each bucket by ts and split files small enough that Jan and
    # Feb rows land in different base files
    table.compact(cluster_by="ts", max_rows_per_file=8)
    m = table.manifest()
    n_files = len(_all_files(m))
    captured = _captured_reads(monkeypatch, table)
    got = {(r["conv_id"], r["turn_idx"]) for r in
           table.scan(ts_from=dt.datetime(2026, 2, 1)).collect()}
    want = {(c, t) for c in CONVS_B for t in range(3)}
    assert got == want
    assert len(captured[0]) < n_files  # manifest pruned files, not just rows


def test_scan_never_prunes_delta_carrying_buckets(table, monkeypatch):
    # compact, then land a LATE OUT-OF-ORDER event for a FEB conv: lsn 50
    # is LOWER than b0's base rows (lsn 100+), so the base row must stay
    # the LWW winner. Its bucket now carries a delta — a ts-bounded scan
    # must read that bucket's base unpruned (the all-or-nothing bucket
    # rule); pruning the base file would wrongly crown the stale delta.
    table.compact(cluster_by="ts", max_rows_per_file=8)
    late = _batch(table.spark, 50, ["b0"], MAR)  # lsn 50-52 < base's 100+
    table.merge(late, batch_id=2)
    got = {(r["conv_id"], r["turn_idx"], r["text"]) for r in
           table.scan(ts_from=dt.datetime(2026, 2, 1)).collect()}
    want = {(r["conv_id"], r["turn_idx"], r["text"]) for r in
            table.read().filter("ts >= timestamp'2026-02-01'").collect()}
    assert got == want
    # the higher-lsn FEB base rows won, not the late MAR delta rows
    b0 = {r["turn_idx"]: r["text"] for r in table.lookup("b0").collect()}
    assert all(v.split("@")[1] >= "100" for v in b0.values())
    assert ("b0", 0, b0[0]) in got


def test_scan_lsn_bounds(table):
    table.compact()
    got = {r["conv_id"] for r in table.scan(lsn_from=100).collect()}
    assert got == set(CONVS_B)
    got = {r["conv_id"] for r in table.scan(lsn_to=99).collect()}
    assert got == set(CONVS_A)


def test_selective_compaction_folds_only_deep_buckets(spark, tmp_path):
    t = ParquetLakeTable(spark, str(tmp_path / "lake"))
    t.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=4)
    t.merge(_batch(spark, 0, CONVS_A + ["hot"], JAN), batch_id=0)
    for i in range(3):  # only "hot"'s bucket stacks deltas
        t.merge(_batch(spark, 100 * (i + 1), ["hot"], FEB), batch_id=i + 1)
    m = t.manifest()
    depths = {b: len(fl) for b, fl in m["deltas"].items()}
    hot = max(depths, key=depths.get)
    assert depths[hot] == 4
    before = {(r["conv_id"], r["turn_idx"]): r["text"]
              for r in t.read().collect()}
    t.compact(buckets=[int(b) for b, d in depths.items() if d >= 4])
    m2 = t.manifest()
    assert m2["deltas"][hot] == []       # the deep bucket folded
    for b, fl in m["deltas"].items():    # cold buckets untouched
        if b != hot:
            assert m2["deltas"].get(b) == fl
            assert m2["buckets"].get(b, []) == m["buckets"].get(b, [])
    after = {(r["conv_id"], r["turn_idx"]): r["text"]
             for r in t.read().collect()}
    assert after == before
    assert after[("hot", 0)] == "hot-0@300"


def test_scan_and_lookup_without_stats_still_correct(table, spark, tmp_path):
    # simulate a remote root where stats were never collected: strip them
    m = table.manifest()
    m2 = dict(m)
    m2["version"] = m["version"] + 1
    m2["file_stats"] = {}
    table._commit(m2)
    got = {r["conv_id"] for r in
           table.scan(ts_from=dt.datetime(2026, 2, 1)).collect()}
    assert got == set(CONVS_B)  # unpruned plan, exact result


def test_lookup_on_long_key_probes_right_bucket(spark, tmp_path):
    """xxhash64 hashes int and long literals differently; lookup must cast
    the probe value to the key column's type or it plans the wrong bucket
    and returns empty for an existing key."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    t = ParquetLakeTable(spark, str(tmp_path / "lake_long"))
    t.create(schema, ["user_id"], n_buckets=8)
    rows = spark.createDataFrame(
        [(i, i, "U", i, f"v{i}", dt.datetime(2026, 1, 1)) for i in range(20)],
        "lsn long, offset long, op string, user_id long, v string, ts timestamp",
    )
    t.merge(rows, batch_id=0)
    for k in (7, 13):
        got = t.lookup(k).collect()
        assert len(got) == 1 and got[0]["v"] == f"v{k}", (k, got)


def test_scan_accepts_epoch_micros_bounds(spark, table):
    """scan()'s documented int bounds are epoch MICROSECONDS; they must
    produce the same rows as the equivalent datetime bounds (previously a
    raw int literal against the timestamp column was a type error)."""
    lo = int((FEB - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    got_int = {
        (r["conv_id"], r["turn_idx"]) for r in table.scan(ts_from=lo).collect()
    }
    got_dt = {
        (r["conv_id"], r["turn_idx"]) for r in table.scan(ts_from=FEB).collect()
    }
    assert got_int == got_dt and len(got_int) > 0
