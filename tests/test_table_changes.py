"""Incremental CDC reads from the lake: ParquetLakeTable.table_changes.

The contract under test is the consumer loop: a reader holding snapshot
v_from applies the emitted net changes (upserts replace/insert by key,
deletes drop the key) and must land EXACTLY on snapshot v_to — across
updates, deletes, multi-writes to one key, and compaction rewrites.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from xgeo_spark.sinks.parquet_lake import ParquetLakeTable
from xgeo_spark.streaming.pipeline import KEY_COLS, TRANSCRIPT_SCHEMA


def _batch(spark, lsn0: int, texts: dict[int, str], op: str = "U"):
    rows = [
        {"lsn": lsn0 + i, "offset": lsn0 + i, "op": op, "conv_id": "c",
         "turn_idx": t, "role": "user", "text": x, "tool": None,
         "ts": dt.datetime(2026, 1, 1), "schema_version": 1}
        for i, (t, x) in enumerate(sorted(texts.items()))
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def _state(table, version=None):
    return {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in table.read(version=version).collect()
    }


def _apply_changes(state_from: dict, changes) -> dict:
    out = dict(state_from)
    for r in changes:
        k = (r["conv_id"], r["turn_idx"])
        if r["_change_type"] == "delete":
            out.pop(k, None)
        else:
            out[k] = r["text"]
    return out


def _make(spark, tmp_path) -> ParquetLakeTable:
    t = ParquetLakeTable(spark, str(tmp_path / "lake"))
    t.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=4)
    t.merge(_batch(spark, 0, {0: "a1", 1: "b1", 2: "c1"}), batch_id=0)   # v1
    t.merge(_batch(spark, 10, {0: "a2", 3: "d1"}), batch_id=1)           # v2
    t.merge(_batch(spark, 20, {1: "gone"}, op="D"), batch_id=2)          # v3
    t.merge(_batch(spark, 30, {0: "a3", 4: "e1"}), batch_id=3)           # v4
    return t


@pytest.mark.parametrize("mode", ["mor"])
def test_consumer_reaches_target_snapshot(spark, tmp_path, mode):
    t = _make(spark, tmp_path)
    for v_from in range(0, t.current_version() + 1):
        for v_to in range(v_from, t.current_version() + 1):
            changes = t.table_changes(v_from, v_to).collect()
            got = _apply_changes(_state(t, version=v_from), changes)
            assert got == _state(t, version=v_to), (mode, v_from, v_to)


def test_net_effect_and_commit_versions(spark, tmp_path):
    t = _make(spark, tmp_path)
    rows = {r["turn_idx"]: r for r in t.table_changes(0).collect()}
    # turn 0 written in v1, v2, v4 -> ONE net row, the v4 postimage
    assert rows[0]["text"] == "a3"
    assert rows[0]["_change_type"] == "upsert"
    assert rows[0]["_commit_version"] == 4
    # turn 1 inserted v1 then deleted v3 -> net delete
    assert rows[1]["_change_type"] == "delete"
    assert rows[1]["_commit_version"] == 3
    assert all(0 < r["_commit_version"] <= 4 for r in rows.values())


def test_changes_across_compaction(spark, tmp_path):
    t = _make(spark, tmp_path)
    v_before = t.current_version()
    t.compact()  # folds deltas into base, carrying old _seq values
    t.merge(_batch(spark, 40, {5: "f1"}), batch_id=4)
    # pre-compaction window still answers correctly (carried rows filtered)
    changes = t.table_changes(2).collect()
    got = _apply_changes(_state(t, version=2), changes)
    assert got == _state(t)
    # window after compaction sees only the new write, not refolded data
    post = t.table_changes(v_before + 1)
    assert {r["turn_idx"] for r in post.collect()} == {5}


def test_compaction_window_prunes_with_footer_stats(spark, tmp_path):
    """A window spanning a compaction re-references every compacted
    bucket's base under new names; footer _seq stats must drop the files
    holding only pre-window rows from the diff scan instead of rescanning
    the whole refolded base. Asserts on the actual planned file sets (spy
    on _read_files) AND that the pruned read stays correct."""
    t = _make(spark, tmp_path)          # v1..v4, all one conv "c"
    t.compact()                                 # v5: refolds, carries _seq
    v5 = t.current_version()
    t.merge(_batch(spark, 40, {5: "f1"}), batch_id=4)   # v6
    m = t.manifest()
    stats = m["file_stats"]
    assert any(s.get("seq_max") is not None for s in stats.values())

    reads: list[list[str]] = []
    orig = ParquetLakeTable._read_files

    def spy(self, files, schema):
        reads.append(list(files))
        return orig(self, files, schema)

    ParquetLakeTable._read_files = spy
    try:
        changes = t.table_changes(v5).collect()
    finally:
        ParquetLakeTable._read_files = orig
    # correctness first
    got = _apply_changes(_state(t, version=v5), changes)
    assert got == _state(t)
    # the diff scan (first read) must exclude every file whose footer
    # proves all rows are <= v5 — i.e. the compaction's refolded base
    diff_files = reads[0]
    for f in diff_files:
        s = stats.get(f) or {}
        assert s.get("seq_max") is None or s["seq_max"] > v5, (
            f"unpruned pre-window file in diff scan: {f} {s}"
        )


def test_changes_across_schema_evolution(spark, tmp_path):
    # window spans a commit that ADDS a column: changes are emitted at
    # v_to's schema, rows written before the evolution read as null
    t = ParquetLakeTable(spark, str(tmp_path / "lake_evo"))
    t.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=4)
    t.merge(_batch(spark, 0, {0: "a1", 1: "b1"}), batch_id=0)            # v1
    evolved = _batch(spark, 10, {2: "c1"}).withColumn(
        "tool_meta", F.lit("m2")
    )
    t.merge(evolved, batch_id=1)                                         # v2
    changes = {r["turn_idx"]: r for r in t.table_changes(0).collect()}
    assert "tool_meta" in t.table_changes(0).columns
    assert changes[0]["tool_meta"] is None and changes[0]["text"] == "a1"
    assert changes[2]["tool_meta"] == "m2"
    got = _apply_changes({}, changes.values())
    assert got == _state(t)


def test_empty_window_and_errors(spark, tmp_path):
    t = _make(spark, tmp_path)
    empty = t.table_changes(t.current_version(), t.current_version())
    assert empty.count() == 0
    assert "_change_type" in empty.columns
    with pytest.raises(ValueError, match="v_from"):
        t.table_changes(3, 1)
    t.expire_versions(keep_last=2)
    with pytest.raises(ValueError, match="not retained"):
        t.table_changes(0)


@pytest.mark.parametrize("mode", ["mor"])
def test_late_lower_lsn_event_emits_no_stale_change(spark, tmp_path, mode):
    """A late event with a LOWER lsn than the already-applied state loses
    LWW on read() — and must lose in the change feed too: emitting its
    postimage would hand consumers a stale value. The winner is decided
    against ALL of the key's rows at v_to, not just the in-range ones."""
    t = ParquetLakeTable(spark, str(tmp_path / f"lake_{mode}"))
    t.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=2)
    t.merge(_batch(spark, 200, {0: "new", 1: "other"}), batch_id=0)   # v1
    v1 = t.current_version()
    t.merge(_batch(spark, 100, {0: "stale"}), batch_id=1)             # v2: late
    v2 = t.current_version()

    assert _state(t)[("c", 0)] == "new"  # read() keeps the lsn-200 winner
    changes = t.table_changes(v1, v2).collect()
    keys = {(r["conv_id"], r["turn_idx"]) for r in changes}
    assert ("c", 0) not in keys, f"stale postimage emitted: {changes}"
    # and the consumer-loop contract still closes
    assert _apply_changes(_state(t, version=v1), changes) == _state(t, version=v2)


def test_late_lower_lsn_event_does_not_resurrect_delete(spark, tmp_path):
    """Delete at lsn 200 propagated; a late U at lsn 150 merges later and
    loses — the change feed must not emit an upsert for the dead key."""
    t = ParquetLakeTable(spark, str(tmp_path / "lake"))
    t.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=2)
    t.merge(_batch(spark, 0, {0: "alive", 1: "x"}), batch_id=0)        # v1
    t.merge(_batch(spark, 200, {0: "dead"}, op="D"), batch_id=1)       # v2
    v2 = t.current_version()
    t.merge(_batch(spark, 150, {0: "zombie"}), batch_id=2)             # v3: late
    v3 = t.current_version()

    assert ("c", 0) not in _state(t)  # still deleted on read()
    changes = t.table_changes(v2, v3).collect()
    ups = [r for r in changes if (r["conv_id"], r["turn_idx"]) == ("c", 0)
           and r["_change_type"] == "upsert"]
    assert not ups, f"resurrection upsert emitted: {ups}"
    assert _apply_changes(_state(t, version=v2), changes) == _state(t, version=v3)


def test_changes_across_minor_compaction(spark, tmp_path):
    """A MINOR compaction (compact_minor: raw deltas folded into a run
    file, base untouched) must be invisible to change readers, exactly
    like a major: windows spanning the minor answer the consumer loop
    correctly (run rows carry their original _seq, so pre-window rows are
    filtered), and a window strictly after it emits only the new write."""
    t = _make(spark, tmp_path)
    v_before = t.current_version()
    t.compact_minor()  # v5: deltas -> one run per bucket, base untouched
    assert t.run_depth() >= 1
    t.merge(_batch(spark, 40, {5: "f1"}), batch_id=4)  # v6

    # window opened BEFORE the minor: replaying its changes lands on HEAD
    changes = t.table_changes(2).collect()
    got = _apply_changes(_state(t, version=2), changes)
    assert got == _state(t)

    # window strictly after the minor: only the new write, none of the
    # run's re-referenced old rows
    post = t.table_changes(v_before + 1)
    assert {r["turn_idx"] for r in post.collect()} == {5}

    # and a window that STARTS at the minor's own version is also clean
    # (the minor commit itself carries no logical changes)
    assert t.table_changes(v_before, v_before + 1).count() == 0
