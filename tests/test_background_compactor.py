"""Concurrent maintenance writer: background MAJOR compaction racing the
ingest writer on one table.

Round-4 landed detect-and-retry for concurrent commits; this suite covers
the round-5 upgrade that makes a background compactor CHEAP to race:
a compaction that loses the manifest swap re-bases at the METADATA level
(the fold of a file set stays valid under any manifest that still
references that set — ingest only appends deltas), falling back to a full
recompute only when the winner invalidated the fold. Plus the end-to-end
shape: ingest thread + compactor thread on one lake, exact LWW oracle at
the end, ingest never majoring inline.
"""

from __future__ import annotations

import datetime as dt
import threading
import types

import pandas as pd

from xgeo_spark.sinks.parquet_lake import ParquetLakeTable
from xgeo_spark.streaming.compactor import BackgroundCompactor
from xgeo_spark.streaming.pipeline import (
    KEY_COLS,
    TRANSCRIPT_SCHEMA,
    CDCIngestPipeline,
    IngestConfig,
)


def _batch(spark, lsn0: int, convs: list[str], texts: dict[int, str]):
    rows = [
        {"lsn": lsn0 + i * len(texts) + j, "offset": lsn0 + i * len(texts) + j,
         "op": "U", "conv_id": c, "turn_idx": t, "role": "user", "text": x,
         "tool": None, "ts": dt.datetime(2026, 1, 1), "schema_version": 1}
        for i, c in enumerate(convs)
        for j, (t, x) in enumerate(sorted(texts.items()))
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def _count_write_buckets(table):
    """Wrap _write_buckets on ONE instance to count Spark-side rewrites."""
    counter = {"n": 0}
    orig = table._write_buckets

    def counting(self, *a, **kw):
        counter["n"] += 1
        return orig(*a, **kw)

    table._write_buckets = types.MethodType(counting, table)
    return counter


def test_compaction_rebase_is_metadata_only(spark, tmp_path):
    """A major that loses its commit race to a plain ingest APPEND must
    rebase without re-running the fold's Spark job, and the winner's
    late delta must stay live (override the compacted base by LWW)."""
    root = str(tmp_path / "lake")
    a = ParquetLakeTable(spark, root)
    a.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=2)
    convs = [f"c{i}" for i in range(6)]
    for k in range(3):  # stack 3 delta generations
        a.merge(_batch(spark, 100 * (k + 1), convs, {0: f"v{k}"}), batch_id=k)

    b = ParquetLakeTable(spark, root)
    writes = _count_write_buckets(a)

    orig_commit = ParquetLakeTable._commit
    state = {"injected": False}

    def racing_commit(self, manifest):
        if not state["injected"] and manifest.get("commits", [{}])[-1].get(
            "compaction"
        ):
            state["injected"] = True
            # the ingest writer wins this version with a fresh append
            b.merge(_batch(spark, 999, ["c0"], {0: "late-wins"}), batch_id=3)
        return orig_commit(self, manifest)

    a._commit = types.MethodType(racing_commit, a)
    stats = a.compact(max_commit_retries=5)
    assert not stats.skipped

    fresh = ParquetLakeTable(spark, root)
    got = {(r["conv_id"], r["turn_idx"]): r["text"]
           for r in fresh.read().collect()}
    expect = {(c, 0): "v2" for c in convs}
    expect[("c0", 0)] = "late-wins"  # lsn 999 beats the folded 302
    assert got == expect
    # metadata-only: the fold's ONE bucket write, no recompute
    assert writes["n"] == 1
    # the winner's commit is in the history the rebase carried forward
    bids = [c.get("batch_id") for c in fresh.manifest()["commits"]]
    assert 3 in bids and fresh.manifest()["last_batch_id"] == 3


def test_compaction_conflict_falls_back_to_recompute(spark, tmp_path):
    """When the winner FOLDED THE SAME deltas (an inline minor racing the
    background major), the metadata rebase is invalid — the compactor must
    recompute from the winner's manifest and still land a correct table."""
    root = str(tmp_path / "lake")
    a = ParquetLakeTable(spark, root)
    a.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=2)
    convs = [f"c{i}" for i in range(6)]
    for k in range(3):
        a.merge(_batch(spark, 100 * (k + 1), convs, {0: f"v{k}"}), batch_id=k)

    b = ParquetLakeTable(spark, root)
    writes = _count_write_buckets(a)

    orig_commit = ParquetLakeTable._commit
    state = {"injected": False}

    def racing_commit(self, manifest):
        if not state["injected"] and manifest.get("commits", [{}])[-1].get(
            "compaction"
        ):
            state["injected"] = True
            b.compact_minor()  # folds the same raw deltas first
        return orig_commit(self, manifest)

    a._commit = types.MethodType(racing_commit, a)
    a.compact(max_commit_retries=5)

    fresh = ParquetLakeTable(spark, root)
    got = {(r["conv_id"], r["turn_idx"]): r["text"]
           for r in fresh.read().collect()}
    assert got == {(c, 0): "v2" for c in convs}
    # first attempt's write + the recompute's write
    assert writes["n"] == 2
    # the recompute folded everything: no delta files left
    assert fresh.delta_depth() == 0


def test_ingest_and_compactor_race_one_table(spark, tmp_path):
    """End-to-end: a background_major pipeline replays a real change feed
    while a BackgroundCompactor polls and majors concurrently. The final
    table must exactly equal the LWW oracle, ingest must never have
    majored inline (no base rewrite in any ingest-thread commit), and the
    compactor must have landed at least one major."""
    from xgeo_spark.fixtures.generator import (
        ChangeStreamConfig,
        generate_change_events,
        lww_oracle,
        write_change_stream,
    )

    cfg = ChangeStreamConfig(n_events=24_000, n_convs=120, seed=7, n_files=24)
    feed = str(tmp_path / "feed")
    write_change_stream(feed, cfg)

    table = ParquetLakeTable(spark, str(tmp_path / "lake"))
    pipe = CDCIngestPipeline(
        spark, feed, table,
        config=IngestConfig(
            n_buckets=8, lineage=False, compact_threshold=2,
            background_major=True, major_every=2,
        ),
    )
    compactor = BackgroundCompactor(
        ParquetLakeTable(spark, str(tmp_path / "lake")),  # own instance
        major_every=2, poll_seconds=0.05,
    )
    errs: list[BaseException] = []

    def ingest():
        try:
            pipe.run_batch_replay(files_per_batch=1)
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errs.append(e)

    t = threading.Thread(target=ingest)
    with compactor:
        t.start()
        t.join()
    if errs:
        raise errs[0]

    got = table.read().orderBy("conv_id", "turn_idx").toPandas()
    exp = lww_oracle(generate_change_events(cfg))
    assert len(got) == len(exp)
    assert got["text"].fillna("∅").tolist() == exp["text"].fillna("∅").tolist()
    assert compactor.stats.majors >= 1
    # drain pass bounded the read amplification at shutdown
    assert table.run_depth() <= 2


def test_drain_runs_in_maintenance_pool_and_restores_callers(spark, tmp_path):
    """stop(drain=True) folds in the caller's thread: its jobs must ride
    the "maintenance" scheduler pool like the loop's, and the caller's own
    pool must be back in place afterwards."""
    table = ParquetLakeTable(spark, str(tmp_path / "lake"))
    table.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=2)
    table.merge(_batch(spark, 100, ["c0", "c1"], {0: "v0"}), batch_id=0)
    table.compact_minor()  # one run per bucket: ripe at major_every=1
    seen = []
    orig = table.compact

    def recording(*a, **kw):
        seen.append(spark.sparkContext.getLocalProperty("spark.scheduler.pool"))
        return orig(*a, **kw)

    table.compact = recording
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", "ingest")
    try:
        stats = BackgroundCompactor(table, major_every=1).stop(drain=True)
        assert seen == ["maintenance"]
        assert stats.majors == 1
        assert sc.getLocalProperty("spark.scheduler.pool") == "ingest"
    finally:
        sc.setLocalProperty("spark.scheduler.pool", prev)
    assert table.run_depth() == 0
