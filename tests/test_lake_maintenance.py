"""Time travel, commit history, and snapshot expiry on the parquet lake."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pytest

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


@pytest.fixture()
def table(spark, tmp_path):
    t = ParquetLakeTable(spark, str(tmp_path / "lake"))
    t.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=4)
    t.merge(_batch(spark, 0, {0: "v1-a", 1: "v1-b"}), batch_id=0)
    t.merge(_batch(spark, 10, {0: "v2-a"}), batch_id=1)
    t.merge(_batch(spark, 20, {2: "v3-c"}), batch_id=2)
    return t


def test_time_travel_reads(table):
    assert table.current_version() == 3
    now = {r["turn_idx"]: r["text"] for r in table.read().collect()}
    assert now == {0: "v2-a", 1: "v1-b", 2: "v3-c"}
    v1 = {r["turn_idx"]: r["text"] for r in table.read(version=1).collect()}
    assert v1 == {0: "v1-a", 1: "v1-b"}
    v2 = {r["turn_idx"]: r["text"] for r in table.read(version=2).collect()}
    assert v2 == {0: "v2-a", 1: "v1-b"}


def test_history(table):
    h = table.history()
    assert [c["batch_id"] for c in h] == [0, 1, 2]
    assert all("buckets_rewritten" in c for c in h)


def test_expire_versions(table):
    res = table.expire_versions(keep_last=2)
    assert res["versions_expired"] == [0, 1]
    assert set(res["versions_kept"]) == {2, 3}
    # current state unchanged and fully readable after file GC
    now = {r["turn_idx"]: r["text"] for r in table.read().collect()}
    assert now == {0: "v2-a", 1: "v1-b", 2: "v3-c"}
    # retained old version still time-travelable
    assert table.read(version=2).count() == 2
    # expired version gone
    with pytest.raises(ValueError, match="not retained"):
        table.read(version=1)
    # expiring again is a no-op
    assert table.expire_versions(keep_last=2)["data_files_removed"] == 0


def test_compact_then_expire_removes_orphan_files(table, spark):
    """Compaction folds deltas into a fresh base; expiry then GCs the
    now-unreferenced delta generations."""
    before_depth = table.delta_depth()
    assert before_depth >= 1  # mor table with stacked deltas
    stats = table.compact()
    assert not stats.skipped
    assert table.delta_depth() == 0
    now = {r["turn_idx"]: r["text"] for r in table.read().collect()}
    assert now == {0: "v2-a", 1: "v1-b", 2: "v3-c"}

    root = table.root
    before = sum(len(fs) for _, _, fs in os.walk(os.path.join(root, "data")))
    table.expire_versions(keep_last=1)
    after = sum(len(fs) for _, _, fs in os.walk(os.path.join(root, "data")))
    assert after < before
    now2 = {r["turn_idx"]: r["text"] for r in table.read().collect()}
    assert now2 == {0: "v2-a", 1: "v1-b", 2: "v3-c"}
    # compacting an already-compacted table is a no-op
    assert table.compact().skipped


def test_copy_on_write_manifest_reads_and_merges_as_mor(table, spark):
    """A manifest written by an older copy-on-write table ("mode": "cow",
    base files only, an empty deltas map) reads as-is, and a merge on top
    of it appends a delta like on any other table."""
    table.compact()
    m = table.manifest()
    table._commit({**m, "version": m["version"] + 1, "mode": "cow",
                   "deltas": {}})
    v_cow = table.current_version()
    assert {r["turn_idx"]: r["text"] for r in table.read().collect()} == {
        0: "v2-a", 1: "v1-b", 2: "v3-c"}
    table.merge(_batch(spark, 30, {1: "v4-b"}), batch_id=3)
    assert table.delta_depth() == 1
    assert table.manifest()["buckets"] == m["buckets"]  # base untouched
    now = {r["turn_idx"]: r["text"] for r in table.read().collect()}
    assert now == {0: "v2-a", 1: "v4-b", 2: "v3-c"}
    assert {r["turn_idx"]: r["text"] for r in table.lookup("c").collect()} == now
    changes = table.table_changes(v_cow).collect()
    assert [(r["turn_idx"], r["text"]) for r in changes] == [(1, "v4-b")]


def _executed_merge_exchanges(spark) -> list[str]:
    """Descriptions of the Exchange nodes in the last executed LWW merge
    write (the execution whose plan holds a ``max_by`` aggregate and a
    file write), read from Spark's SQL status store."""
    ss = spark._jsparkSession.sharedState().statusStore()
    execs = ss.executionsList()
    for k in range(execs.size() - 1, -1, -1):
        g = ss.planGraph(execs.apply(k).executionId())
        nodes = [g.allNodes().apply(i) for i in range(g.allNodes().size())]
        if any("max_by" in n.desc() for n in nodes) and any(
            n.name() == "WriteFiles" for n in nodes
        ):
            return [n.desc() for n in nodes if n.name() == "Exchange"]
    raise AssertionError("no merge execution found")


def test_merge_plan_has_single_shuffle(spark, tmp_path):
    """Regression guard on the scale property the merge is built around:
    bucketing + LWW dedup grouped on (_bucket, key...) produce ONE exchange
    (the repartition satisfies the aggregate's clustering), so the batch is
    moved across the cluster exactly once per merge. The exchange is as
    wide as the session's slots (8 here), not the table's 32 buckets."""
    import re

    t = ParquetLakeTable(spark, str(tmp_path / "lake"))
    t.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=32)
    t.merge(_batch(spark, 0, {i: f"t{i}" for i in range(5)}), batch_id=0)
    exchanges = _executed_merge_exchanges(spark)
    n_exchanges = len(exchanges)
    assert n_exchanges == 1, f"expected 1 exchange, got {n_exchanges}: {exchanges}"
    assert re.search(r"hashpartitioning\(_bucket#\d+, 8\)", exchanges[0]), exchanges


def test_concurrent_writer_conflict_detected(spark, tmp_path):
    """Optimistic-concurrency guard: a writer that computed its commit from
    a stale manifest (another writer committed meanwhile) must raise
    CommitConflictError and must NOT clobber the winner's manifest or
    table state — the Iceberg commit model."""
    from unittest import mock

    from xgeo_spark.sinks.parquet_lake import CommitConflictError

    root = str(tmp_path / "lake")
    a = ParquetLakeTable(spark, root)
    a.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=4)
    a.merge(_batch(spark, 0, {0: "base"}), batch_id=0)

    b = ParquetLakeTable(spark, root)
    stale = b.manifest()  # b's view before a's next commit
    a.merge(_batch(spark, 10, {0: "winner"}), batch_id=1)

    # a PERMANENTLY stale manifest view (mocked) exhausts the optimistic
    # retries and surfaces the conflict; max_commit_retries=1 keeps the
    # doomed re-merge loop short
    with mock.patch.object(b, "manifest", return_value=stale):
        with pytest.raises(CommitConflictError):
            b.merge(_batch(spark, 20, {0: "loser"}), batch_id=1,
                    max_commit_retries=1)

    # winner's state intact, loser's commit absent
    assert a.current_version() == 2
    got = {r["turn_idx"]: r["text"] for r in a.read().collect()}
    assert got == {0: "winner"}
    # the losing rename left no manifest for its attempted version beyond
    # the winner's, and no stray tmp files
    names = sorted(os.listdir(os.path.join(root, "_versions")))
    assert not [n for n in names if ".tmp." in n], names
    # the loser's attempt-unique data dir was cleaned up: every remaining
    # data dir is referenced by some committed manifest
    referenced = set()
    for v in range(a.current_version() + 1):
        mv = a._load_manifest(v)
        for coll in (mv["buckets"], mv.get("deltas") or {}):
            for fl in coll.values():
                referenced.update(f.split("/")[1] for f in fl)
    on_disk = set(os.listdir(os.path.join(root, "data")))
    assert on_disk <= referenced, (on_disk, referenced)


# ---- round-3: two-level (minor/major) compaction ----------------------------


def test_compact_minor_folds_raw_into_run_without_touching_base(table, spark):
    """compact_minor collapses the raw delta stack into one RUN file per
    touched bucket, leaves every base file byte-identical in the manifest,
    and the read stays correct."""
    m0 = table.manifest()
    before = table.read().orderBy("conv_id", "turn_idx").toPandas()
    assert table.raw_delta_depth() >= 2 and table.run_depth() == 0
    stats = table.compact_minor()
    assert not stats.skipped
    m1 = table.manifest()
    assert m1["buckets"] == m0["buckets"]  # base untouched
    assert m1["run_files"], m1
    runs = set(m1["run_files"])
    for fl in m1["deltas"].values():
        for f in fl:
            assert f in runs  # every remaining delta entry is a run
    assert table.raw_delta_depth() == 0 and table.run_depth() >= 1
    assert m1["commits"][-1]["compaction"] and m1["commits"][-1]["minor"]
    after = table.read().orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(before, after)
    # a second minor with nothing raw is a no-op (runs are not re-folded)
    assert table.compact_minor().skipped


def test_major_compact_clears_runs(table):
    table.compact_minor()
    table.merge(_batch(spark=table.spark, lsn0=30, texts={0: "v4-a"}), batch_id=3)
    assert table.run_depth() == 1 and table.raw_delta_depth() == 1
    table.compact()  # major folds base + runs + raw
    m = table.manifest()
    assert m.get("run_files") == []
    assert all(not fl for fl in m["deltas"].values())
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in table.read().collect()
    }
    assert got[("c", 0)] == "v4-a" and got[("c", 2)] == "v3-c"


def test_minor_major_cadence_matches_oracle(spark, tmp_path):
    """Full replay with the two-level cadence ON (threshold 2, major every
    2 runs): the final table equals the LWW oracle AND the commit log
    shows both minor and major compactions actually fired."""
    from xgeo_spark.fixtures.generator import (
        ChangeStreamConfig,
        generate_change_events,
        lww_oracle,
        write_change_stream_parquet,
    )
    from xgeo_spark.streaming.pipeline import CDCIngestPipeline, IngestConfig

    cfg = ChangeStreamConfig(n_events=8000, n_convs=80, seed=31, n_files=12)
    feed = str(tmp_path / "feed")
    write_change_stream_parquet(feed, cfg)
    t = ParquetLakeTable(spark, str(tmp_path / "lake"))
    pipe = CDCIngestPipeline(
        spark, feed, t,
        config=IngestConfig(n_buckets=8, lineage=False, compact_threshold=2,
                            major_every=2),
    )
    pipe.run_batch_replay(files_per_batch=1)
    kinds = {
        ("minor" if c.get("minor") else "major")
        for c in t.history() if c.get("compaction")
    }
    assert kinds == {"minor", "major"}, t.history()
    got = t.read().orderBy("conv_id", "turn_idx").toPandas().fillna("∅")
    oracle = lww_oracle(generate_change_events(cfg))
    assert got["text"].tolist() == oracle["text"].fillna("∅").tolist()
    assert got["role"].tolist() == oracle["role"].fillna("∅").tolist()


def test_expire_versions_keeps_run_files(table, spark):
    table.compact_minor()
    table.merge(_batch(spark, 40, {1: "v5-b"}), batch_id=4)
    before = table.read().orderBy("conv_id", "turn_idx").toPandas()
    table.expire_versions(keep_last=1)
    after = table.read().orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(before, after)

# ---- round-4: per-bucket compaction triggers + sharded majors ----------------


def _batch_conv(spark, lsn0: int, conv: str, texts: dict[int, str]):
    rows = [
        {"lsn": lsn0 + i, "offset": lsn0 + i, "op": "U", "conv_id": conv,
         "turn_idx": t, "role": "user", "text": x, "tool": None,
         "ts": dt.datetime(2026, 1, 1), "schema_version": 1}
        for i, (t, x) in enumerate(sorted(texts.items()))
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def _conv_per_bucket(spark, n_buckets: int) -> dict[int, str]:
    """One conv_id per storage bucket, discovered through the engine's own
    bucket expression (the mapping is hash-defined, not assumable)."""
    from xgeo_spark.sinks.parquet_lake import _bucket_expr

    cands = spark.createDataFrame(
        pd.DataFrame({"conv_id": [f"conv{i}" for i in range(64)]})
    )
    out: dict[int, str] = {}
    for r in cands.withColumn("b", _bucket_expr("conv_id", n_buckets)).collect():
        out.setdefault(int(r["b"]), r["conv_id"])
    assert len(out) == n_buckets
    return out


def _pipe_for(spark, tmp_path, table, **cfg_kwargs):
    from xgeo_spark.streaming.pipeline import CDCIngestPipeline, IngestConfig

    feed = tmp_path / "feed_trigger"
    feed.mkdir(exist_ok=True)
    return CDCIngestPipeline(
        spark, str(feed), table,
        config=IngestConfig(lineage=False, **cfg_kwargs),
    )


def test_per_bucket_trigger_cold_run_does_not_force_major(spark, tmp_path):
    """The ADVICE pathology: bucket Y parked at major_every-1 runs (but no
    raw deltas) must not turn bucket X's first threshold-crossing into a
    MAJOR — X has banked no runs of its own, so it gets a minor; Y is not
    touched at all."""
    from xgeo_spark.sinks.base import MergeStats

    t = ParquetLakeTable(spark, str(tmp_path / "lake"))
    t.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=4)
    convs = _conv_per_bucket(spark, 4)
    bx, by = 0, 1
    # park Y at one run, zero raws
    t.merge(_batch_conv(spark, 0, convs[by], {0: "y0"}), batch_id=0)
    t.merge(_batch_conv(spark, 10, convs[by], {0: "y1"}), batch_id=1)
    t.compact_minor(buckets=[by])
    # X crosses the raw threshold with zero runs
    t.merge(_batch_conv(spark, 20, convs[bx], {0: "x0"}), batch_id=2)
    t.merge(_batch_conv(spark, 30, convs[bx], {0: "x1"}), batch_id=3)
    assert t.bucket_depths()[bx] == (2, 0) and t.bucket_depths()[by] == (0, 1)

    pipe = _pipe_for(spark, tmp_path, t, n_buckets=4,
                     compact_threshold=2, major_every=2)
    y_files_before = t.manifest()["deltas"][str(by)]
    pipe._maybe_compact(MergeStats(batch_id=3, version=t.current_version()))

    last = t.history()[-1]
    assert last.get("compaction") and last.get("minor"), last
    assert last["buckets_rewritten"] == [bx]
    assert t.bucket_depths()[bx] == (0, 1)
    assert t.manifest()["deltas"][str(by)] == y_files_before  # Y untouched

    # X banks its run quota -> its NEXT threshold crossing is a major of X
    t.merge(_batch_conv(spark, 40, convs[bx], {0: "x2"}), batch_id=4)
    t.merge(_batch_conv(spark, 50, convs[bx], {0: "x3"}), batch_id=5)
    pipe._maybe_compact(MergeStats(batch_id=5, version=t.current_version()))
    last = t.history()[-1]
    assert last.get("compaction") and not last.get("minor"), last
    assert last["buckets_rewritten"] == [bx]
    assert t.bucket_depths()[bx] == (0, 0)
    assert t.manifest()["deltas"][str(by)] == y_files_before  # Y still parked
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in t.read().collect()}
    assert got[(convs[bx], 0)] == "x3" and got[(convs[by], 0)] == "y1"


def test_sharded_major_bounds_buckets_per_trigger(spark, tmp_path):
    """major_shards=4 on a 4-bucket table: each trigger base-rewrites at
    most ceil(4/4)=1 bucket (the deepest run stack), minors the rest, and
    deferred buckets win priority on later cycles — all four are majored
    exactly once across four cycles, state stays correct."""
    from xgeo_spark.sinks.base import MergeStats

    t = ParquetLakeTable(spark, str(tmp_path / "lake"))
    t.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=4)
    convs = _conv_per_bucket(spark, 4)
    pipe = _pipe_for(spark, tmp_path, t, n_buckets=4, compact_threshold=2,
                     major_every=2, major_shards=4)

    def stack_all(lsn0: int, tag: str):
        # two raw generations on every bucket (each batch hits all 4 convs)
        for j in range(2):
            bid = t.last_batch_id() or 0
            df = None
            for b, c in convs.items():
                part = _batch_conv(spark, lsn0 + 100 * b + 10 * j, c,
                                   {0: f"{tag}-{b}-{j}"})
                df = part if df is None else df.unionByName(part)
            t.merge(df, batch_id=bid + 1)

    # cycle 0: everyone crosses threshold with no runs -> one big minor
    stack_all(1000, "a")
    pipe._maybe_compact(MergeStats(batch_id=None, version=t.current_version()))
    assert t.history()[-1].get("minor")
    assert sorted(t.history()[-1]["buckets_rewritten"]) == [0, 1, 2, 3]

    majored: list[int] = []
    for cycle in range(4):
        stack_all(2000 + 1000 * cycle, f"c{cycle}")
        pipe._maybe_compact(
            MergeStats(batch_id=None, version=t.current_version())
        )
        commits = [c for c in t.history() if c.get("compaction")]
        major = [c for c in commits if not c.get("minor")][-1]
        assert len(major["buckets_rewritten"]) == 1, major
        majored.extend(major["buckets_rewritten"])
    assert sorted(majored) == [0, 1, 2, 3], majored  # round-robin coverage
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in t.read().collect()}
    for b, c in convs.items():
        assert got[(c, 0)] == f"c3-{b}-1"


def test_sharded_major_replay_matches_oracle(spark, tmp_path):
    """Full replay with sharded majors ON equals the LWW oracle (sharding
    changes only WHEN base rewrites happen, never table state)."""
    from xgeo_spark.fixtures.generator import (
        ChangeStreamConfig,
        generate_change_events,
        lww_oracle,
        write_change_stream_parquet,
    )
    from xgeo_spark.streaming.pipeline import CDCIngestPipeline, IngestConfig

    cfg = ChangeStreamConfig(n_events=8000, n_convs=80, seed=47, n_files=12)
    feed = str(tmp_path / "feed")
    write_change_stream_parquet(feed, cfg)
    t = ParquetLakeTable(spark, str(tmp_path / "lake"))
    pipe = CDCIngestPipeline(
        spark, feed, t,
        config=IngestConfig(n_buckets=8, lineage=False, compact_threshold=2,
                            major_every=2, major_shards=4),
    )
    pipe.run_batch_replay(files_per_batch=1)
    majors = [c for c in t.history()
              if c.get("compaction") and not c.get("minor")]
    assert majors, "sharded cadence never fired a major"
    assert all(len(c["buckets_rewritten"]) <= 2 for c in majors), majors
    got = t.read().orderBy("conv_id", "turn_idx").toPandas().fillna("∅")
    oracle = lww_oracle(generate_change_events(cfg))
    assert got["text"].tolist() == oracle["text"].fillna("∅").tolist()


# ---- round-4: manifest-diff expiry + orphan sweep ----------------------------


def test_expire_preserves_partially_referenced_version_dir(table, spark):
    """A sharded major can keep SOME of an old version's delta files alive
    after that version's manifest expires: expiry must delete only the
    dropped files, never the still-referenced siblings in the same
    attempt dir."""
    # stack more deltas then compact so old delta generations become
    # unreferenced while the new base lives in its own dir
    table.merge(_batch(spark, 30, {1: "v4-b"}), batch_id=3)
    table.compact()
    before = table.read().orderBy("conv_id", "turn_idx").toPandas()
    res = table.expire_versions(keep_last=1)
    assert res["data_files_removed"] + res["data_dirs_removed"] > 0
    after = table.read().orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(before, after)
    # every file the kept manifest references still exists
    kept = table._manifest_refs(table.current_version())
    for rel in kept:
        assert table.fs.exists(os.path.join(table.root, rel)), rel


def test_expiry_skips_unreferenced_window_orphans_sweep_collects(table):
    """A crashed/losing commit attempt leaves a data dir no manifest
    references. Manifest-diff expiry must NOT touch it (it is invisible
    to the diff, and listing for it is exactly the cost expiry avoids);
    remove_orphan_files is the action that sweeps it. An in-flight
    attempt dir (version > current) survives both."""
    import uuid as _uuid

    current = table.current_version()
    data = os.path.join(table.root, "data")
    orphan = f"v{current:012d}-{_uuid.uuid4().hex[:8]}"
    inflight = f"v{current + 5:012d}-{_uuid.uuid4().hex[:8]}"
    for d in (orphan, inflight):
        os.makedirs(os.path.join(data, d, "_bucket=0"))
        with open(os.path.join(data, d, "_bucket=0", "part-0.parquet"), "w") as f:
            f.write("junk")

    table.expire_versions(keep_last=1)
    assert os.path.isdir(os.path.join(data, orphan))  # diff can't see it
    res = table.remove_orphan_files()
    assert res["orphan_dirs_removed"] >= 1
    assert not os.path.exists(os.path.join(data, orphan))
    assert os.path.isdir(os.path.join(data, inflight))  # never swept
    # table still fully readable
    assert table.read().count() == 3


def test_wide_bucket_layout_writes_only_touched_buckets(spark, tmp_path):
    """The 100 TB layout raises n_buckets (e.g. 4096) so each compaction
    unit stays executor-sized; per-batch write cost must then be
    O(touched buckets), never O(n_buckets). 512 buckets, 100 convs:
    every delta generation may contain at most |distinct convs| bucket
    files, the manifest stays KB-sized, and the replay is still exact."""
    from xgeo_spark.fixtures.generator import (
        ChangeStreamConfig,
        generate_change_events,
        lww_oracle,
        write_change_stream_parquet,
    )
    from xgeo_spark.streaming.pipeline import CDCIngestPipeline, IngestConfig

    cfg = ChangeStreamConfig(n_events=20_000, n_convs=100, seed=31, n_files=8)
    feed = str(tmp_path / "feed")
    write_change_stream_parquet(feed, cfg)
    t = ParquetLakeTable(spark, str(tmp_path / "lake"))
    pipe = CDCIngestPipeline(
        spark, feed, t,
        config=IngestConfig(n_buckets=512, lineage=False,
                            major_shards=4),
    )
    pipe.run_batch_replay(files_per_batch=2)

    m = t.manifest()
    for coll in (m["buckets"], m.get("deltas") or {}):
        assert len(coll) <= 100, "more bucket entries than distinct convs"
    manifest_bytes = os.path.getsize(
        t._manifest_path(t.current_version())
    )
    n_refs = len(t._manifest_refs(t.current_version()))
    # size is O(referenced files) — path + per-file stats — never O(n_buckets)
    assert n_refs > 0 and manifest_bytes / n_refs < 1500, (
        manifest_bytes, n_refs
    )

    got = t.read().orderBy("conv_id", "turn_idx").toPandas()
    exp = lww_oracle(generate_change_events(cfg))
    assert got["text"].fillna("∅").tolist() == exp["text"].fillna("∅").tolist()


def test_writes_keep_one_file_per_bucket_when_slots_are_fewer_than_buckets(
    spark, tmp_path
):
    """32 buckets in the 8-slot session: each reduce task of a merge, a
    minor fold, a major fold and a rebucket holds several whole buckets.
    After every write each touched bucket gained exactly one file, every
    manifest entry lives under its own ``_bucket=`` directory and nothing
    else was written; the final read equals the LWW oracle."""
    from pyspark.sql import functions as F

    from xgeo_spark.fixtures.generator import (
        ChangeStreamConfig,
        generate_change_events,
        lww_oracle,
    )
    from xgeo_spark.sinks.parquet_lake import _bucket_expr

    events = generate_change_events(ChangeStreamConfig(
        n_events=3_000, n_convs=60, seed=17, schema_change_at=1.0,
    )).drop(columns="tool_meta").sort_values("offset")
    batches = [
        spark.createDataFrame(part).withColumn(
            "turn_idx", F.col("turn_idx").cast("int")
        )
        for part in (events.iloc[:1000], events.iloc[1000:2000], events.iloc[2000:])
    ]
    root = tmp_path / "lake"
    t = ParquetLakeTable(spark, str(root))
    t.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=32)

    def files_by_bucket(m):
        out: dict[int, set[str]] = {}
        for coll in (m["buckets"], m["deltas"]):
            for b, fl in coll.items():
                out.setdefault(int(b), set()).update(fl)
        return out

    def batch_buckets(df, n):
        return {r[0] for r in df.select(_bucket_expr("conv_id", n)).distinct().collect()}

    def check_write(before, expected_buckets):
        after = t.manifest()
        old = {f for fl in files_by_bucket(before).values() for f in fl}
        new = {
            b: fl - old for b, fl in files_by_bucket(after).items() if fl - old
        }
        assert set(new) == expected_buckets
        assert all(len(fl) == 1 for fl in new.values()), new
        for b, fl in files_by_bucket(after).items():
            assert all(f"/_bucket={b}/" in f for f in fl), (b, fl)
        written = {f for fl in new.values() for f in fl}
        vdirs = {f.split("/")[1] for f in written}
        on_disk = {
            os.path.relpath(os.path.join(d, n), root)
            for vd in vdirs
            for d, _, names in os.walk(root / "data" / vd)
            for n in names
            if n.endswith(".parquet")
        }
        assert on_disk == written
        return after

    m = t.manifest()
    for i, b in enumerate(batches[:2]):
        t.merge(b, batch_id=i)
        m = check_write(m, batch_buckets(b, 32))
    raw = {int(b) for b, fl in m["deltas"].items() if fl}
    t.compact_minor()
    m = check_write(m, raw)
    t.merge(batches[2], batch_id=2)
    m = check_write(m, batch_buckets(batches[2], 32))
    t.compact()
    m = check_write(m, {int(b) for coll in (m["buckets"], m["deltas"])
                        for b, fl in coll.items() if fl})
    t.rebucket(48)
    check_write(m, batch_buckets(t.read(include_system=True), 48))

    got = t.read().orderBy("conv_id", "turn_idx").toPandas()
    exp = lww_oracle(events)
    assert got[["conv_id", "turn_idx"]].values.tolist() == exp[
        ["conv_id", "turn_idx"]
    ].values.tolist()
    assert got["text"].fillna("∅").tolist() == exp["text"].fillna("∅").tolist()
