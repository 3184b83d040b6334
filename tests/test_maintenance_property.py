"""Maintenance-interplay property test: the round-4 maintenance surface —
snapshot expiry, orphan sweep, and a CONCURRENT background compactor —
interleaved by hypothesis between ingest batches (plus a simulated
process kill at a batch boundary: every driver-side object, including the
compactor, is dropped and rebuilt from the lake directory alone). Under
any schedule, the final table must equal the pure-pandas LWW oracle and a
fresh full re-replay must skip every batch idempotently.

test_pipeline_property covers stream SHAPE x compaction cadence with a
single inline writer; this covers the MAINTENANCE schedule: three writers
(ingest, compactor thread, expiry) racing through the optimistic commit
path while the sweeper walks the same directories. Examples are few and
small because each runs many real Spark jobs."""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from test_pipeline_property import _build, _write_feed, stream_st

from xgeo_spark.fixtures.generator import lww_oracle
from xgeo_spark.sinks.parquet_lake import ParquetLakeTable
from xgeo_spark.streaming.compactor import BackgroundCompactor
from xgeo_spark.streaming.pipeline import CDCIngestPipeline, IngestConfig

ACTIONS = ["none", "expire", "orphans", "kill"]

maint_st = st.fixed_dictionaries(
    {
        "stream": stream_st,
        # one action applied AFTER each batch (cycled if fewer batches)
        "schedule": st.lists(st.sampled_from(ACTIONS), min_size=1, max_size=4),
        "keep_last": st.integers(1, 3),
    }
)


def _mk(spark, root, n_buckets, compact_threshold):
    """Build table + pipeline + started compactor from the lake dir alone
    (what a restarted process would have)."""
    table = ParquetLakeTable(spark, os.path.join(root, "lake"))
    pipe = CDCIngestPipeline(
        spark,
        os.path.join(root, "feed"),
        table,
        config=IngestConfig(
            n_buckets=n_buckets,
            lineage=False,
            compact_threshold=compact_threshold,
            major_every=2,
            background_major=True,
        ),
    )
    comp = BackgroundCompactor(
        ParquetLakeTable(spark, os.path.join(root, "lake")),
        major_every=2,
        poll_seconds=0.05,
    ).start()
    return table, pipe, comp


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(raw=maint_st)
def test_maintenance_schedule_never_corrupts(spark, tmp_path_factory, raw):
    s = raw["stream"]
    arrived, _cut = _build(s)
    root = str(tmp_path_factory.mktemp("maint"))
    _write_feed(os.path.join(root, "feed"), arrived, s["n_files"])
    files = sorted(os.listdir(os.path.join(root, "feed")))

    table, pipe, comp = _mk(spark, root, s["n_buckets"], s["compact_threshold"])
    try:
        bid = 0
        for i in range(0, len(files), s["files_per_batch"]):
            chunk = [
                os.path.join(root, "feed", f)
                for f in files[i : i + s["files_per_batch"]]
            ]
            batch = pipe.source.read_batch(chunk)
            pipe.apply_batch(batch, bid, max_sv_hint=pipe._sv_hint(chunk))
            action = raw["schedule"][bid % len(raw["schedule"])]
            bid += 1
            if action == "expire":
                table.expire_versions(keep_last=raw["keep_last"])
            elif action == "orphans":
                # default grace window: the documented contract for running
                # the sweep while another writer may be in flight
                table.remove_orphan_files(older_than_seconds=3600.0)
            elif action == "kill":
                # simulated crash between a commit and the next compaction:
                # drop every driver-side object (compactor stopped WITHOUT
                # its drain pass — a real SIGKILL runs no shutdown hooks
                # either, and stop() re-raises anything the thread died on)
                comp.stop(drain=False)
                table, pipe, comp = _mk(
                    spark, root, s["n_buckets"], s["compact_threshold"]
                )
    finally:
        stats = comp.stop(drain=True)

    got = table.read().orderBy("conv_id", "turn_idx").toPandas()
    if "tool_meta" not in got.columns:
        got["tool_meta"] = None
    got = got[
        ["conv_id", "turn_idx", "role", "text", "tool", "ts", "tool_meta"]
    ].reset_index(drop=True)
    exp = lww_oracle(arrived)
    assert len(got) == len(exp), (len(got), len(exp), stats)
    for col in ("conv_id", "turn_idx", "role", "text", "tool", "tool_meta"):
        assert got[col].fillna("∅").tolist() == exp[col].fillna("∅").tolist(), col

    # a fresh replay over the surviving lake skips every batch: expiry and
    # sweeps must never eat the batch_id commit markers
    table2 = ParquetLakeTable(spark, os.path.join(root, "lake"))
    pipe2 = CDCIngestPipeline(
        spark, os.path.join(root, "feed"), table2,
        config=IngestConfig(
            n_buckets=s["n_buckets"], lineage=False,
            compact_threshold=s["compact_threshold"],
            major_every=2, background_major=True,
        ),
    )
    stats2 = pipe2.run_batch_replay(files_per_batch=s["files_per_batch"])
    assert all(st_.skipped for st_ in stats2)
    assert table2.read().count() == len(exp)
