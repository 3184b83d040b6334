#!/usr/bin/env python
"""Structured-Streaming crash/resume leg at the scaling-feed scale.

The long-run harnesses drive ``apply_batch`` directly (bounded replay);
this leg exercises the REAL streaming engine — ``readStream`` file
source, checkpointed offsets, ``foreachBatch`` — at 21M events, stops
the query mid-stream, resumes from the same checkpoint, and asserts the
final table equals the independent pandas LWW oracle with no lost or
doubled batch. That is the north rule's "resumable from checkpoint"
claim on the exact deployment code path.

Usage: python tools/stream_crash_bench.py [--out BENCH_stream_r04.json]
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args():
    p = argparse.ArgumentParser()
    p.add_argument("--n-events", type=int, default=21_000_000)
    p.add_argument("--n-files", type=int, default=80)
    p.add_argument("--files-per-trigger", type=int, default=4)
    p.add_argument("--stop-after-batches", type=int, default=6)
    p.add_argument("--workdir", default="/tmp/xgeo_stream_crash")
    p.add_argument("--parallelism", type=int, default=32)
    p.add_argument("--out", default=None)
    return p.parse_args()


def main():
    args = parse_args()
    from xgeo_spark.session import get_spark
    from xgeo_spark.fixtures.generator import (
        ChangeStreamConfig,
        generate_change_events,
        lww_oracle,
        write_change_stream_parquet,
    )
    from xgeo_spark.sinks.parquet_lake import ParquetLakeTable
    from xgeo_spark.streaming.pipeline import CDCIngestPipeline, IngestConfig

    if os.path.isdir(args.workdir):
        shutil.rmtree(args.workdir)
    feed = os.path.join(args.workdir, "feed")
    cfg = ChangeStreamConfig(
        n_events=args.n_events,
        n_convs=max(200, args.n_events // 50),
        seed=42,
        n_files=args.n_files,
    )
    t0 = time.perf_counter()
    write_change_stream_parquet(feed, cfg)
    gen_s = time.perf_counter() - t0

    spark = get_spark("stream_crash", parallelism=args.parallelism)
    table = ParquetLakeTable(spark, os.path.join(args.workdir, "lake"))
    ckpt = os.path.join(args.workdir, "ckpt")
    icfg = IngestConfig(
        n_buckets=32,
        normalize_text=True,
        adaptive=False,
        major_shards=4,
        lineage=False,
        max_files_per_trigger=args.files_per_trigger,
    )
    pipe = CDCIngestPipeline(spark, feed, table, config=icfg)

    # phase 1: start the stream, stop it mid-flight
    t1 = time.perf_counter()
    query = pipe.run_stream(
        checkpoint_dir=ckpt, available_now=True, await_termination=False
    )
    while True:
        time.sleep(0.5)
        done = len([p for p in query.recentProgress if p["numInputRows"] > 0])
        if done >= args.stop_after_batches or not query.isActive:
            break
    was_active = query.isActive
    query.stop()
    query.awaitTermination()
    phase1_s = time.perf_counter() - t1
    v_after_kill = table.current_version()
    rows_after_kill = table.read().count()

    # phase 2: fresh objects, same checkpoint — must finish exactly once
    t2 = time.perf_counter()
    table2 = ParquetLakeTable(spark, os.path.join(args.workdir, "lake"))
    pipe2 = CDCIngestPipeline(spark, feed, table2, config=icfg)
    pipe2.run_stream(checkpoint_dir=ckpt, available_now=True)
    phase2_s = time.perf_counter() - t2

    got = (
        table2.read()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    import unicodedata

    exp = lww_oracle(generate_change_events(cfg))
    exp = exp.assign(
        text=exp["text"].map(
            lambda t: " ".join(unicodedata.normalize("NFC", t).split()),
            na_action="ignore",
        )
    )
    rows_match = len(got) == len(exp)
    text_match = (
        got["text"].fillna("∅").tolist() == exp["text"].fillna("∅").tolist()
    )
    summary = {
        "metric": "streaming_crash_resume_exactly_once",
        "n_events": args.n_events,
        "files_per_trigger": args.files_per_trigger,
        "gen_s": round(gen_s, 1),
        "stopped_mid_stream": bool(was_active),
        "batches_before_stop": int(v_after_kill),
        "rows_after_stop": int(rows_after_kill),
        "phase1_s": round(phase1_s, 1),
        "phase2_s": round(phase2_s, 1),
        "events_per_sec_overall": round(
            args.n_events / (phase1_s + phase2_s), 1
        ),
        "final_rows": len(got),
        "expected_rows": len(exp),
        "rows_match": rows_match,
        "per_turn_text_match": text_match,
        "pass": bool(rows_match and text_match),
    }
    print(json.dumps(summary), flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f)
    return 0 if summary["pass"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
