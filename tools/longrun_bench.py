#!/usr/bin/env python
"""Long-horizon CDC replay bench — the 10^10 north star's sustained-
throughput proxy (VERDICT r2 item 1).

Everything measured before round 3 was short: 4 micro-batches (2.1M
events) in bench.py, one 21M-event scaling run. A 10^10-event ingest
lives in a different regime — thousands of commits, manifests that grow
unless bounded, delta stacks that compact on cadence, snapshots that
must be expired or the version dir becomes the bottleneck. This tool
replays ~10^8 events in O(100) micro-batches with the REAL maintenance
cadence on (auto-compaction at compact_threshold, expire_versions every
--expire-every batches) and records, per batch: wall, events/s,
delta_depth, manifest bytes, live data-file count, retained versions.

The pass criterion is the one the verdict set: last-decile throughput
>= 0.8x first-decile (no metadata/compaction-induced decay). Per-batch
walls are disclosed so a host-noise dip is distinguishable from a trend;
the decile summary reports BOTH sum-based throughput (events/wall) and
the median per-batch rate (robust to one slow neighbor-load batch).

Final-state correctness at this scale is checked against an independent
engine: DuckDB computes the LWW winner per (conv_id, turn_idx) over the
raw feed (same total order as operators/dedup.py: lsn DESC, ts DESC,
op-rank DESC), materializes the expected table to parquet, and Spark
asserts exceptAll == 0 in both directions — per-turn text equality, the
north star's row invariant, verified distributed (no driver collect).

Usage (full run takes ~15-25 min on an idle 32-core host):
    python tools/longrun_bench.py                      # 10^8 events
    python tools/longrun_bench.py --n-events 2000000 --n-files 40  # smoke
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
    p.add_argument("--n-events", type=int, default=100_000_000)
    p.add_argument("--n-files", type=int, default=400)
    p.add_argument("--files-per-batch", type=int, default=4)
    p.add_argument("--expire-every", type=int, default=10,
                   help="run expire_versions every N batches")
    p.add_argument("--keep-last", type=int, default=4,
                   help="snapshots retained by expire_versions")
    p.add_argument("--workdir", default="/tmp/xgeo_longrun")
    p.add_argument("--feed-dir", default=None,
                   help="reuse an existing feed instead of generating")
    p.add_argument("--out", default=None, help="write JSON artifact here")
    p.add_argument("--parallelism", type=int, default=32)
    p.add_argument("--skip-verify", action="store_true",
                   help="skip the DuckDB final-state cross-check")
    p.add_argument("--major-every", type=int, default=1,
                   help="fold cadence: 1 = always major at the threshold; "
                        "k > 1 = two-level, minor folds at the threshold "
                        "and a major every k-th fold")
    p.add_argument("--compact-threshold", type=int, default=8,
                   help="delta generations a bucket stacks before folding; "
                        "with --major-every > 1 the worst-pause fold window "
                        "is O(threshold x batch) rows, so halving it halves "
                        "the fold floor at identical total write work")
    p.add_argument("--major-shards", type=int, default=1,
                   help="shard major compactions: each major rewrites only "
                        "1/N of the base buckets (round-robin), bounding the "
                        "worst pause by shard size instead of table size")
    return p.parse_args()


def generate_feed(args) -> tuple[str, float]:
    from xgeo_spark.fixtures.generator import (
        ChangeStreamConfig, write_change_stream_parquet,
    )

    feed = os.path.join(args.workdir, "feed")
    if args.feed_dir:
        return args.feed_dir, 0.0
    if os.path.isdir(feed):
        shutil.rmtree(feed)
    cfg = ChangeStreamConfig(
        n_events=args.n_events,
        n_convs=max(200, args.n_events // 50),
        seed=42,
        n_files=args.n_files,
    )
    t0 = time.perf_counter()
    write_change_stream_parquet(feed, cfg)
    return feed, time.perf_counter() - t0


def replay(spark, args, feed: str) -> tuple[list[dict], object]:
    import pyarrow.parquet as pq

    from xgeo_spark.sinks.parquet_lake import ParquetLakeTable
    from xgeo_spark.streaming.pipeline import CDCIngestPipeline, IngestConfig

    lake = os.path.join(args.workdir, "lake")
    lineage = os.path.join(args.workdir, "lineage")
    for d in (lake, lineage):
        if os.path.isdir(d):
            shutil.rmtree(d)

    table = ParquetLakeTable(spark, lake)
    cfg = IngestConfig(
        n_buckets=32, normalize_text=True, adaptive=False,
        compact_threshold=args.compact_threshold,
        major_every=args.major_every,
        major_shards=args.major_shards,
    )
    pipe = CDCIngestPipeline(spark, feed, table, lineage_path=lineage, config=cfg)

    paths = sorted(
        os.path.join(feed, f) for f in os.listdir(feed) if f.endswith(".parquet")
    )
    rows_per_file = {p: pq.read_metadata(p).num_rows for p in paths}

    # warmup into a scratch table (untimed, disclosed): codegen/JIT,
    # parquet committer, the UDF worker pool — same rationale as bench.py
    warm_table = ParquetLakeTable(spark, os.path.join(args.workdir, "warm"))
    warm_pipe = CDCIngestPipeline(
        spark, feed, warm_table,
        config=IngestConfig(n_buckets=32, normalize_text=True,
                            lineage=False, adaptive=False),
    )
    warm_pipe.apply_batch(warm_pipe.source.read_batch(paths[:1]), 0)

    def _manifest_stats() -> dict:
        m = table.manifest()
        mp = table._manifest_path(table.current_version())
        n_base = sum(len(v) for v in m.get("buckets", {}).values())
        n_delta = sum(len(v) for v in (m.get("deltas") or {}).values())
        return {
            "manifest_bytes": os.path.getsize(mp),
            "base_files": n_base,
            "delta_files": n_delta,
            "versions_retained": len(table._list_versions()),
        }

    batches: list[dict] = []
    bid = 0
    for i in range(0, len(paths), args.files_per_batch):
        chunk = paths[i : i + args.files_per_batch]
        n_ev = sum(rows_per_file[p] for p in chunk)
        pipe._tune_input_splits(chunk)
        t0 = time.perf_counter()
        batch = pipe.source.read_batch(chunk)
        stats = pipe.apply_batch(batch, bid, max_sv_hint=pipe._sv_hint(chunk))
        expired = None
        if args.expire_every and (bid + 1) % args.expire_every == 0:
            expired = table.expire_versions(keep_last=args.keep_last)
        wall = time.perf_counter() - t0
        rec = {
            "batch": bid,
            "events": n_ev,
            "wall_s": round(wall, 3),
            "ev_s": round(n_ev / wall, 1),
            "delta_depth": table.delta_depth(),
            "run_depth": table.run_depth(),
            **_manifest_stats(),
        }
        if expired is not None:
            rec["expired_versions"] = len(expired["versions_expired"])
            rec["expired_data_files"] = expired["data_files_removed"]
        batches.append(rec)
        print(json.dumps(rec), flush=True)
        bid += 1
    return batches, table


def decile_summary(batches: list[dict]) -> dict:
    import statistics

    n = len(batches)
    deciles = []
    for d in range(10):
        lo, hi = d * n // 10, (d + 1) * n // 10
        part = batches[lo:hi]
        if not part:
            continue
        ev = sum(b["events"] for b in part)
        wall = sum(b["wall_s"] for b in part)
        deciles.append({
            "decile": d,
            "batches": len(part),
            "ev_s_sum": round(ev / wall, 1),
            "ev_s_median": round(statistics.median(b["ev_s"] for b in part), 1),
        })
    first, last = deciles[0], deciles[-1]
    return {
        "deciles": deciles,
        "last_over_first_sum": round(last["ev_s_sum"] / first["ev_s_sum"], 3),
        "last_over_first_median": round(
            last["ev_s_median"] / first["ev_s_median"], 3
        ),
    }


def verify_final_state(spark, feed: str, table, workdir: str) -> dict:
    """Independent-engine final-state check: DuckDB LWW over the raw feed
    vs the lake's read() — per-turn text equality, both directions."""
    import duckdb

    expected_pq = os.path.join(workdir, "expected_final")
    if os.path.isdir(expected_pq):
        shutil.rmtree(expected_pq)
    os.makedirs(expected_pq)
    t0 = time.perf_counter()
    con = duckdb.connect()
    con.execute(f"SET threads TO {max(4, os.cpu_count() // 2)}")
    con.execute(
        f"""
        COPY (
          -- the pipeline runs normalize_text=True (NFC + collapse ws +
          -- strip, functions/text.py); restate it so expected == stored
          SELECT conv_id, turn_idx, role,
                 CASE WHEN text IS NULL THEN NULL ELSE
                   trim(regexp_replace(nfc_normalize(text), '\\s+', ' ', 'g'))
                 END AS text,
                 tool, epoch_us(ts) AS ts_us, tool_meta
          FROM (
            SELECT *, ROW_NUMBER() OVER (
              PARTITION BY conv_id, turn_idx
              ORDER BY lsn DESC, ts DESC,
                CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END DESC,
                "offset" DESC
            ) AS rk
            FROM read_parquet('{feed}/*.parquet', union_by_name=true)
          ) WHERE rk = 1 AND op <> 'D'
        ) TO '{expected_pq}/expected.parquet' (FORMAT PARQUET)
        """
    )
    oracle_s = time.perf_counter() - t0

    from pyspark.sql import functions as F

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts_us", "tool_meta"]
    got = (
        table.read()
        .withColumn("ts_us", F.unix_micros(F.col("ts")))
        .withColumn("turn_idx", F.col("turn_idx").cast("long"))
        .select(cols)
    )
    exp = (
        spark.read.parquet(expected_pq)
        .withColumn("turn_idx", F.col("turn_idx").cast("long"))
        .select(cols)
    )
    t1 = time.perf_counter()
    missing = exp.exceptAll(got).count()
    extra = got.exceptAll(exp).count()
    return {
        "expected_rows": exp.count(),
        "final_rows": got.count(),
        "missing": missing,
        "extra": extra,
        "match": missing == 0 and extra == 0,
        "oracle_s": round(oracle_s, 1),
        "compare_s": round(time.perf_counter() - t1, 1),
    }


def main():
    args = parse_args()
    os.makedirs(args.workdir, exist_ok=True)

    feed, gen_s = generate_feed(args)
    print(f"feed ready in {gen_s:.1f}s: {feed}", flush=True)

    from xgeo_spark.session import get_spark

    spark = get_spark("longrun", parallelism=args.parallelism)
    t0 = time.perf_counter()
    batches, table = replay(spark, args, feed)
    replay_wall = time.perf_counter() - t0

    total_ev = sum(b["events"] for b in batches)
    summary = {
        "n_events": total_ev,
        "n_batches": len(batches),
        "gen_s": round(gen_s, 1),
        "replay_wall_s": round(replay_wall, 1),
        "events_per_sec_overall": round(
            total_ev / sum(b["wall_s"] for b in batches), 1
        ),
        "parallelism": args.parallelism,
        "expire_every": args.expire_every,
        "keep_last": args.keep_last,
        "compact_threshold": args.compact_threshold,
        "major_every": args.major_every,
        "major_shards": args.major_shards,
        **decile_summary(batches),
        "final_delta_depth": batches[-1]["delta_depth"],
        "final_manifest_bytes": batches[-1]["manifest_bytes"],
        "final_versions_retained": batches[-1]["versions_retained"],
    }
    if not args.skip_verify:
        summary["final_state_check"] = verify_final_state(
            spark, feed, table, args.workdir
        )
    summary["batches"] = batches
    out = json.dumps(summary)
    print(out, flush=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(out + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
