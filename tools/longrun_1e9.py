#!/usr/bin/env python
"""10^9-event wave-replayed long-run — one order of magnitude past
`tools/longrun_bench.py`, two short of the 10^10 north star.

A 10^9-event feed (~87 GB parquet) does not fit this sandbox's disk, so
the feed is produced and consumed in WAVES of the same deterministic
global stream (`write_change_stream_parquet(file_range=...)` — slices
are independently seeded, so wave k's files are byte-identical to files
k*W..(k+1)*W-1 of a hypothetical full run): generate a wave, replay it
through the pipeline, fold the wave's events into a per-wave LWW winner
table with DuckDB, delete the wave's feed files, repeat. Disk high-water
mark stays ~one wave of feed + the lake + the winner tables.

Correctness at the end is the same independent-engine check the 10^8
run used, made associative: the LWW reduce is an argmax under the total
order (lsn, ts, op-rank, offset), so per-wave winners reduced again
across waves equal the winner over the whole stream. DuckDB computes
both reduction levels with hash-aggregate arg_max (no 10^9-row window
sort), applies the pipeline's text normalization, and Spark asserts
exceptAll == 0 in both directions against the final table.

The replay itself runs the measured-better two-level compaction cadence
(minor folds at the threshold, major every --major-every runs) plus
snapshot expiry — the full maintenance story at 250 commits.

Usage (full run ~1.5-2 h on an idle 32-core host):
    python tools/longrun_1e9.py --out BENCH_longrun_1e9_r03.json
    python tools/longrun_1e9.py --n-events 20000000 --n-files 40 \
        --wave-files 20 --n-convs 80000   # smoke
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The generator assigns lsn = arange(lo, hi): globally unique per logical
# event, and the only repeated lsns are exact duplicate redeliveries
# (identical payload, different offset). Under that input contract the LWW
# winner per key under the engine's total order (lsn DESC, ts DESC,
# op-rank DESC) IS the max-lsn row, and lsn ties carry identical payloads
# — so the oracle is a hash max(lsn) + join-back + DISTINCT (offset
# excluded), never a 10^9-row window sort. (The general-order restatement
# is exercised at 10^8 scale by tools/longrun_bench.py's window oracle.)
WINNER_COLS = "conv_id, turn_idx, op, role, text, tool, tool_meta, ts, lsn"


def parse_args():
    p = argparse.ArgumentParser()
    p.add_argument("--n-events", type=int, default=1_000_000_000)
    p.add_argument("--n-convs", type=int, default=4_000_000)
    p.add_argument("--n-files", type=int, default=2000)
    p.add_argument("--wave-files", type=int, default=200)
    p.add_argument("--files-per-batch", type=int, default=8)
    p.add_argument("--gen-workers", type=int, default=16)
    p.add_argument("--expire-every", type=int, default=10)
    p.add_argument("--keep-last", type=int, default=4)
    p.add_argument("--major-every", type=int, default=4)
    p.add_argument("--major-shards", type=int, default=1,
                   help="shard major compactions: each major rewrites only "
                        "1/N of the base buckets (round-robin), bounding the "
                        "worst pause by shard size instead of table size")
    p.add_argument("--background-major", action="store_true",
                   help="run MAJOR compaction on a concurrent maintenance "
                        "writer (streaming/compactor.BackgroundCompactor) "
                        "instead of inline in apply_batch: ingest only ever "
                        "pays the O(delta window) minor fold, base rewrites "
                        "race through the optimistic commit + metadata "
                        "rebase. The r5 pause story — worst ingest batch "
                        "should drop to the minor-fold floor")
    p.add_argument("--workdir", default="/tmp/xgeo_1e9")
    p.add_argument("--out", default=None)
    p.add_argument("--parallelism", type=int, default=32)
    return p.parse_args()


def wave_oracle_reduce(con, wave_files: list[str], out_path: str) -> None:
    """Fold one wave's events to per-key LWW winners (hash arg_max, no
    window sort); winners KEEP op + the order-key columns so the final
    cross-wave reduce can re-run the identical argmax."""
    import pyarrow.parquet as pq

    has_meta = any("tool_meta" in pq.read_schema(f).names for f in wave_files)
    files_sql = "[" + ", ".join(f"'{f}'" for f in wave_files) + "]"
    src = f"read_parquet({files_sql}, union_by_name=true)"
    inner = (
        f"SELECT * FROM {src}"
        if has_meta
        else f"SELECT *, CAST(NULL AS VARCHAR) AS tool_meta FROM {src}"
    )
    con.execute(
        f"""
        COPY (
          SELECT DISTINCT {WINNER_COLS}
          FROM ({inner}) e
          JOIN (
            SELECT conv_id AS mc, turn_idx AS mt, max(lsn) AS ml
            FROM ({inner}) GROUP BY 1, 2
          ) m ON e.conv_id = m.mc AND e.turn_idx = m.mt AND e.lsn = m.ml
        ) TO '{out_path}' (FORMAT PARQUET)
        """
    )


def main():
    args = parse_args()
    assert args.n_files % args.wave_files == 0
    os.makedirs(args.workdir, exist_ok=True)
    feed = os.path.join(args.workdir, "feed")
    winners_dir = os.path.join(args.workdir, "winners")
    lake = os.path.join(args.workdir, "lake")
    lineage = os.path.join(args.workdir, "lineage")
    for d in (feed, winners_dir, lake, lineage):
        if os.path.isdir(d):
            shutil.rmtree(d)
        os.makedirs(d)

    import duckdb

    from xgeo_spark.fixtures.generator import (
        ChangeStreamConfig, write_change_stream_parquet,
    )
    from xgeo_spark.session import get_spark
    from xgeo_spark.sinks.parquet_lake import ParquetLakeTable
    from xgeo_spark.streaming.pipeline import CDCIngestPipeline, IngestConfig

    cfg = ChangeStreamConfig(
        n_events=args.n_events, n_convs=args.n_convs, seed=42,
        n_files=args.n_files,
    )
    spark = get_spark("longrun1e9", parallelism=args.parallelism)
    con = duckdb.connect()
    con.execute(f"SET threads TO {max(4, (os.cpu_count() or 8) // 2)}")

    table = ParquetLakeTable(spark, lake)
    pipe = CDCIngestPipeline(
        spark, feed, table, lineage_path=lineage,
        config=IngestConfig(
            n_buckets=32, normalize_text=True, adaptive=False,
            compact_threshold=8,
            major_every=args.major_every,
            major_shards=args.major_shards,
            background_major=args.background_major,
        ),
    )
    compactor = None
    if args.background_major:
        from xgeo_spark.streaming.compactor import BackgroundCompactor

        # own table instance: the compactor races ingest through the
        # filesystem commit protocol, exactly as a separate process would
        compactor = BackgroundCompactor(
            ParquetLakeTable(spark, lake),
            major_every=args.major_every,
            major_shards=args.major_shards,
            poll_seconds=1.0,
        ).start()

    import pyarrow.parquet as pq

    n_waves = args.n_files // args.wave_files
    batches: list[dict] = []
    wave_meta: list[dict] = []
    bid = 0
    warmed = False
    for wave in range(n_waves):
        w0, w1 = wave * args.wave_files, (wave + 1) * args.wave_files
        t0 = time.perf_counter()
        paths = write_change_stream_parquet(
            feed, cfg, workers=args.gen_workers, file_range=(w0, w1)
        )
        gen_s = time.perf_counter() - t0
        paths = sorted(paths)
        if not warmed:
            # untimed warmup into a scratch table (same rationale as bench)
            wt = ParquetLakeTable(spark, os.path.join(args.workdir, "warm"))
            wp = CDCIngestPipeline(
                spark, feed, wt,
                config=IngestConfig(n_buckets=32, normalize_text=True,
                                    lineage=False, adaptive=False),
            )
            wp.apply_batch(wp.source.read_batch(paths[:1]), 0)
            warmed = True

        t_apply = time.perf_counter()
        for i in range(0, len(paths), args.files_per_batch):
            chunk = paths[i : i + args.files_per_batch]
            n_ev = sum(pq.read_metadata(p).num_rows for p in chunk)
            pipe._tune_input_splits(chunk)
            t1 = time.perf_counter()
            stats = pipe.apply_batch(
                pipe.source.read_batch(chunk), bid,
                max_sv_hint=pipe._sv_hint(chunk),
            )
            expired = None
            if args.expire_every and (bid + 1) % args.expire_every == 0:
                expired = table.expire_versions(keep_last=args.keep_last)
            wall = time.perf_counter() - t1
            rec = {
                "batch": bid, "events": n_ev, "wall_s": round(wall, 3),
                "ev_s": round(n_ev / wall, 1),
                "delta_depth": table.delta_depth(),
                "run_depth": table.run_depth(),
            }
            if expired:
                rec["expired_data_files"] = expired["data_files_removed"]
            batches.append(rec)
            print(json.dumps(rec), flush=True)
            bid += 1
        apply_s = time.perf_counter() - t_apply

        t2 = time.perf_counter()
        wave_oracle_reduce(
            con, paths, os.path.join(winners_dir, f"wave-{wave:03d}.parquet")
        )
        oracle_s = time.perf_counter() - t2
        for p in paths:
            os.remove(p)
        wave_meta.append({
            "wave": wave, "gen_s": round(gen_s, 1),
            "apply_s": round(apply_s, 1), "oracle_s": round(oracle_s, 1),
        })
        print(json.dumps(wave_meta[-1]), flush=True)

    import statistics

    compactor_stats = None
    if compactor is not None:
        cs = compactor.stop(drain=True)
        compactor_stats = {
            "majors": cs.majors,
            "conflicts_recomputed": cs.conflicts_recomputed,
            "buckets_rewritten": cs.buckets_rewritten,
            "worst_major_s": round(max((p[1] for p in cs.pauses), default=0.0), 2),
            "median_major_s": round(
                statistics.median(p[1] for p in cs.pauses), 2
            ) if cs.pauses else 0.0,
        }
        print(json.dumps({"compactor": compactor_stats}), flush=True)

    # ---- final cross-wave reduce + distributed compare ----
    expected_dir = os.path.join(args.workdir, "expected")
    os.makedirs(expected_dir, exist_ok=True)
    t3 = time.perf_counter()
    con.execute(
        f"""
        COPY (
          SELECT conv_id, turn_idx, role,
                 CASE WHEN text IS NULL THEN NULL ELSE
                   trim(regexp_replace(nfc_normalize(text), '\\s+', ' ', 'g'))
                 END AS text,
                 tool, epoch_us(ts) AS ts_us, tool_meta
          FROM (
            SELECT DISTINCT {WINNER_COLS}
            FROM read_parquet('{winners_dir}/*.parquet') e
            JOIN (
              SELECT conv_id AS mc, turn_idx AS mt, max(lsn) AS ml
              FROM read_parquet('{winners_dir}/*.parquet') GROUP BY 1, 2
            ) m ON e.conv_id = m.mc AND e.turn_idx = m.mt AND e.lsn = m.ml
          ) WHERE op <> 'D'
        ) TO '{expected_dir}/expected.parquet' (FORMAT PARQUET)
        """
    )
    final_oracle_s = time.perf_counter() - t3

    from pyspark.sql import functions as F

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts_us", "tool_meta"]
    got = (
        table.read()
        .withColumn("ts_us", F.unix_micros(F.col("ts")))
        .withColumn("turn_idx", F.col("turn_idx").cast("long"))
        .select(cols)
    )
    exp = (
        spark.read.parquet(expected_dir)
        .withColumn("turn_idx", F.col("turn_idx").cast("long"))
        .select(cols)
    )
    t4 = time.perf_counter()
    missing = exp.exceptAll(got).count()
    extra = got.exceptAll(exp).count()
    check = {
        "expected_rows": exp.count(), "final_rows": got.count(),
        "missing": missing, "extra": extra,
        "match": missing == 0 and extra == 0,
        "final_oracle_s": round(final_oracle_s, 1),
        "compare_s": round(time.perf_counter() - t4, 1),
    }

    n = len(batches)
    deciles = []
    for d in range(10):
        part = batches[d * n // 10 : (d + 1) * n // 10]
        if part:
            deciles.append({
                "decile": d,
                "ev_s_sum": round(sum(b["events"] for b in part)
                                  / sum(b["wall_s"] for b in part), 1),
                "ev_s_median": round(
                    statistics.median(b["ev_s"] for b in part), 1),
            })
    summary = {
        "n_events": sum(b["events"] for b in batches),
        "n_batches": n,
        "n_waves": n_waves,
        "events_per_sec_overall": round(
            sum(b["events"] for b in batches)
            / sum(b["wall_s"] for b in batches), 1),
        "wall_total_s": round(sum(w["gen_s"] + w["apply_s"] + w["oracle_s"]
                                  for w in wave_meta), 1),
        "parallelism": args.parallelism,
        "major_every": args.major_every,
        "major_shards": args.major_shards,
        "background_major": args.background_major,
        "compactor": compactor_stats,
        # the r5 pause gate: with majors off the ingest path the worst
        # ingest batch should sit within ~3x the median (minor-fold floor)
        "batch_wall_median_s": round(
            statistics.median(b["wall_s"] for b in batches), 3),
        "batch_wall_worst_s": round(max(b["wall_s"] for b in batches), 3),
        "worst_over_median": round(
            max(b["wall_s"] for b in batches)
            / statistics.median(b["wall_s"] for b in batches), 2),
        # steady-state view: the first compact_threshold+2 batches carry
        # the one-time costs (JIT/codegen warmup and the FIRST minor fold,
        # which builds every bucket's initial base from scratch); both
        # views are reported, nothing excluded silently
        "steady_state": (lambda ss: {
            "from_batch": 10,
            "batch_wall_median_s": round(statistics.median(ss), 3),
            "batch_wall_worst_s": round(max(ss), 3),
            "worst_over_median": round(max(ss) / statistics.median(ss), 2),
        })([b["wall_s"] for b in batches[10:]]) if n > 20 else None,
        "deciles": deciles,
        "last_over_first_sum": round(
            deciles[-1]["ev_s_sum"] / deciles[0]["ev_s_sum"], 3),
        "last_over_first_median": round(
            deciles[-1]["ev_s_median"] / deciles[0]["ev_s_median"], 3),
        "final_state_check": check,
        "waves": wave_meta,
        "batches": batches,
    }
    out = json.dumps(summary)
    print(out, flush=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(out + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
