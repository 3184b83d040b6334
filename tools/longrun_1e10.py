#!/usr/bin/env python
"""10^10-event wave-replayed long-run — the literal north-star scale
(BASELINE.json: "sustained change-events/sec applied on a 10^10-event
synthetic transcript CDC replay ... with dedup + schema evolution").

Protocol = tools/longrun_1e9.py x10, PIPELINED so the sandbox's wall
clock and one disk can hold it:

- The feed is produced and consumed in WAVES of the same deterministic
  global stream (independently seeded file slices — wave k's files are
  byte-identical to files [k*W,(k+1)*W) of a hypothetical full run).
- Wave k+1 GENERATES (numpy/arrow worker pool) while wave k APPLIES
  (Spark) — generation is hidden behind apply instead of serialized
  before it.
- Wave k's ORACLE FOLD (DuckDB hash arg-max over the wave's events ->
  per-key LWW winners) runs on a second background lane while wave k+1
  applies; the wave's feed files are deleted the moment its fold lands,
  bounding feed high-water at ~3 waves.
- Every --fold-every waves the per-wave winner tables are folded into
  ONE running super-winner table and deleted (the LWW reduce is an
  argmax under a total order, hence associative: fold(fold(a,b),c) ==
  fold(a,b,c)); winners high-water stays ~fold_every waves + 2 supers
  instead of 100 waves. The 1e9 run kept all 10 wave tables; at 100
  waves that would be ~10x the final table on disk.
- Batch ids are deterministic (wave*batches_per_wave + i), so a crash
  is resumable: --resume replays from the first incomplete wave and the
  sink's batch_id idempotency skips already-committed batches.

Correctness at the end is the same independent-engine check as 1e9:
DuckDB computes the LWW winner over the whole stream via the two-level
(wave -> super -> final) associative reduce, applies the pipeline's
text normalization, and Spark asserts exceptAll == 0 in both directions
against the final table. The lsn-max oracle is valid under the
generator's input contract (globally unique lsns per logical event;
repeated lsns are exact duplicate redeliveries) — see longrun_1e9.py.

The replay runs the full maintenance story: two-level minor/major
compaction with r4's per-bucket triggers and SHARDED majors
(major_shards bounds each base rewrite to a bucket slice, so the worst
pause scales with shard size, not the 10^10-key base), plus snapshot
expiry every --expire-every batches.

Usage (full run, ~3.5-4.5 h on an otherwise-idle 32-core host):
    taskset -c 0-27 python tools/longrun_1e10.py \
        --out BENCH_longrun_1e10_r04.json --parallelism 28
    python tools/longrun_1e10.py --n-events 200000000 --n-files 400 \
        --wave-files 200 --n-convs 4000000 --fold-every 1   # calibration
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WINNER_COLS = "conv_id, turn_idx, op, role, text, tool, tool_meta, ts, lsn"


def parse_args():
    p = argparse.ArgumentParser()
    p.add_argument("--n-events", type=int, default=10_000_000_000)
    p.add_argument("--n-convs", type=int, default=4_000_000)
    p.add_argument("--n-files", type=int, default=20_000)
    p.add_argument("--wave-files", type=int, default=200)
    p.add_argument("--files-per-batch", type=int, default=25)
    p.add_argument("--gen-workers", type=int, default=12)
    p.add_argument("--duckdb-threads", type=int, default=8)
    p.add_argument("--expire-every", type=int, default=10)
    p.add_argument("--keep-last", type=int, default=4)
    p.add_argument("--compact-threshold", type=int, default=8)
    p.add_argument("--major-every", type=int, default=8)
    p.add_argument("--major-shards", type=int, default=4)
    p.add_argument("--n-buckets", type=int, default=32)
    p.add_argument("--fold-every", type=int, default=8)
    p.add_argument("--min-free-gb", type=float, default=18.0)
    p.add_argument("--workdir", default="/tmp/xgeo_1e10")
    p.add_argument("--out", default=None)
    p.add_argument("--parallelism", type=int, default=28)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--note", default=None,
                   help="free-text methodology note recorded in the artifact")
    return p.parse_args()


class OracleLane:
    """Single background thread owning ALL DuckDB work (wave folds, super
    folds) — serialized among themselves, overlapped with Spark applies."""

    def __init__(self, threads: int, winners_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        self.winners_dir = winners_dir
        self.pool = ThreadPoolExecutor(1)
        self.pending: list = []
        self.timings: list[dict] = []

    def wave_path(self, wave: int) -> str:
        return os.path.join(self.winners_dir, f"wave-{wave:04d}.parquet")

    def super_path(self) -> str:
        return os.path.join(self.winners_dir, "super.parquet")

    def folded_path(self) -> str:
        return os.path.join(self.winners_dir, "folded.json")

    def folded_waves(self) -> set[int]:
        """Waves whose winners are already folded into the super table —
        the resume-time authority for 'this wave's events are accounted
        for even though its wave file is gone'."""
        if not os.path.exists(self.folded_path()):
            return set()
        with open(self.folded_path()) as f:
            return set(json.load(f))

    def _record_folded(self, waves: list[int]) -> None:
        done = sorted(self.folded_waves() | set(waves))
        tmp = self.folded_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(done, f)
        os.replace(tmp, self.folded_path())

    def submit_wave(self, wave: int, feed_files: list[str]) -> None:
        self.pending.append(
            self.pool.submit(self._fold_wave, wave, feed_files)
        )

    def submit_super(self, waves: list[int]) -> None:
        self.pending.append(self.pool.submit(self._fold_super, waves))

    def drain(self) -> None:
        for f in self.pending:
            f.result()  # re-raise any oracle-lane failure
        self.pending = []

    # ---- tasks (run on the lane thread) ----

    def _fold_wave(self, wave: int, feed_files: list[str]) -> None:
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        has_meta = any(
            "tool_meta" in pq.read_schema(f).names for f in feed_files
        )
        files_sql = "[" + ", ".join(f"'{f}'" for f in feed_files) + "]"
        src = f"read_parquet({files_sql}, union_by_name=true)"
        inner = (
            f"SELECT * FROM {src}"
            if has_meta
            else f"SELECT *, CAST(NULL AS VARCHAR) AS tool_meta FROM {src}"
        )
        # write-tmp-then-rename: a crash mid-COPY must never leave a
        # truncated parquet at the final name (resume trusts file presence)
        tmp = self.wave_path(wave) + ".tmp"
        self.con.execute(
            f"""
            COPY (
              SELECT DISTINCT {WINNER_COLS}
              FROM ({inner}) e
              JOIN (
                SELECT conv_id AS mc, turn_idx AS mt, max(lsn) AS ml
                FROM ({inner}) GROUP BY 1, 2
              ) m ON e.conv_id = m.mc AND e.turn_idx = m.mt AND e.lsn = m.ml
            ) TO '{tmp}' (FORMAT PARQUET)
            """
        )
        os.replace(tmp, self.wave_path(wave))
        for f in feed_files:
            os.remove(f)
        self.timings.append(
            {"kind": "wave_fold", "wave": wave,
             "s": round(time.perf_counter() - t0, 1)}
        )

    def _fold_super(self, waves: list[int]) -> None:
        """Fold the running super + the given wave winner tables into a new
        super (associative argmax — same reduce, one level up), then delete
        the folded inputs. Atomic via write-new-then-rename."""
        t0 = time.perf_counter()
        inputs = [self.wave_path(w) for w in waves if os.path.exists(self.wave_path(w))]
        if os.path.exists(self.super_path()):
            inputs.append(self.super_path())
        if not inputs:
            return
        files_sql = "[" + ", ".join(f"'{f}'" for f in inputs) + "]"
        tmp = self.super_path() + ".tmp"
        self.con.execute(
            f"""
            COPY (
              SELECT DISTINCT {WINNER_COLS}
              FROM read_parquet({files_sql}) e
              JOIN (
                SELECT conv_id AS mc, turn_idx AS mt, max(lsn) AS ml
                FROM read_parquet({files_sql}) GROUP BY 1, 2
              ) m ON e.conv_id = m.mc AND e.turn_idx = m.mt AND e.lsn = m.ml
            ) TO '{tmp}' (FORMAT PARQUET)
            """
        )
        os.replace(tmp, self.super_path())
        # ledger BEFORE deleting the inputs: a crash between replace and
        # remove leaves extra wave files (harmless — refolding a wave
        # already in the super is an idempotent argmax), never missing data
        self._record_folded(
            [w for w in waves if self.wave_path(w) in inputs]
        )
        for f in inputs:
            if f != self.super_path():
                os.remove(f)
        self.timings.append(
            {"kind": "super_fold", "n_inputs": len(inputs),
             "s": round(time.perf_counter() - t0, 1)}
        )


def free_gb(path: str) -> float:
    st = os.statvfs(path)
    return st.f_bavail * st.f_frsize / (1 << 30)


def main():
    args = parse_args()
    assert args.n_files % args.wave_files == 0
    os.makedirs(args.workdir, exist_ok=True)
    feed = os.path.join(args.workdir, "feed")
    winners_dir = os.path.join(args.workdir, "winners")
    lake = os.path.join(args.workdir, "lake")
    lineage = os.path.join(args.workdir, "lineage")
    progress_path = (args.out or os.path.join(args.workdir, "run")) + ".progress"
    if not args.resume:
        for d in (feed, winners_dir, lake, lineage):
            if os.path.isdir(d):
                shutil.rmtree(d)
            os.makedirs(d)
        if os.path.exists(progress_path):
            os.remove(progress_path)
    else:
        for d in (feed, winners_dir, lake, lineage):
            os.makedirs(d, exist_ok=True)

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
    spark = get_spark("longrun1e10", parallelism=args.parallelism)
    lane = OracleLane(args.duckdb_threads, winners_dir)
    gen_pool = ThreadPoolExecutor(1)

    table = ParquetLakeTable(spark, lake)
    pipe = CDCIngestPipeline(
        spark, feed, table, lineage_path=lineage,
        config=IngestConfig(
            n_buckets=args.n_buckets, normalize_text=True, adaptive=False,
            compact_threshold=args.compact_threshold,
            major_every=args.major_every, major_shards=args.major_shards,
        ),
    )

    import pyarrow.parquet as pq

    n_waves = args.n_files // args.wave_files
    bpw = -(-args.wave_files // args.files_per_batch)  # batches per wave

    # ---- resume bookkeeping ----
    batches: list[dict] = []
    wave_meta: list[dict] = []
    start_wave = 0
    if args.resume and os.path.exists(progress_path):
        with open(progress_path) as f:
            for line in f:
                rec = json.loads(line)
                if rec.get("kind") == "batch":
                    batches.append(rec)
                elif rec.get("kind") == "wave":
                    wave_meta.append(rec)
        done_waves = {w["wave"] for w in wave_meta}
        start_wave = (max(done_waves) + 1) if done_waves else 0
        print(json.dumps({"resume_from_wave": start_wave}), flush=True)

    progress = open(progress_path, "a")

    def emit(rec: dict) -> None:
        progress.write(json.dumps(rec) + "\n")
        progress.flush()
        print(json.dumps(rec), flush=True)

    def gen_wave(wave: int) -> list[str]:
        w0, w1 = wave * args.wave_files, (wave + 1) * args.wave_files
        t0 = time.perf_counter()
        paths = sorted(
            write_change_stream_parquet(
                feed, cfg, workers=args.gen_workers, file_range=(w0, w1)
            )
        )
        return paths, time.perf_counter() - t0

    if args.resume and start_wave > 0:
        # REPAIR: a crash can kill the oracle lane behind the apply loop —
        # a wave may be applied (wave record present) yet have neither an
        # intact winners file nor membership in the super's folded ledger
        # (its fold was queued or mid-write; wave folds are tmp+rename so a
        # truncated file can never masquerade as done). The feed is
        # deterministic, so such waves are re-generated and re-folded;
        # re-folding a wave already in the super is an idempotent argmax.
        folded = lane.folded_waves()
        for w in range(start_wave):
            if w in folded or os.path.exists(lane.wave_path(w)):
                continue
            emit({"kind": "repair_wave_fold", "wave": w})
            paths, _ = gen_wave(w)
            lane.submit_wave(w, paths)
        lane.drain()

    warmed = args.resume and start_wave > 0
    gen_fut = gen_pool.submit(gen_wave, start_wave)
    for wave in range(start_wave, n_waves):
        # disk guard: block on the oracle lane + force a super fold before
        # generating further if the disk is close to full
        if free_gb(args.workdir) < args.min_free_gb:
            emit({"kind": "disk_guard", "free_gb": round(free_gb(args.workdir), 1)})
            lane.drain()
            lane.submit_super(list(range(wave)))
            lane.drain()
        paths, gen_s = gen_fut.result()
        if wave + 1 < n_waves:
            gen_fut = gen_pool.submit(gen_wave, wave + 1)

        if not warmed:
            # untimed warmup into a scratch table (JIT/codegen, not state)
            wt = ParquetLakeTable(spark, os.path.join(args.workdir, "warm"))
            wp = CDCIngestPipeline(
                spark, feed, wt,
                config=IngestConfig(n_buckets=args.n_buckets,
                                    normalize_text=True,
                                    lineage=False, adaptive=False),
            )
            wp.apply_batch(wp.source.read_batch(paths[:1]), 0)
            warmed = True

        t_apply = time.perf_counter()
        for i in range(0, len(paths), args.files_per_batch):
            bid = wave * bpw + i // args.files_per_batch
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
            if stats.skipped:
                continue  # resume replay of an already-committed batch
            rec = {
                "kind": "batch", "batch": bid, "events": n_ev,
                "wall_s": round(wall, 3), "ev_s": round(n_ev / wall, 1),
                "delta_depth": table.delta_depth(),
                "run_depth": table.run_depth(),
            }
            if expired:
                rec["expired_data_files"] = expired["data_files_removed"]
            batches.append(rec)
            emit(rec)
        apply_s = time.perf_counter() - t_apply

        lane.submit_wave(wave, paths)
        if (wave + 1) % args.fold_every == 0:
            lane.submit_super(
                list(range(wave + 1 - args.fold_every, wave + 1))
            )
        wave_meta.append({
            "kind": "wave", "wave": wave, "gen_s": round(gen_s, 1),
            "apply_s": round(apply_s, 1),
        })
        emit(wave_meta[-1])

    lane.submit_super(list(range(n_waves)))  # fold any unfolded tail
    lane.drain()

    # ---- final reduce (normalization restated) + distributed compare ----
    expected_dir = os.path.join(args.workdir, "expected")
    os.makedirs(expected_dir, exist_ok=True)
    t3 = time.perf_counter()
    lane.con.execute(
        f"""
        COPY (
          SELECT conv_id, turn_idx, role,
                 CASE WHEN text IS NULL THEN NULL ELSE
                   trim(regexp_replace(nfc_normalize(text), '\\s+', ' ', 'g'))
                 END AS text,
                 tool, epoch_us(ts) AS ts_us, tool_meta
          FROM read_parquet('{lane.super_path()}')
          WHERE op <> 'D'
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

    import statistics

    def decile_table(recs: list[dict]) -> list[dict]:
        n = len(recs)
        out = []
        for d in range(10):
            part = recs[d * n // 10 : (d + 1) * n // 10]
            if part:
                out.append({
                    "decile": d,
                    "ev_s_sum": round(sum(b["events"] for b in part)
                                      / sum(b["wall_s"] for b in part), 1),
                    "ev_s_median": round(
                        statistics.median(b["ev_s"] for b in part), 1),
                })
        return out

    batches.sort(key=lambda b: b["batch"])
    deciles = decile_table(batches)
    # steady-state view: drop the fill phase (first wave — empty-table
    # inserts + keyspace fill are a different workload than the sustained
    # update stream; disclosed, not hidden: the overall deciles above keep
    # every batch)
    steady = batches[bpw:] if len(batches) > 2 * bpw else batches
    deciles_steady = decile_table(steady)
    summary = {
        "n_events": sum(b["events"] for b in batches),
        "n_batches": len(batches),
        "n_waves": n_waves,
        "n_convs": args.n_convs,
        "events_per_sec_overall": round(
            sum(b["events"] for b in batches)
            / sum(b["wall_s"] for b in batches), 1),
        "events_per_sec_steady": round(
            sum(b["events"] for b in steady)
            / sum(b["wall_s"] for b in steady), 1),
        "wall_total_s": round(
            sum(w["apply_s"] for w in wave_meta), 1),
        "gen_total_s": round(sum(w["gen_s"] for w in wave_meta), 1),
        "parallelism": args.parallelism,
        "pipelined": "gen and oracle folds overlap apply on background lanes",
        "major_every": args.major_every,
        "major_shards": args.major_shards,
        "compact_threshold": args.compact_threshold,
        "fold_every": args.fold_every,
        "resumed": bool(args.resume),
        "deciles": deciles,
        "last_over_first_sum": round(
            deciles[-1]["ev_s_sum"] / deciles[0]["ev_s_sum"], 3),
        "last_over_first_median": round(
            deciles[-1]["ev_s_median"] / deciles[0]["ev_s_median"], 3),
        "deciles_steady": deciles_steady,
        "steady_last_over_first_sum": round(
            deciles_steady[-1]["ev_s_sum"] / deciles_steady[0]["ev_s_sum"], 3),
        "steady_last_over_first_median": round(
            deciles_steady[-1]["ev_s_median"]
            / deciles_steady[0]["ev_s_median"], 3),
        "worst_batch_wall_s": max(b["wall_s"] for b in batches),
        "median_batch_wall_s": round(
            statistics.median(b["wall_s"] for b in batches), 3),
        "final_state_check": check,
        "oracle_lane": lane.timings,
        "waves": wave_meta,
    }
    if args.note:
        summary["note"] = args.note
    out = json.dumps(summary)
    print(out, flush=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(out + "\n")
    # full per-batch log stays in the .progress sidecar (10k batches would
    # bloat the artifact); keep a compact tail sample in the summary
    spark.stop()


if __name__ == "__main__":
    main()
