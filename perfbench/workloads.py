"""The perfbench workloads: backfill and stream_tail.

Each workload gets a :class:`Ctx` (session, settings, seed, time budget,
scratch directory, optional tracer), builds its inputs from the seed with
``xgeo_spark.fixtures.generator``, warms up, measures for ``seconds`` and
then, outside the timed window, checks the final state against the DuckDB
oracle. It returns its end-to-end values, the measured window and details
for the report.
"""

from __future__ import annotations

import datetime
import glob
import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

import numpy as np

from perfbench import oracle

FEED_MARKER = "cdcfeed"  # directory that holds the change-feed files


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> dict:
    """Highest percentile with at least ten samples beyond it; none while
    that percentile would not even reach the median (under 20 samples)."""
    n = len(xs)
    pct = math.floor(100.0 * (n - 10) / n) if n else 0
    if pct < 50:
        return {"n": n, "pct": None, "value": None}
    ys = sorted(xs)
    return {"n": n, "pct": pct, "value": ys[min(n - 1, int(n * pct / 100.0))]}


def dir_bytes(root: str, suffix: str = ".parquet") -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(root, "**", f"*{suffix}"), recursive=True)
    )


def written_bytes(root: str) -> dict[str, int]:
    """Bytes of committed lake data files by the kind of commit that wrote
    them: ``data/v<N>-<attempt>/`` belongs to version N, whose newest commit
    entry says whether N was an ingest merge or a compaction."""
    kinds = {}
    for p in glob.glob(os.path.join(root, "_versions", "v*.json")):
        with open(p) as f:
            last = (json.load(f).get("commits") or [{}])[-1]
        kinds[int(os.path.basename(p)[1:13])] = (
            "compaction" if last.get("compaction") else "merge")
    out = {"merge": 0, "compaction": 0}
    for d in glob.glob(os.path.join(root, "data", "v*")):
        kind = kinds.get(int(os.path.basename(d)[1:13]))
        if kind:
            out[kind] += dir_bytes(d)
    return out


class Ctx:
    def __init__(self, spark, settings, common, seed, seconds, run_dir, tracer):
        self.spark = spark
        self.s = settings
        self.common = common
        self.seed = seed
        self.seconds = seconds
        self.dir = run_dir
        self.tracer = tracer
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.first_op_wall: float | None = None
        self.checks: dict[str, dict] = {}
        self.corrupt = False
        # measured batches as {"lo", "hi"} (epoch s) and "wall" (s) timed
        # apart from the layer spans, for the traced run's reconcile check
        self.batches: list[dict] = []

    def path(self, *parts) -> str:
        return os.path.join(self.dir, *parts)

    @contextmanager
    def op(self, kind: str):
        """One timed client operation; its wall lands in ``lat[kind]``."""
        if self.first_op_wall is None:
            self.first_op_wall = time.time()
        self.attempted += 1
        cm = self.tracer.span(f"op.{kind}") if self.tracer else nullcontext({})
        t = time.perf_counter()
        try:
            with cm as rec:
                yield rec
        except Exception:
            self.failed += 1
            raise
        self.lat.setdefault(kind, []).append(time.perf_counter() - t)

    def reset_ops(self) -> None:
        """Forget warm-up operations: they are neither timed nor attempted."""
        self.lat.clear()
        self.batches.clear()
        self.attempted = 0
        self.first_op_wall = None

    def check(self, name: str, result: dict) -> None:
        self.attempted += 1
        if not result.get("match"):
            self.failed += 1
        self.checks[name] = result

    def ingest_config(self, **over):
        from xgeo_spark.streaming.pipeline import IngestConfig

        return IngestConfig(
            n_buckets=self.common["n_buckets"],
            normalize_text=self.common["normalize_text"],
            adaptive=self.common["adaptive"],
            **over,
        )

    def stream(self, file_events: int):
        """The workload's change stream: a long seeded stream split into
        ``file_events``-event files, generated file by file on demand."""
        from xgeo_spark.fixtures.generator import ChangeStreamConfig

        n = self.s["stream_events"]
        return ChangeStreamConfig(
            n_events=n,
            n_convs=self.s["n_convs"],
            seed=self.seed,
            n_files=n // file_events,
            schema_change_at=self.s["schema_change_at_event"] / n,
        )


def gen_files(out_dir: str, cfg, lo: int, hi: int) -> list[str]:
    from xgeo_spark.fixtures.generator import write_change_stream_parquet

    if hi > cfg.n_files:
        raise RuntimeError(f"stream exhausted: file {hi} of {cfg.n_files}")
    return write_change_stream_parquet(out_dir, cfg, workers=1, file_range=(lo, hi))


def replay_batch(ctx: Ctx, table, batch_dir: str, batch_id: int, config, lineage: str | None):
    """Apply one directory of feed files as one batch through the public
    bounded-replay API (single-job path: footer schema hint)."""
    from xgeo_spark.streaming.pipeline import CDCIngestPipeline

    pipe = CDCIngestPipeline(ctx.spark, batch_dir, table, lineage_path=lineage,
                             config=config)
    files = sorted(os.listdir(batch_dir))
    return pipe.run_batch_replay(files_per_batch=len(files), start_batch_id=batch_id)


def gate_table(ctx: Ctx, table, feed_dir: str) -> str:
    """Check the final lake against the DuckDB LWW fold of ``feed_dir``
    (every file the run applied); returns the expected table's directory."""
    from tools.longrun_bench import verify_final_state

    if ctx.corrupt:
        oracle.corrupt_one_row(table.root)
    ctx.check("table_vs_oracle", verify_final_state(ctx.spark, feed_dir, table, ctx.dir))
    return ctx.path("expected_final")


def lake_state(root: str) -> dict:
    """Delta depth, live files and manifest size of the newest version."""
    versions = sorted(glob.glob(os.path.join(root, "_versions", "v*.json")))
    with open(versions[-1]) as f:
        raw = f.read()
    m = json.loads(raw)
    deltas = m.get("deltas") or {}
    live = sum(len(v) for v in m["buckets"].values()) + sum(len(v) for v in deltas.values())
    return {
        "lake.delta_depth_max": max((len(v) for v in deltas.values()), default=0),
        "lake.live_files": live,
        "lake.manifest_bytes": len(raw.encode()),
    }


# ------------ query pass (stream_tail, traced, after the stream) ------------

# queries.py functions the query pass runs, with the corpus tables each reads
QUERY_SET = {
    "doc_exact_dedup": ["documents"],
    "doc_simhash_buckets": ["documents"],
    "emb_cosine_topk": ["embeddings"],
    "geo_event_distance": ["events"],
}


def write_corpus(feed_dir: str, out_dir: str, n_rows: int, seed: int) -> None:
    """The query pass's tables, made from the first ``n_rows`` distinct
    events of the applied feed: ``documents`` (events with text),
    ``events`` (event_id = lsn, user_id = conversation number, event_type =
    op) and ``embeddings`` (one seeded 64-dim vector per document)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    src = (f"(SELECT * FROM read_parquet('{feed_dir}/*.parquet', union_by_name=true) "
           'QUALIFY row_number() OVER (PARTITION BY lsn ORDER BY "offset") = 1 '
           f"ORDER BY lsn LIMIT {n_rows})")
    con = duckdb.connect()
    try:
        con.execute(f"""COPY (SELECT row_number() OVER (ORDER BY lsn) - 1 AS doc_id,
                            text, role AS lang FROM {src} WHERE text IS NOT NULL)
                        TO '{out_dir}/documents.parquet' (FORMAT PARQUET)""")
        con.execute(f"""COPY (SELECT lsn AS event_id, ts,
                            CAST(substr(conv_id, 6) AS BIGINT) AS user_id,
                            op AS event_type FROM {src})
                        TO '{out_dir}/events.parquet' (FORMAT PARQUET)""")
    finally:
        con.close()
    n = pq.read_metadata(f"{out_dir}/documents.parquet").num_rows
    rng = np.random.default_rng([seed, 2])
    vecs = rng.standard_normal(n * 64).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32)), pa.array(vecs)),
        "label": pa.array(rng.integers(0, 8, size=n, dtype=np.int32)),
    }), f"{out_dir}/embeddings.parquet")


def query_pass(ctx: Ctx, corpus: str) -> None:
    """Run every query of QUERY_SET once, each timed as one operation
    (plan, execute, collect), and compare each with its oracle."""
    from xgeo_spark import queries

    for name, tables in QUERY_SET.items():
        with ctx.op(f"query.{name}"):
            pdf = getattr(queries, name)(ctx.spark, corpus).toPandas()
        # a golden pin holds one scale's literal output: rows only
        sql = None if name in queries.GOLDEN_PINNED else queries.QUERIES[name][1]
        ctx.check(f"query.{name}", oracle.check_query(pdf, sql, corpus, tables))


class _Client:
    """The closed-loop reader of one lake table: Zipf-hot lookups and a scan
    of the newest ``scan_window_events`` of event time. Only the traced run
    times reads (every run's warm-up has untimed ones): a lookup is a chain
    of short Spark jobs whose wall swings with the host's contention far
    more than an ingest batch's (on the 4-core host, per-run medians of
    0.22-0.52 s for the same code), so its timings are per-layer metrics,
    not end-to-end ones."""

    def __init__(self, ctx: Ctx, table, cfg):
        self.ctx, self.table, self.s = ctx, table, ctx.s
        self.rng = np.random.default_rng([ctx.seed, 1])
        ranks = np.arange(1, self.s["n_convs"] + 1, dtype=np.float64)
        w = 1.0 / ranks ** self.s["lookup_zipf_s"]
        self.weights = w / w.sum()
        self.base_ts = datetime.datetime.fromisoformat(cfg.base_ts)

    def hot_convs(self, n: int) -> list[str]:
        picks = self.rng.choice(self.s["n_convs"], size=n, p=self.weights)
        return [f"conv-{int(c):08d}" for c in picks]

    def warm(self) -> None:
        """The warm-up's untimed lookups, in every run. They bring the
        session's JIT-compiled query path to its steady state: a fresh
        session's lookup keeps getting faster for its first few dozen calls
        (0.40-0.50 s falling to 0.25 s on the 4-core host), and the ingest
        batches share that path: without these lookups stream_tail's
        commit_lag_p50_s had a median of 6.3 s over eight seeds instead of
        3.6 s over ten."""
        for conv in self.hot_convs(self.s["warm_lookups"]):
            self.table.lookup(conv).collect()

    def lookups(self) -> None:
        for conv in self.hot_convs(self.s["lookups"]):
            with self.ctx.op("lookup") as rec:
                rec["rows"] = len(self.table.lookup(conv).collect())

    def scan(self, applied_lsn: int) -> None:
        # the generator stamps the event with lsn N at base_ts + N seconds
        lo = max(applied_lsn - self.s["scan_window_events"], 0)
        with self.ctx.op("scan") as rec:
            rec["live_files"] = lake_state(self.table.root)["lake.live_files"]
            self.table.scan(
                ts_from=self.base_ts + datetime.timedelta(seconds=lo),
                ts_to=self.base_ts + datetime.timedelta(seconds=applied_lsn),
            ).write.format("noop").mode("overwrite").save()


# ---------------- backfill ----------------

def backfill(ctx: Ctx) -> dict:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from xgeo_spark.sinks.parquet_lake import ParquetLakeTable

    s = ctx.s
    fpb = s["files_per_batch"]
    epb = s["events_per_batch"]
    cfg = ctx.stream(epb // fpb)
    config = ctx.ingest_config()
    table = ParquetLakeTable(ctx.spark, ctx.path("lake"))
    lineage = ctx.path("lineage")
    feed = ctx.path(FEED_MARKER)  # every applied file ends up here
    os.makedirs(feed)
    client = _Client(ctx, table, cfg)
    applied: list[str] = []

    def apply(b: int) -> int:
        d = ctx.path("staged", f"b{b:05d}")
        files = gen_files(d, cfg, b * fpb, (b + 1) * fpb)
        lo, t = time.time(), time.perf_counter()
        with ctx.op("apply"):
            replay_batch(ctx, table, d, b, config, lineage)
        ctx.batches.append({"lo": lo, "hi": time.time(), "wall": time.perf_counter() - t})
        rows = sum(pq.read_metadata(f).num_rows for f in files)
        for f in files:
            applied.append(os.path.join(feed, os.path.basename(f)))
            os.replace(f, applied[-1])
        return rows

    # warm-up, untimed: batch 0 (inserts, crossing the schema change), the
    # warm lookups and one scan; the measured batches that follow insert
    # new keys as well
    t = time.perf_counter()
    apply(0)
    client.warm()
    client.scan(epb)
    ctx.reset_ops()
    warmup_s = time.perf_counter() - t

    written0 = written_bytes(table.root)
    feed_bytes0 = sum(os.path.getsize(f) for f in applied)
    events = 0
    t0 = time.perf_counter()
    b = 1
    # closed loop: at least two batches, then another while it can be
    # expected to end inside the window (a batch takes 3-6 s here, so
    # running past the window by a whole batch would stretch the run)
    while b <= 2 or time.perf_counter() - t0 + median(ctx.lat["apply"]) <= ctx.seconds:
        events += apply(b)
        b += 1
    t1 = time.perf_counter()
    if ctx.tracer:  # the reads, on idle cores once the last batch has committed
        client.lookups()
        client.scan(b * epb)

    feed_bytes = sum(os.path.getsize(f) for f in applied) - feed_bytes0
    written = {k: v - written0[k] for k, v in written_bytes(table.root).items()}
    state = lake_state(table.root)
    expected = gate_table(ctx, table, feed)
    sample = sorted(set(client.hot_convs(s["sampled_lookups_checked"])))
    got = None
    for conv in sample:
        df = table.lookup(conv)
        got = df if got is None else got.unionByName(df)
    ctx.check("sampled_lookups", oracle.compare_frames(
        got, ctx.spark.read.parquet(expected).where(F.col("conv_id").isin(sample))))
    applies = ctx.lat.get("apply", [])
    lookups = ctx.lat.get("lookup", [])
    return {
        "window": (t0, t1),
        "warmup_s": warmup_s,
        "e2e": {
            "commit_lag_p50_s": median(applies),
            "apply_events_per_s": events / sum(applies),
            "write_amp": written["merge"] / feed_bytes,
        },
        "layer_extra": state,
        "details": {
            "batches": b - 1, "events": events,
            "apply_wall_s": [round(x, 4) for x in applies],
            "scan_s": ctx.lat.get("scan", []),
            "commit_lag_tail_s": tail(applies),
            "lookup_s": [round(x, 4) for x in lookups],
            "lookup_tail_s": tail(lookups),
            "feed_bytes": feed_bytes, "written_bytes": written,
        },
    }


# ---------------- stream_tail ----------------

class _Versions:
    """Incremental reader of a lake's manifests: (mtime, offset_range) per
    committed ingest version, parsing each manifest once."""

    def __init__(self, root: str):
        self.dir = os.path.join(root, "_versions")
        self.seen: dict[str, tuple[float, tuple[int, int] | None]] = {}

    def refresh(self) -> list[tuple[float, tuple[int, int]]]:
        for p in glob.glob(os.path.join(self.dir, "v*.json")):
            name = os.path.basename(p)
            if name in self.seen:
                continue
            mtime = os.stat(p).st_mtime
            with open(p) as f:
                last = (json.load(f).get("commits") or [{}])[-1]
            rng = last.get("offset_range")
            self.seen[name] = (mtime, tuple(rng) if rng else None)
        return sorted((m, r) for m, r in self.seen.values() if r is not None)

    def committed_through(self) -> int:
        return max((r[1] for _, r in self.refresh()), default=-1)


def _file_offsets(path: str) -> tuple[int, int]:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    mm = pc.min_max(pq.read_table(path, columns=["offset"])["offset"])
    return int(mm["min"].as_py()), int(mm["max"].as_py())


def stream_tail(ctx: Ctx) -> dict:
    from xgeo_spark.sinks.parquet_lake import ParquetLakeTable
    from xgeo_spark.streaming.pipeline import CDCIngestPipeline

    s = ctx.s
    interval = s["interval_s"]
    n_sched = math.ceil(ctx.seconds / interval)
    n_files = s["warmup_files"] + n_sched
    cfg = ctx.stream(s["file_events"])
    staged_dir, watched = ctx.path("staged"), ctx.path(FEED_MARKER)
    os.makedirs(watched)
    t = time.perf_counter()
    staged = gen_files(staged_dir, cfg, 0, n_files)
    offsets = [_file_offsets(p) for p in staged]
    gen_s = time.perf_counter() - t

    def stage(i: int) -> None:
        dst = os.path.join(watched, os.path.basename(staged[i]))
        os.replace(staged[i], dst)
        os.utime(dst)  # the file source orders new files by mtime

    table = ParquetLakeTable(ctx.spark, ctx.path("lake"))
    pipe = CDCIngestPipeline(
        ctx.spark, watched, table, lineage_path=ctx.path("lineage"),
        config=ctx.ingest_config(
            max_files_per_trigger=s["max_files_per_trigger"],
            compact_threshold=s["compact_threshold"],
            major_every=s["major_every"],
        ),
    )
    versions = _Versions(table.root)
    t = time.perf_counter()
    stage(0)
    query = pipe.run_stream(ctx.path("checkpoint"), available_now=False,
                            await_termination=False)
    try:
        # warm-up: one file per micro-batch, each committed before the next
        deadline = time.time() + 180
        for i in range(s["warmup_files"]):
            if i:
                stage(i)
            while versions.committed_through() < offsets[i][1]:
                if time.time() > deadline or not query.isActive:
                    raise RuntimeError("stream warm-up did not commit")
                time.sleep(0.05)
        warm_last = max((_pget(p, "batchId") for p in query.recentProgress), default=-1)
        client = _Client(ctx, table, cfg)
        client.warm()
        ctx.reset_ops()
        warmup_s = time.perf_counter() - t
        written0 = written_bytes(table.root)

        due: list[float] = []
        late: list[float] = []
        t0_wall = time.time() + 0.05
        t0 = time.perf_counter() + 0.05
        ctx.first_op_wall = t0_wall

        def stager():
            for k in range(n_sched):
                d = t0_wall + k * interval
                wait = d - time.time()
                if wait > 0:
                    time.sleep(wait)
                stage(s["warmup_files"] + k)
                due.append(d)
                late.append(max(time.time() - d, 0.0))

        th = threading.Thread(target=stager, name="perfbench-stager", daemon=True)
        th.start()
        last = offsets[-1][1]
        deadline = t0_wall + ctx.seconds + s["drain_timeout_s"]
        while (th.is_alive() or versions.committed_through() < last) \
                and time.time() < deadline and query.isActive:
            time.sleep(0.05)
        th.join()
        ctx.attempted += n_sched
        # let the last micro-batch finish its fold: stopping the query
        # mid-batch would interrupt the fold
        idle = 0
        while idle < 2 and time.time() < deadline and query.isActive:
            idle = idle + 1 if not query.status["isTriggerActive"] else 0
            time.sleep(0.1)
        t_drained = time.perf_counter()
        progress = list(query.recentProgress)
        exc = query.exception()
    finally:
        query.stop()
    if exc is not None:
        raise RuntimeError(f"stream failed: {exc}")
    t1 = time.perf_counter()
    if ctx.tracer:
        # Zipf-hot lookups of the table the stream left, on idle cores: a
        # lookup that overlaps a micro-batch reads slower by however much
        # of the batch it overlaps
        client.lookups()

    commits = versions.refresh()
    lags, uncommitted = [], 0
    times = []
    for k in range(n_sched):
        lo, hi = offsets[s["warmup_files"] + k]
        seen = next((m for m, r in commits if r[0] <= hi <= r[1]), None)
        if seen is None:
            uncommitted += 1
            continue
        lags.append(seen - due[k])
        times.append(seen)
    ctx.failed += uncommitted
    backlog = max(
        (sum(1 for d in due if d <= tt) - sum(1 for c in times if c <= tt) for tt in due),
        default=0,
    )
    # one progress per executed micro-batch after warm-up (idle reports
    # repeat a batch id and carry no addBatch time)
    measured = list({
        _pget(p, "batchId"): p for p in progress
        if _pget(p, "batchId") > warm_last and "addBatch" in _pget(p, "durationMs")
    }.values())
    rows = sum(_pget(p, "numInputRows") for p in measured)
    add_s = sum(_pget(p, "durationMs").get("addBatch", 0) for p in measured) / 1000.0
    feed_bytes = sum(
        os.path.getsize(os.path.join(watched, os.path.basename(staged[s["warmup_files"] + k])))
        for k in range(n_sched)
    )
    written = {k: v - written0[k] for k, v in written_bytes(table.root).items()}
    state = lake_state(table.root)
    # the change-feed propagate and the query pass feed only per-layer
    # metrics, so only the traced run spends the ~10 s they take
    changes_s, query_s = stream_reads(ctx, table, watched) if ctx.tracer else (None, {})
    gate_table(ctx, table, watched)
    for p in measured:
        lo = datetime.datetime.fromisoformat(_pget(p, "timestamp")).timestamp()
        ms = _pget(p, "durationMs")
        ctx.batches.append({"lo": lo, "hi": lo + ms["triggerExecution"] / 1000.0,
                            "wall": ms["addBatch"] / 1000.0})

    def dur(key):
        return median([_pget(p, "durationMs").get(key, 0) / 1000.0 for p in measured])

    return {
        "window": (t0, t1),
        "warmup_s": warmup_s,
        "e2e": {
            "commit_lag_p50_s": median(lags),
            "apply_events_per_s": rows / add_s if add_s else 0.0,
            "write_amp": written["merge"] / feed_bytes,
        },
        "layer_extra": {
            **state,
            "stream.trigger_s": dur("triggerExecution"),
            "stream.add_batch_s": dur("addBatch"),
            "stream.latest_offset_s": dur("latestOffset"),
            "stream.backlog_files_max": backlog,
            "stream.generator_late_s": max(late, default=0.0),
        },
        "details": {
            "rate_events_per_s": s["file_events"] / interval,
            "files_scheduled": n_sched, "files_uncommitted": uncommitted,
            "stream_batches": len(measured), "events": rows,
            "gen_s": round(gen_s, 3), "measured_s": round(t_drained - t0, 3),
            "commit_lag_s": [round(x, 4) for x in lags],
            "commit_lag_tail_s": tail(lags),
            "generator_late_max_s": round(max(late, default=0.0), 4),
            "backlog_files_max": backlog,
            "lookup_s": [round(x, 4) for x in ctx.lat.get("lookup", [])],
            "lookup_tail_s": tail(ctx.lat.get("lookup", [])),
            "feed_bytes": feed_bytes, "written_bytes": written,
            "changes_s": changes_s, "query_s": query_s,
        },
    }


def stream_reads(ctx: Ctx, table, feed_dir: str) -> tuple[float, dict]:
    """After the stream has stopped: one change-feed propagate of every
    commit to a downstream table, checked against the source, and one
    query pass over a corpus made from the applied feed. Returns the
    propagate wall and each query's wall."""
    from xgeo_spark.sinks.parquet_lake import ParquetLakeTable
    from xgeo_spark.streaming.consumer import ChangeFeedConsumer

    downstream = ParquetLakeTable(ctx.spark, ctx.path("downstream"))
    consumer = ChangeFeedConsumer(table, ctx.path("consumer_ckpt"))
    with ctx.op("propagate"):
        consumer.propagate(downstream)
    ctx.check("downstream_vs_source", oracle.compare_frames(downstream.read(), table.read()))
    corpus = ctx.path("corpus")
    write_corpus(feed_dir, corpus, ctx.s["query_rows"], ctx.seed)
    query_pass(ctx, corpus)
    return ctx.lat["propagate"][0], {k: ctx.lat[f"query.{k}"][0] for k in QUERY_SET}


def _pget(p, key):
    """StreamingQueryProgress field, whether pyspark hands out objects or dicts."""
    return p[key] if isinstance(p, dict) else getattr(p, key)


WORKLOADS = {"backfill": backfill, "stream_tail": stream_tail}

