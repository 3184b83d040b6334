"""The CDC ingest pipeline: change feed -> decode -> dedup -> lake merge.

Target-lifecycle shape (SURVEY.md §3.4): ``readStream`` over the
offset-ordered feed -> ``foreachBatch`` -> inside each batch: quarantine
split -> (optional) gated text normalization -> LWW dedup -> schema
diff/evolve -> idempotent MERGE commit -> lineage append. The checkpointed
file-source offsets plus the sink's batch_id stamping give exactly-once:
a crash replays the batch with the same batch_id and the sink skips it.

The same ``apply_batch`` is callable in bounded batch mode (tests, bench)
and from the streaming query — one code path, two drivers, the analogue of
the reference's single pipeline loop (/root/reference/cmd/xgeo/main.go:53-62).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xgeo_spark.sinks.base import LakeTable, MergeStats
from xgeo_spark.sources.change_feed import ChangeFeedSource
from xgeo_spark.streaming.lineage import LineageLog

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

KEY_COLS = ["conv_id", "turn_idx"]


def select_compaction(
    bucket_depths: dict[int, tuple[int, int]],
    n_buckets: int,
    version: int,
    compact_threshold: int,
    major_every: int,
    major_shards: int,
    background_major: bool,
) -> tuple[list[int], list[int]]:
    """The one compaction policy: ``(majors, minors)`` — the buckets to
    major and to minor — from a manifest's per-bucket ``(raw, runs)``
    depths (``ParquetLakeTable.bucket_depths``), its bucket count and its
    version. Pure: the inline trigger, the BackgroundCompactor's poll and
    its drain all decide through it.

    A bucket is DUE once it stacks ``compact_threshold`` raw deltas.
    Inline, a due bucket that has also banked ``major_every - 1`` runs is
    RIPE and majors; the other due buckets minor. Decisions are per
    bucket: a cold bucket parked below the threshold neither forces a
    major nor is dragged into one. With ``background_major`` every due
    bucket minors (the ingest writer folds only those) and every bucket
    that banked ``major_every`` runs majors (the compactor folds only
    those).

    ``major_shards`` caps the majors at ceil(n_buckets / major_shards):
    deepest run stacks first, so a deferred bucket gains priority every
    cycle it waits, ties rotated by ``version`` so the choice is
    round-robin when depths are uniform. Inline, a ripe bucket over the
    cap minors this cycle instead."""
    due = [b for b, (raw, _) in bucket_depths.items() if raw >= compact_threshold]
    if background_major:
        ripe = [b for b, (_, runs) in bucket_depths.items() if runs >= major_every]
    else:
        ripe = [b for b in due if bucket_depths[b][1] >= major_every - 1]
    cap = max(1, -(-n_buckets // max(1, major_shards)))
    if len(ripe) > cap:
        cursor = version % n_buckets
        ripe = sorted(
            ripe, key=lambda b: (-bucket_depths[b][1], (b - cursor) % n_buckets)
        )[:cap]
    chosen = set(ripe)
    minors = sorted(b for b in due if background_major or b not in chosen)
    return sorted(ripe), minors


@dataclass
class IngestConfig:
    n_buckets: int = 64
    max_files_per_trigger: int = 4
    normalize_text: bool = False
    lineage: bool = True
    quarantine_dir: str | None = None
    # The one compaction cadence (``select_compaction`` below), decided per
    # bucket on merge-on-read tables: a bucket that stacks compact_threshold
    # RAW deltas is due. A due bucket that has also banked major_every - 1
    # RUN files gets a MAJOR (base + runs + raw -> new base, O(base));
    # the others get a MINOR (raw -> one collapsed run, base untouched,
    # O(delta window)). The base rewrite amortizes over
    # major_every*compact_threshold batches while read depth stays bounded
    # at base + major_every runs + compact_threshold raw generations
    # (measured +42% sustained ingest over always-major on the identical
    # 105M-event feed, worst pause halved; BASELINE.md). major_every=1 is
    # the always-major setting: unsharded, every due bucket majors and no
    # run is ever written (fewest generations on disk, for read-dominated
    # tables).
    compact_threshold: int = 8
    major_every: int = 4
    # bound the MAJOR-compaction pause: at most ceil(n_buckets/major_shards)
    # buckets are base-rewritten per trigger (highest run-depth first, ties
    # rotated by version for round-robin fairness); buckets over the cap are
    # minor-folded this cycle and majored in a later one. Worst pause then
    # scales with shard size, not table size — at a 10^10-key base an
    # unsharded major is a minutes-long stall. 1 = unsharded.
    major_shards: int = 1
    # hand MAJOR compaction to a concurrent maintenance writer
    # (streaming/compactor.BackgroundCompactor, which majors a bucket once
    # it banks major_every runs): ingest then only ever minor-folds its due
    # buckets and its worst pause drops to that floor. The pipeline does
    # NOT start the compactor itself (it may live in another process) —
    # this flag only stops ingest from majoring inline and arms the
    # conflict-retry budget on its minor folds.
    background_major: bool = False
    # op-'P' partial images ("null means unchanged"): squashed into full
    # rows at ingest via a bucket-pruned read-modify-write
    # (operators/patch.py). Off by default — feeds without patches must
    # not pay the resolver's split joins.
    enable_patches: bool = False
    # RELIABLE-checkpoint root (sc.setCheckpointDir) for iterative
    # operators sharing this session (operators/components.py fixpoint
    # rounds): executor loss with localCheckpoint lineage is fatal on a
    # real cluster, so the CLI wires --checkpoint-dir/reliable here and
    # connected_components picks the session root up automatically.
    checkpoint_dir: str | None = None
    # AQE re-plans every exchange at runtime — pure driver latency for THIS
    # pipeline's merge, whose physical plan is static (explicit repartition
    # on _bucket, no joins; skew is handled by bucket hashing + the salted
    # dedup, not AQE skew-join). ~0.5-1 s per micro-batch on the bench box.
    # Leave True where ad-hoc queries share the session.
    adaptive: bool = True
    extra: dict = field(default_factory=dict)


class CDCIngestPipeline:
    def __init__(
        self,
        spark: SparkSession,
        feed_dir: str,
        table: LakeTable,
        lineage_path: str | None = None,
        config: IngestConfig | None = None,
    ):
        self.spark = spark
        self.source = ChangeFeedSource(spark, feed_dir)
        self.table = table
        self.config = config or IngestConfig()
        self.lineage = (
            LineageLog(spark, lineage_path) if lineage_path and self.config.lineage else None
        )
        if not self.config.adaptive:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        if self.config.checkpoint_dir:
            spark.sparkContext.setCheckpointDir(self.config.checkpoint_dir)
        if not table.exists():
            table.create(TRANSCRIPT_SCHEMA, KEY_COLS, n_buckets=self.config.n_buckets)

    # ---------- the one batch applier ----------

    def apply_batch(
        self,
        batch_df: DataFrame,
        batch_id: int | None,
        max_sv_hint: int | None = None,
    ) -> MergeStats:
        """Apply one micro-batch.

        ``max_sv_hint``: the batch's max schema_version, when the caller can
        derive it without a Spark job (bounded parquet replay reads it from
        the file footers). With the hint, the batch runs as ONE Spark job:
        the metrics the slow path pre-aggregates (offset range, row/delete
        counts, bytes) ride the merge's own scan via ``observe`` and are
        collected after the write, and lineage records per-storage-bucket
        output rows from the written files' footers. Without it (streaming
        foreachBatch — where Observation deadlocks — and JSON feeds), the
        original pre-aggregation pass runs.
        """
        good, bad = ChangeFeedSource.split_good_bad(
            batch_df, allow_patches=self.config.enable_patches
        )

        n_bad = 0
        if self.config.quarantine_dir is not None:
            # plain count + write; Observation would deadlock under
            # streaming foreachBatch (see sinks/parquet_lake.py note)
            n_bad = bad.count()
            if n_bad:
                bad.write.mode("append").json(self.config.quarantine_dir)

        # With patches enabled, stay on the pre-aggregation path even when a
        # footer hint exists: (a) its metrics are taken BEFORE the resolver
        # rewrites the batch, so lineage describes the wire events on both
        # paths identically; (b) the single-job path's Observation would sit
        # upstream of the resolver's semi/anti split, which references the
        # observed node twice in one action.
        if max_sv_hint is not None and not self.config.enable_patches:
            return self._apply_batch_single_job(good, batch_id, max_sv_hint, n_bad)

        # ONE pre-aggregation pass over the batch computes everything the
        # driver needs before the merge: per-partition lineage metrics,
        # offset range and max schema_version (did v2 rows arrive yet?).
        # All map-side combined on spark_partition_id — no meaningful
        # shuffle. The pass reads four columns (offset, op, schema_version
        # and text for its byte length), so column pruning reaches the
        # scan; this is deliberately CHEAPER than caching the batch — a
        # persist would write+read the whole decoded batch through the
        # memory store and, at 10^7-row micro-batches on real executors,
        # compete with the shuffle for memory. Two scans, one of them skeletal, beat one scan + a
        # materialized cache. (approx_bytes is therefore over the RAW text;
        # it is an approximation either way.)
        pm = (
            good.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.min("offset").alias("offset_start"),
                F.max("offset").alias("offset_end"),
                F.count(F.lit(1)).alias("rows_in"),
                F.sum(F.octet_length(F.coalesce(F.col("text"), F.lit("")))).alias(
                    "approx_bytes"
                ),
                F.max(F.coalesce(F.col("schema_version"), F.lit(1))).alias("max_sv"),
                F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("deletes_in"),
            )
            .collect()
        )
        partition_rows = [r.asDict() for r in pm]

        offs = [
            (r["offset_start"], r["offset_end"])
            for r in partition_rows
            if r["offset_start"] is not None
        ]
        offset_range = (
            (min(o[0] for o in offs), max(o[1] for o in offs)) if offs else None
        )

        # events whose source file predates the schema change simply lack
        # tool_meta (all-null) — dropping the all-null column lets the sink
        # observe the batch's TRUE schema and evolve only when v2 arrives.
        max_sv = max((r["max_sv"] or 1 for r in partition_rows), default=1)
        if "tool_meta" in good.columns and max_sv < 2:
            good = good.drop("tool_meta")
        # AFTER the all-null-column drop: the resolver's read-modify-write
        # may re-introduce table columns (with preserved values) that this
        # batch's wire version doesn't carry yet
        good = self._resolve_patches_if_enabled(good)

        stats = self.table.merge(
            self._normalized(good),
            batch_id=batch_id,
            offset_range=offset_range,
            stats_hints={
                "rows_in": sum((r["rows_in"] or 0) for r in partition_rows),
                "deletes_in": sum((r["deletes_in"] or 0) for r in partition_rows),
            },
        )
        if self.lineage is not None:
            self.lineage.append(stats, partition_rows, rows_quarantined=n_bad)
        self._maybe_compact(stats)
        return stats

    def _resolve_patches_if_enabled(self, good: DataFrame) -> DataFrame:
        if not self.config.enable_patches:
            return good
        from xgeo_spark.operators.patch import resolve_patches

        return resolve_patches(good, self.table, KEY_COLS)

    def _normalized(self, good: DataFrame) -> DataFrame:
        """The batch with ``text`` normalized, if the config asks for it.

        The column goes in BEFORE the merge's shuffle, so its Python
        crossing (gated: only rows NFC can change carry their text) runs in
        the scan stage, once per scan task. A Python worker costs ~0.24
        CPU-s per task (4-core host) whatever its row count, which the
        merge's reduce stage would pay in each of its min(n_buckets,
        slots) tasks. The LWW order (lsn, ts, op_rank) never reads the
        payload and the normalization is a deterministic function of one
        row, so the same rows survive the dedup either way.
        """
        if not self.config.normalize_text:
            return good
        from xgeo_spark.functions.text import normalize_text_col

        return good.withColumn("text", normalize_text_col(F.col("text")))

    def _maybe_compact(self, stats: MergeStats) -> None:
        # amortized read-cost control for merge-on-read tables. Runs AFTER
        # the idempotent commit, as its own version(s) — a crash between
        # commit and compaction loses nothing (the next batch just
        # compacts instead).
        from xgeo_spark.sinks.parquet_lake import ParquetLakeTable

        if stats.skipped or not isinstance(self.table, ParquetLakeTable):
            return
        c = self.config
        m = self.table.manifest()
        majors, minors = select_compaction(
            self.table.bucket_depths(m), m["n_buckets"], m["version"],
            c.compact_threshold, c.major_every, c.major_shards,
            c.background_major,
        )
        if c.background_major:
            # majors are the BackgroundCompactor's; the minor races it, so
            # it needs a conflict budget (the rebase is metadata-only; see
            # sinks/parquet_lake._fold)
            if minors:
                self.table.compact_minor(buckets=minors, max_commit_retries=10)
            return
        if majors:
            self.table.compact(buckets=majors)
        if minors:
            self.table.compact_minor(buckets=minors)

    def _apply_batch_single_job(
        self, good: DataFrame, batch_id: int | None, max_sv: int, n_bad: int
    ) -> MergeStats:
        """ONE-Spark-job batch apply (see apply_batch docstring): metrics
        observe-ride the merge scan, per-bucket lineage comes from written
        parquet footers — no pre-aggregation pass, no extra scan."""
        from pyspark.sql import Observation

        if "tool_meta" in good.columns and max_sv < 2:
            good = good.drop("tool_meta")
        # no patch resolution here: patch-enabled batches take the
        # pre-aggregation path (see apply_batch), so this path only ever
        # sees full-image events

        obs = Observation()
        good = good.observe(
            obs,
            F.min("offset").alias("offset_start"),
            F.max("offset").alias("offset_end"),
            F.count(F.lit(1)).alias("rows_in"),
            F.sum(F.octet_length(F.coalesce(F.col("text"), F.lit("")))).alias(
                "approx_bytes"
            ),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("deletes_in"),
        )
        # normalized after the observe, so lineage measures the raw text
        stats = self.table.merge(
            self._normalized(good),
            batch_id=batch_id,
            post_write_stats=lambda: obs.get,
        )
        if self.lineage is not None:
            self.lineage.append(
                stats,
                self._bucket_lineage_rows(stats),
                rows_quarantined=n_bad,
            )
        self._maybe_compact(stats)
        return stats

    def _bucket_lineage_rows(self, stats: MergeStats) -> list[dict]:
        """Per-storage-bucket lineage from the written files' footers (a
        handful of driver-side metadata reads; no Spark job). partition_id
        carries the BUCKET id here — the audit unit that matters at the
        sink. Only possible for locally-readable paths; degrades to the
        batch summary row alone otherwise."""
        from xgeo_spark.sinks.parquet_lake import ParquetLakeTable

        if not stats.written_files or not isinstance(self.table, ParquetLakeTable):
            return []
        root = self.table.root
        if root.startswith("file:"):
            # strip the URI scheme so the local pyarrow reader can open it
            # (file:/p and file:///p both mean /p)
            root = "/" + root.split(":", 1)[1].lstrip("/")
        elif "://" in root:
            return []
        import pyarrow.parquet as pq

        rows = []
        for b, files in sorted(stats.written_files.items()):
            try:
                n = sum(
                    pq.read_metadata(os.path.join(root, f)).num_rows for f in files
                )
            except Exception:
                continue  # one unreadable footer drops ONE bucket row only
            rows.append({"partition_id": int(b), "rows_in": n})
        return rows

    # ---------- snapshot bootstrap (initial load) ----------

    # bootstrap commits as batch -1 so (a) a crash-and-rerun of the
    # bootstrap itself is skipped by the sink's batch_id idempotency and
    # (b) feed batches keep their natural 0-based ids afterwards.
    BOOTSTRAP_BATCH_ID = -1

    def bootstrap_snapshot(
        self,
        snapshot_df: DataFrame,
        watermark_lsn: int,
        schema_version: int | None = None,
    ) -> MergeStats:
        """Initial-load bootstrap: seed the lake from a consistent source
        snapshot taken at ``watermark_lsn``, then tail the feed (the
        snapshot-then-stream pattern of binlog CDC connectors — the
        reference has no recovery notion at all, its analogue is rerunning
        the whole file: /root/reference/cmd/xgeo/main.go:41-50).

        Every snapshot row is stamped ``op='U', lsn=watermark``. That is
        sufficient for convergence WITHOUT filtering the feed: the
        snapshot at W is by definition the LWW fold of all events with
        lsn <= W, so on replay any event with lsn < W loses to the
        snapshot row, and an event with lsn == W rewrites an identical
        value. Events with lsn > W win as they must. Hence
        bootstrap + full replay == plain full replay, and
        bootstrap + tail replay (``run_batch_replay(min_lsn=W)``) skips
        the history entirely — at 10^10 events that's the difference
        between reading the feed's full retention and reading one day.

        ``schema_version``: the snapshot's wire version when the caller
        knows it (same contract as ``_sv_hint``); a v1 snapshot drops its
        all-null ``tool_meta`` so the table evolves only when v2 events
        actually arrive.
        """
        sv = int(schema_version or 1)
        if sv < 2 and "tool_meta" in snapshot_df.columns:
            snapshot_df = snapshot_df.drop("tool_meta")
        ev = snapshot_df.select(
            F.lit(int(watermark_lsn)).cast("long").alias("lsn"),
            F.lit(int(watermark_lsn)).cast("long").alias("offset"),
            F.lit("U").alias("op"),
            F.lit(sv).cast("int").alias("schema_version"),
            F.lit(None).cast("string").alias("_corrupt"),
            F.lit("U").alias("_op"),
            "*",
        )
        return self.apply_batch(ev, self.BOOTSTRAP_BATCH_ID, max_sv_hint=sv)

    @staticmethod
    def _file_entirely_below_lsn(path: str, watermark: int) -> bool:
        """True iff the parquet footer PROVES every event in ``path`` has
        lsn <= watermark (per-row-group column statistics — the same
        data-skipping contract as the lake's scan()). Non-parquet feeds
        and unreadable/statless footers conservatively return False; those
        files are read and LWW discards their stale rows."""
        if not path.endswith(".parquet"):
            return False
        try:
            import pyarrow.parquet as pq

            md = pq.read_metadata(path)
            mx = None
            for rg in range(md.num_row_groups):
                grp = md.row_group(rg)
                for ci in range(grp.num_columns):
                    col = grp.column(ci)
                    if col.path_in_schema != "lsn":
                        continue
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        return False
                    mx = st.max if mx is None else max(mx, st.max)
            return mx is not None and mx <= watermark
        except Exception:
            return False

    # ---------- bounded replay (tests / bench) ----------

    def _tune_input_splits(self, file_paths: list[str]) -> None:
        """Size input splits so the scan/decode stage exposes ~3 tasks per
        core. The default 128 MB split bin-packs a micro-batch's files into
        a handful of tasks, capping decode parallelism at a constant no
        matter how many executors exist — measured as flat 8->32-core
        scaling. Split planning reads this conf per action, so setting it
        before each batch is enough. (Bounded-replay path only; on a real
        cluster the submit config owns these knobs.)"""
        try:
            total = sum(os.path.getsize(p) for p in file_paths)
        except OSError:
            return
        cores = self.spark.sparkContext.defaultParallelism
        split = min(max(total // max(3 * cores, 1), 1 << 20), 128 << 20)
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        self.spark.conf.set(
            "spark.sql.files.openCostInBytes", str(min(split, 4 << 20))
        )

    def run_batch_replay(
        self,
        files_per_batch: int = 2,
        start_batch_id: int = 0,
        min_lsn: int | None = None,
    ) -> list[MergeStats]:
        """Bounded replay of the whole feed directory.

        ``min_lsn``: resume watermark (see ``bootstrap_snapshot``) — feed
        files whose parquet footer stats prove max(lsn) <= min_lsn are
        skipped without being read, and surviving batches filter
        lsn <= min_lsn rows out at scan time (pushed-down predicate;
        corrupt rows keep flowing to quarantine). Correctness does not
        depend on the skipping — LWW already discards stale events — it
        is purely an I/O reduction, which is why the footer check may be
        conservative."""
        files = sorted(
            os.path.join(self.source.feed_dir, f)
            for f in os.listdir(self.source.feed_dir)
            if f.endswith((".jsonl", ".jsonl.gz", ".jsonl.bz2", ".parquet"))
        )
        if min_lsn is not None:
            files = [
                f for f in files if not self._file_entirely_below_lsn(f, min_lsn)
            ]
        out = []
        bid = start_batch_id
        for i in range(0, len(files), files_per_batch):
            chunk = files[i : i + files_per_batch]
            self._tune_input_splits(chunk)
            batch = self.source.read_batch(chunk)
            if min_lsn is not None:
                batch = batch.filter(
                    F.col("lsn").isNull() | (F.col("lsn") > F.lit(min_lsn))
                )
            out.append(
                self.apply_batch(batch, bid, max_sv_hint=self._sv_hint(chunk))
            )
            bid += 1
        return out

    @staticmethod
    def _sv_hint(chunk: list[str]) -> int | None:
        """Batch max schema_version from parquet footers (driver-side, no
        Spark job): v2 wire files carry the tool_meta column, v1 files
        don't — presence IS the schema intent for the parquet wire format.
        None (-> pre-aggregation path) for JSON feeds, where only a scan
        can tell."""
        if not chunk or not all(p.endswith(".parquet") for p in chunk):
            return None
        try:
            import pyarrow.parquet as pq

            return (
                2
                if any("tool_meta" in pq.read_schema(p).names for p in chunk)
                else 1
            )
        except Exception:  # unreadable/remote footer -> pre-aggregation path
            return None

    # ---------- streaming ----------

    def run_stream(
        self,
        checkpoint_dir: str,
        available_now: bool = True,
        await_termination: bool = True,
    ):
        # per-trigger input ≈ max_files_per_trigger average-sized files;
        # size the splits once at stream start so the decode stage of every
        # micro-batch exposes ~3 tasks per core (same rationale as the
        # bounded-replay per-batch tuning above)
        try:
            sizes = [
                os.path.getsize(os.path.join(self.source.feed_dir, f))
                for f in os.listdir(self.source.feed_dir)
            ]
            if sizes:
                per_trigger = (
                    sum(sizes) / len(sizes) * self.config.max_files_per_trigger
                )
                cores = self.spark.sparkContext.defaultParallelism
                split = int(min(max(per_trigger // max(3 * cores, 1), 1 << 20), 128 << 20))
                self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
                self.spark.conf.set(
                    "spark.sql.files.openCostInBytes", str(min(split, 4 << 20))
                )
        except OSError:
            pass
        stream = self.source.read_stream(self.config.max_files_per_trigger)

        def _for_each_batch(batch_df: DataFrame, batch_id: int) -> None:
            self.apply_batch(batch_df, batch_id)

        writer = (
            stream.writeStream.foreachBatch(_for_each_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        query = writer.start()
        if await_termination:
            query.awaitTermination()
        return query
