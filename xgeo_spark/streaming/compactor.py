"""Background MAJOR compaction — a concurrent maintenance writer.

Takes base rewrites OFF the ingest path entirely: the ingest writer keeps
committing O(batch) delta appends (plus O(delta window) minor folds),
while this compactor runs the O(base) major folds from its own thread,
committing through the optimistic-concurrency path
(``ParquetLakeTable.compact(max_commit_retries=...)``). A lost manifest
race is almost always resolved by the METADATA-level rebase there — an
ingest commit only appends deltas, so the fold stays valid — and the rare
invalidating race (ingest minor-folded the same raws first) falls back to
recomputing against a fresh manifest. Worst-case ingest pause therefore
drops to the minor-fold floor; the major's cost moves to spare cluster
capacity, exactly the Iceberg/Delta "maintenance as a separate job" model.

The reference has no maintenance notion at all — its sink is a single
order-preserving writer loop (/root/reference/cmd/xgeo/main.go:53-62);
this is that sink's lifecycle upgraded per the north rule.

Threading: one compactor thread per table. PySpark supports concurrent
job submission from multiple threads of one SparkSession; ingest and
compaction jobs share executor cores (on a real cluster, point the
compactor at a separate scheduler pool or run it as its own
spark-submit job against the same table root — the commit protocol is
process-agnostic, it races through the filesystem).
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass, field

from xgeo_spark.sinks.parquet_lake import CommitConflictError, ParquetLakeTable
from xgeo_spark.streaming.pipeline import select_compaction

_POOL = "spark.scheduler.pool"


@dataclass
class CompactorStats:
    majors: int = 0
    conflicts_recomputed: int = 0
    buckets_rewritten: int = 0
    errors: int = 0
    pauses: list = field(default_factory=list)  # (t_start, seconds, n_buckets)


class BackgroundCompactor:
    """Polls a MoR table's per-bucket run depth and majors ripe buckets,
    chosen by the pipeline's policy (``pipeline.select_compaction`` with
    ``background_major``).

    ``major_every``: a bucket is ripe once it has banked this many minor
    runs. ``major_shards``: cap per major at ceil(n_buckets/shards)
    buckets, deepest-first — bounds each Spark job so one poll never turns
    into a full-table rewrite.
    """

    def __init__(
        self,
        table: ParquetLakeTable,
        major_every: int = 4,
        major_shards: int = 1,
        poll_seconds: float = 0.25,
        max_commit_retries: int = 20,
    ):
        self.table = table
        self.major_every = max(1, major_every)
        self.major_shards = max(1, major_shards)
        self.poll_seconds = poll_seconds
        self.max_commit_retries = max_commit_retries
        self.stats = CompactorStats()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._error: BaseException | None = None

    # ---------- one decision + fold ----------

    def ripe_buckets(self) -> list[int]:
        m = self.table.manifest()
        majors, _ = select_compaction(
            self.table.bucket_depths(m), m["n_buckets"], m["version"],
            # the threshold only shapes the ingest writer's minors
            compact_threshold=1, major_every=self.major_every,
            major_shards=self.major_shards, background_major=True,
        )
        return majors

    def run_once(self) -> int:
        """One poll: major the ripe buckets (if any). Returns buckets
        rewritten. A conflict that survives the rebase budget is counted
        and retried on the next poll against a fresh manifest — never
        fatal to ingest."""
        ripe = self.ripe_buckets()
        if not ripe:
            return 0
        t0 = time.monotonic()
        try:
            self.table.compact(
                buckets=ripe, max_commit_retries=self.max_commit_retries
            )
        except CommitConflictError:
            self.stats.conflicts_recomputed += 1
            return 0
        dt = time.monotonic() - t0
        self.stats.majors += 1
        self.stats.buckets_rewritten += len(ripe)
        self.stats.pauses.append((t0, dt, len(ripe)))
        return len(ripe)

    # ---------- thread lifecycle ----------

    @contextlib.contextmanager
    def _maintenance_pool(self):
        """Run the block's jobs in the low-weight "maintenance" scheduler
        pool (xgeo_spark/conf/fairscheduler.xml via session.py): under FAIR
        mode an in-flight major shares task slots with ingest at 1:4
        instead of parking ingest behind it FIFO. The pool is a
        thread-local property; the thread's previous pool is restored."""
        sc = self.table.spark.sparkContext
        prev = sc.getLocalProperty(_POOL)
        sc.setLocalProperty(_POOL, "maintenance")
        try:
            yield
        finally:
            sc.setLocalProperty(_POOL, prev)

    def _loop(self) -> None:
        with self._maintenance_pool():
            while not self._stop.is_set():
                try:
                    if self.run_once() == 0:
                        self._stop.wait(self.poll_seconds)
                except FileNotFoundError:
                    # table not created yet — keep polling
                    self._stop.wait(self.poll_seconds)
                except BaseException as e:  # noqa: BLE001 — surfaced in stop()
                    self.stats.errors += 1
                    self._error = e
                    return

    def start(self) -> "BackgroundCompactor":
        if self._thread is not None:
            raise RuntimeError("compactor already started")
        try:
            # propagates job-group/local properties and avoids py4j
            # pinned-thread leaks under PYSPARK_PIN_THREAD
            from pyspark import InheritableThread

            self._thread = InheritableThread(target=self._loop, daemon=True)
        except ImportError:
            self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self, drain: bool = True, timeout: float = 600.0) -> CompactorStats:
        """Stop the loop. ``drain=True`` runs one final fold pass after
        the thread exits, in the maintenance pool like the loop's, so a
        table left with ripe buckets at shutdown is read-optimized.
        Re-raises any error the thread died on."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout)
            self._thread = None
        if self._error is not None:
            raise self._error
        if drain:
            with self._maintenance_pool():
                self.run_once()
        return self.stats

    def __enter__(self) -> "BackgroundCompactor":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop(drain=not any(exc))
