"""Parquet-backed lake table with Iceberg-style commit semantics.

Why this exists: the sandbox has no Iceberg runtime jars, but the north
rule's sink contract (idempotent MERGE, snapshot stamped with the batch's
offset range, schema evolution, replay-after-kill convergence) is about
*semantics*, not the jar. This implementation provides those semantics on
plain parquet + a JSON manifest, with the same interface the Iceberg sink
implements, so swapping in real Iceberg is a config change.

Physical layout (all data files immutable, commits are manifest swaps):

    <root>/
      _versions/v<NNN>.json        # manifest per committed version
      data/v<NNN>-<attempt>/_bucket=<K>/*.parquet   # attempt-unique dirs

The CURRENT version is the highest committed manifest — discovered by
listing ``_versions/``, never by a mutable pointer file. A commit is a
write-to-temp + rename-with-overwrite=false of ``v<N>.json``: atomic on
HDFS/file:, and two drivers racing version N deterministically leave one
winner (the loser's rename fails → commit conflict). All driver-side IO
goes through the Hadoop FileSystem API (see fsio.py), so the same code
runs against file: in tests and HDFS/S3A on a cluster.

Merge-on-read (Iceberg's MoR): a merge appends the batch's deduped rows as
DELTA files per bucket — write cost is O(batch), independent of table
size. Reads union base+delta and reduce to the last writer per key
(`max_by` over (lsn, commit-seq); ``read()``/``lookup()`` plan a partial
aggregate below their exchange, so duplicates combine map-side there).
``compact_minor()`` folds a bucket's raw deltas into one run file and
``compact()`` folds base+runs+raw into a new base; the
pipeline's one policy (``streaming.pipeline.select_compaction``) decides
per bucket when each runs, amortizing read cost while keeping ingest
O(batch). At 10^10 events this is the difference between ingest
throughput degrading linearly with table size and staying flat. A
manifest written by an older copy-on-write table (``"mode": "cow"``, no
deltas) reads and merges exactly like any other.

Scale design:
- The table is hash-bucketed on the key's conv_id (``pmod(xxhash64(conv_id),
  n_buckets)``) — the moral equivalent of Iceberg's ``bucket(N, conv_id)``
  hidden partitioning. At 100 TB you raise ``n_buckets`` (e.g. 4096) so each
  rewrite/compaction unit stays executor-sized.
- **One shuffle per bucketed write** (merge, fold, rebucket): the input is
  repartitioned by ``_bucket`` FIRST, into ``min(buckets the write can
  touch, executor slots)`` partitions (``_by_bucket``), and the LWW dedup
  groups on ``(_bucket, key...)`` — because ``HashPartitioning(_bucket)``
  satisfies the aggregate's clustered distribution (``_bucket`` ⊆
  grouping keys), Catalyst inserts no second exchange. Each reduce task
  holds every row of the several whole buckets hashed to it, and the
  ``partitionBy`` write emits one file per bucket with no further
  movement. The aggregate sits after the exchange, so duplicates cross
  the shuffle uncombined (shuffle records = input rows).
- Deletes are tombstones (``_deleted`` + ``_lsn`` retained), so a late,
  lower-lsn update arriving AFTER a delete cannot resurrect the key —
  replay converges regardless of arrival order.
- Idempotency: the manifest records ``last_batch_id``; merging a batch_id
  <= last committed is a no-op (streaming foreachBatch replays batches
  after a crash with the same batch_id).
- ``_seq`` (the commit version that wrote each row) totally orders writers
  at equal lsn: a redelivered duplicate is identical anyway, and an update
  re-applied by replay wins over the base copy deterministically.
"""

from __future__ import annotations

import json
import posixpath
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xgeo_spark.operators.dedup import lww_dedup_agg
from xgeo_spark.plans.schema_evolution import evolve_schema
from xgeo_spark.sinks.base import LakeTable, MergeStats
from xgeo_spark.sinks.fsio import HadoopFS

_SYS_FIELDS = [
    T.StructField("_lsn", T.LongType(), True),
    T.StructField("_seq", T.LongType(), True),
    T.StructField("_deleted", T.BooleanType(), True),
]

_VERSION_RE = re.compile(r"^v(\d{12})\.json$")


def _bucket_expr(conv_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(conv_col)), F.lit(n_buckets)).cast("int")


def _by_bucket(df: DataFrame, conv_col: str, n_buckets: int, groups: int) -> DataFrame:
    """``df`` with its ``_bucket`` column, hash-partitioned on it into
    ``min(groups, executor slots)`` partitions — the one shuffle width of
    every bucketed write (merge, fold, rebucket). ``groups`` is the number
    of buckets the write can touch. A bucket's rows all land in one task,
    so the ``partitionBy("_bucket")`` write still emits one file per
    bucket; a task just holds several buckets instead of paying one task
    (and one task commit) per bucket."""
    width = max(1, min(groups, df.sparkSession.sparkContext.defaultParallelism))
    return df.withColumn("_bucket", _bucket_expr(conv_col, n_buckets)).repartition(
        width, "_bucket"
    )


class CommitConflictError(RuntimeError):
    """Another writer committed this version first (optimistic concurrency)."""


class ParquetLakeTable(LakeTable):
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.fs = HadoopFS(spark, root)

    # ---------- manifest plumbing ----------

    def _versions_dir(self) -> str:
        return posixpath.join(self.root, "_versions")

    def _manifest_path(self, version: int) -> str:
        return posixpath.join(self._versions_dir(), f"v{version:012d}.json")

    def _list_versions(self) -> list[int]:
        out = []
        for name in self.fs.list_names(self._versions_dir()):
            m = _VERSION_RE.match(name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def exists(self) -> bool:
        return bool(self._list_versions())

    def current_version(self) -> int:
        versions = self._list_versions()
        if not versions:
            raise FileNotFoundError(f"no committed versions under {self.root}")
        return versions[-1]

    def _load_manifest(self, version: int) -> dict:
        return json.loads(self.fs.read_text(self._manifest_path(version)))

    def manifest(self) -> dict:
        return self._load_manifest(self.current_version())

    def _commit(self, manifest: dict) -> None:
        v = manifest["version"]
        try:
            self.fs.write_text_commit(
                self._manifest_path(v), json.dumps(manifest, indent=1)
            )
        except FileExistsError as e:
            raise CommitConflictError(str(e)) from e

    # ---------- file statistics (manifest-level data skipping) ----------

    def _local_data_root(self) -> str | None:
        """Local-POSIX view of the table root, or None when the root is on
        a remote filesystem (s3a://, hdfs://...)."""
        root = self.root
        if root.startswith("file:"):
            return "/" + root.split(":", 1)[1].lstrip("/")
        if "://" in root:
            return None
        return root

    @staticmethod
    def _ts_us(value) -> int | None:
        """Epoch microseconds for a datetime (naive = UTC, matching the
        pinned session timezone); passthrough for ints; None for None."""
        if value is None:
            return None
        if isinstance(value, (int, float)):
            return int(value)
        import datetime as _dt

        if value.tzinfo is not None:
            value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return int(
            (value - _dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000
        )

    @staticmethod
    def _ts_bound_lit(v):
        """Residual-filter literal for a ts bound: ints/floats are epoch
        MICROSECONDS (the same unit ``_ts_us`` uses for manifest pruning —
        a raw numeric literal would be a type error against a timestamp
        column), datetimes pass through."""
        if isinstance(v, (int, float)):
            return F.timestamp_micros(F.lit(int(v)))
        return F.lit(v)

    def _collect_file_stats(self, written: dict[int, list[str]]) -> dict[str, dict]:
        """Per-file (rows, _lsn min/max, ts min/max) from the just-written
        parquet footers — the Iceberg-manifest-statistics analogue that lets
        readers plan file sets without opening data files. At 100 TB these
        stats are why a time-bounded or key-bounded read touches 0.1% of
        the table instead of listing-and-scanning all of it.

        Footers are read driver-side (a handful of metadata-only reads per
        commit, same pattern as Iceberg's commit-time manifest write). Only
        possible for locally-readable roots in this sandbox; on a remote
        root stats are simply absent and every reader degrades to the
        unpruned plan — never to wrong results."""
        root = self._local_data_root()
        if root is None:
            return {}
        import pyarrow as pa
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        for files in written.values():
            for rel in files:
                try:
                    md = pq.read_metadata(posixpath.join(root, rel))
                    idx = {
                        md.schema.column(i).name: i
                        for i in range(md.num_columns)
                    }
                    stat = {
                        "rows": md.num_rows,
                        "lsn_min": None, "lsn_max": None,
                        "ts_min": None, "ts_max": None,
                        "seq_min": None, "seq_max": None,
                    }
                    for col, lo_k, hi_k, conv in (
                        ("_lsn", "lsn_min", "lsn_max", int),
                        ("ts", "ts_min", "ts_max", self._ts_us),
                        ("_seq", "seq_min", "seq_max", int),
                    ):
                        if col not in idx:
                            continue
                        los, his = [], []
                        for rg in range(md.num_row_groups):
                            s = md.row_group(rg).column(idx[col]).statistics
                            if s is None or s.min is None or s.max is None:
                                los = []
                                break
                            los.append(s.min)
                            his.append(s.max)
                        if los:
                            stat[lo_k] = conv(min(los))
                            stat[hi_k] = conv(max(his))
                    out[rel] = stat
                except (OSError, pa.ArrowInvalid):
                    # an unreadable footer: absent stats for THIS file only
                    # -> unprunable. Anything else is a bug and surfaces.
                    continue
        return out

    @staticmethod
    def _carry_stats(m: dict, new_buckets: dict, new_deltas: dict,
                     fresh: dict[str, dict]) -> dict[str, dict]:
        """file_stats for the next manifest: prior stats for files still
        referenced, plus this commit's fresh ones (bounds manifest growth —
        stats leave with their files)."""
        live = {
            f
            for coll in (new_buckets, new_deltas)
            for fl in coll.values()
            for f in fl
        }
        prior = m.get("file_stats") or {}
        out = {f: s for f, s in prior.items() if f in live}
        out.update(fresh)
        return out

    # ---------- schema ----------

    @property
    def user_schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.manifest()["schema"]))

    def _physical_schema(self, user: T.StructType | None = None) -> T.StructType:
        user = user or self.user_schema
        return T.StructType(list(user.fields) + _SYS_FIELDS)

    # ---------- lifecycle ----------

    def create(
        self,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 64,
    ) -> None:
        if self.exists():
            raise ValueError(f"table already exists at {self.root}")
        manifest = {
            "version": 0,
            "schema": json.dumps(schema.jsonValue()),
            "key_cols": key_cols,
            "n_buckets": n_buckets,
            "last_batch_id": None,
            "buckets": {},      # bucket -> base files
            "deltas": {},       # bucket -> delta files (raw + runs)
            "file_stats": {},   # file -> rows/_lsn/ts min-max (data skipping)
            "commits": [],
        }
        self._commit(manifest)

    def last_batch_id(self) -> int | None:
        return self.manifest().get("last_batch_id")

    # ---------- read ----------

    def _read_files(self, files: list[str], schema: T.StructType) -> DataFrame:
        paths = [posixpath.join(self.root, f) for f in files]
        return self.spark.read.schema(schema).parquet(*paths)

    def _lww_reduce(self, df: DataFrame, key_cols: list[str]) -> DataFrame:
        """Reduce (base ∪ deltas) to the last writer per key. Total order:
        (_lsn, _seq). ``max_by`` over a struct holding strings plans as a
        sort-based aggregate. On ``read()``/``lookup()`` it plans as Sort +
        partial SortAggregate -> Exchange -> Sort + SortAggregate, so
        duplicates combine map-side; a fold or rebucket hands it input
        already hash-partitioned on ``_bucket`` (``_by_bucket``), so both
        aggregate steps run after that one exchange."""
        payload = [c for c in df.columns if c not in key_cols]
        ord_key = F.struct(
            F.col("_lsn").alias("l"), F.coalesce(F.col("_seq"), F.lit(0)).alias("s")
        )
        return (
            df.groupBy(*key_cols)
            .agg(F.max_by(F.struct(*payload), ord_key).alias("_w"))
            .select(*key_cols, *[F.col(f"_w.{c}").alias(c) for c in payload])
        )

    def read(self, include_system: bool = False, version: int | None = None) -> DataFrame:
        """Current table state; pass ``version`` for a time-travel read of
        any retained snapshot (Iceberg ``VERSION AS OF`` analogue)."""
        if version is None:
            m = self.manifest()
        else:
            if not self.fs.exists(self._manifest_path(version)):
                raise ValueError(
                    f"version {version} is not retained (expired or never existed)"
                )
            m = self._load_manifest(version)
        schema = self._physical_schema(
            T.StructType.fromJson(json.loads(m["schema"]))
        )
        base = [f for fl in m["buckets"].values() for f in fl]
        delta = [f for fl in (m.get("deltas") or {}).values() for f in fl]
        if not base and not delta:
            df = self.spark.createDataFrame([], schema)
        else:
            df = self._read_files(base + delta, schema)
            if delta:
                df = self._lww_reduce(df, m["key_cols"])
        if include_system:
            return df
        return df.filter(~F.col("_deleted")).drop("_lsn", "_seq", "_deleted")

    def lookup(self, key_value, include_system: bool = False) -> DataFrame:
        """Point read for one key, touching 1/n_buckets of the table.

        All versions of a key live in exactly one storage bucket (the hash
        layout's core invariant), so a point lookup plans ONLY that
        bucket's base+delta files — at 100 TB with 4096 buckets that is
        ~25 GB instead of a full-table scan, the difference between an
        interactive key probe and a batch job. The bucket id comes from a
        driver-side one-row job (LocalTableScan — no data files touched)
        evaluating the SAME JVM xxhash64 the writer used, so Python never
        reimplements the hash."""
        m = self.manifest()
        n_buckets = m["n_buckets"]
        key_col = m["key_cols"][0]
        user = T.StructType.fromJson(json.loads(m["schema"]))
        key_type = next(f.dataType for f in user.fields if f.name == key_col)
        # the literal MUST be cast to the key column's exact type before
        # hashing: xxhash64 hashes int and long representations of the
        # same value differently, so an uncast Python int probes the
        # wrong bucket of a long-keyed table (and "works" only for
        # values that don't fit an int)
        lit_key = F.lit(key_value).cast(key_type)
        b = (
            self.spark.range(1)
            .select(
                F.pmod(F.xxhash64(lit_key), F.lit(n_buckets))
                .cast("int")
                .alias("b")
            )
            .collect()[0]["b"]
        )
        schema = self._physical_schema(user)
        base = m["buckets"].get(str(b), [])
        delta = (m.get("deltas") or {}).get(str(b), [])
        if not base and not delta:
            df = self.spark.createDataFrame([], schema)
        else:
            df = self._read_files(base + delta, schema).filter(
                F.col(key_col) == lit_key
            )
            if delta:
                df = self._lww_reduce(df, m["key_cols"])
        if include_system:
            return df
        return df.filter(~F.col("_deleted")).drop("_lsn", "_seq", "_deleted")

    def read_buckets(
        self, bucket_ids, include_system: bool = False
    ) -> DataFrame:
        """Bucket-pruned read: current state of ONLY the given storage
        buckets — the multi-key analogue of ``lookup()``. A batch of point
        reads (e.g. the patch resolver's read-modify-write) plans the
        base+delta files of just the buckets its keys hash to; at 100 TB
        with 4096 buckets, touching 50 buckets reads ~1% of the table."""
        m = self.manifest()
        schema = self._physical_schema(
            T.StructType.fromJson(json.loads(m["schema"]))
        )
        ids = sorted({int(b) for b in bucket_ids})
        base = [f for b in ids for f in m["buckets"].get(str(b), [])]
        delta = [f for b in ids for f in (m.get("deltas") or {}).get(str(b), [])]
        if not base and not delta:
            df = self.spark.createDataFrame([], schema)
        else:
            df = self._read_files(base + delta, schema)
            if delta:
                df = self._lww_reduce(df, m["key_cols"])
        if include_system:
            return df
        return df.filter(~F.col("_deleted")).drop("_lsn", "_seq", "_deleted")

    def scan(
        self,
        ts_from=None,
        ts_to=None,
        lsn_from: int | None = None,
        lsn_to: int | None = None,
        include_system: bool = False,
    ) -> DataFrame:
        """Time/lsn-bounded read with manifest-level file skipping.

        Files whose footer-stat range (recorded in ``file_stats`` at commit
        time) cannot intersect the predicate are dropped from the plan
        before Spark ever lists them — the manifest prunes FIRST, parquet
        row-group stats prune second, and the residual filter keeps the
        result exact. Bounds are inclusive; a file with no recorded stats
        is always read (pruning is an accelerator, never a correctness
        dependency).

        Pruning granularity is per BUCKET state: a bucket with delta files
        contributes all its files unpruned (a delta row may supersede a
        base row that the predicate would have skipped — dropping the base
        file could flip the LWW winner), while fully-compacted buckets
        (one visible row per key, no reduce needed) prune file-by-file.
        Steady-state ingest keeps most buckets compacted, so most of the
        table stays prunable while a merge is in flight."""
        m = self.manifest()
        stats: dict = m.get("file_stats") or {}
        deltas = m.get("deltas") or {}
        ts_lo, ts_hi = self._ts_us(ts_from), self._ts_us(ts_to)

        def keep(rel: str) -> bool:
            s = stats.get(rel)
            if s is None:
                return True
            if lsn_from is not None and s.get("lsn_max") is not None \
                    and s["lsn_max"] < lsn_from:
                return False
            if lsn_to is not None and s.get("lsn_min") is not None \
                    and s["lsn_min"] > lsn_to:
                return False
            if ts_lo is not None and s.get("ts_max") is not None \
                    and s["ts_max"] < ts_lo:
                return False
            if ts_hi is not None and s.get("ts_min") is not None \
                    and s["ts_min"] > ts_hi:
                return False
            return True

        files: list[str] = []
        need_reduce = False
        for b, base in m["buckets"].items():
            d = deltas.get(b) or []
            if d:
                files.extend(base + d)
                need_reduce = True
            else:
                files.extend(f for f in base if keep(f))
        for b, d in deltas.items():
            if d and b not in m["buckets"]:
                files.extend(d)
                need_reduce = True

        schema = self._physical_schema(
            T.StructType.fromJson(json.loads(m["schema"]))
        )
        if not files:
            df = self.spark.createDataFrame([], schema)
        else:
            df = self._read_files(files, schema)
            if need_reduce:
                df = self._lww_reduce(df, m["key_cols"])
        if lsn_from is not None:
            df = df.filter(F.col("_lsn") >= F.lit(lsn_from))
        if lsn_to is not None:
            df = df.filter(F.col("_lsn") <= F.lit(lsn_to))
        if ts_from is not None:
            df = df.filter(F.col("ts") >= self._ts_bound_lit(ts_from))
        if ts_to is not None:
            df = df.filter(F.col("ts") <= self._ts_bound_lit(ts_to))
        if include_system:
            return df
        return df.filter(~F.col("_deleted")).drop("_lsn", "_seq", "_deleted")

    def table_changes(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Incremental change read (Delta CDF / Iceberg changelog analogue):
        the NET effect per key of every commit in ``(v_from, v_to]``.

        Output: the user columns at ``v_to``'s schema plus ``_change_type``
        (``'upsert'`` | ``'delete'``) and ``_commit_version`` (the manifest
        version whose merge wrote the winning row). A downstream consumer
        holding snapshot ``v_from`` reaches snapshot ``v_to`` by applying
        upserts keyed on ``key_cols`` and dropping deleted keys — O(changes)
        data read, never a diff of two O(table) scans:

        - file pruning is a pure manifest diff: only files first referenced
          after ``v_from`` are read;
        - candidate keys come from in-range rows (``_seq``-range predicate
          pushed to the parquet scan of the diffed files); the NET winner
          per candidate key is then decided against ALL of that key's rows
          in its bucket at ``v_to`` — not just the in-range ones — so a
          LATE lower-lsn event merged in-range that LOSES to an earlier
          commit's row emits NO change (and cannot resurrect a previously
          propagated delete). Postimage correctness beats read volume
          here: the extra read is the touched buckets' base, O(touched
          buckets), still never two table scans;
        - footer stats prune both legs: diffed files wholly outside the
          ``_seq`` range are skipped (this is what keeps a range spanning a
          COMPACTION cheap — the compaction re-references every compacted
          bucket's base under new file names, but files holding only
          pre-``v_from`` rows are dropped here instead of rescanned), and
          candidate base files whose ``_lsn`` ceiling is below every
          touched key's in-range lsn cannot contain any LWW winner and are
          skipped too. A compacted file MIXING old and in-range rows is
          still read in full (its stats span the range) — that residual
          cost is inherent to folding deltas into base files;
        - multiple in-range writes to one key collapse to the last writer
          (same ``(_lsn, _seq)`` total order as ``read()``). An in-range
          update that restores a key's prior value still emits an upsert
          (postimage semantics, as in Delta CDF).

        Both manifests must still be retained (``expire_versions`` is the
        CDC retention knob, exactly like Delta's ``delta.logRetention``).
        """
        if v_to is None:
            v_to = self.current_version()
        for v in (v_from, v_to):
            if not self.fs.exists(self._manifest_path(v)):
                raise ValueError(
                    f"version {v} is not retained — raise expire_versions "
                    "keep_last to widen the CDC read window"
                )
        if v_from > v_to:
            raise ValueError(f"v_from {v_from} > v_to {v_to}")
        m_to = self._load_manifest(v_to)
        m_from = self._load_manifest(v_from)
        schema = self._physical_schema(
            T.StructType.fromJson(json.loads(m_to["schema"]))
        )
        old_files = {
            f
            for coll in (m_from["buckets"], m_from.get("deltas") or {})
            for fl in coll.values()
            for f in fl
        }
        stats: dict = m_to.get("file_stats") or {}

        def _seq_in_range(f: str) -> bool:
            # keep the file unless its footer _seq range proves every row
            # is outside (v_from, v_to] — absent stats never prune
            s = stats.get(f) or {}
            lo, hi = s.get("seq_min"), s.get("seq_max")
            if hi is not None and hi <= v_from:
                return False
            if lo is not None and lo > v_to:
                return False
            return True

        added = [
            f
            for coll in (m_to["buckets"], m_to.get("deltas") or {})
            for fl in coll.values()
            for f in fl
            if f not in old_files and _seq_in_range(f)
        ]
        user_cols = [f.name for f in schema.fields if f.name not in
                     ("_lsn", "_seq", "_deleted")]
        if v_from == v_to or not added:
            empty = self.spark.createDataFrame([], schema)
            return empty.select(
                *user_cols,
                F.lit("upsert").alias("_change_type"),
                F.col("_seq").alias("_commit_version"),
            ).limit(0)
        key_cols = m_to["key_cols"]
        changed = self._read_files(added, schema).filter(
            (F.col("_seq") > v_from) & (F.col("_seq") <= v_to)
        )
        touched_keys = changed.select(*key_cols).distinct()
        # every file (at v_to) of every bucket that received a diffed file:
        # the candidate set for deciding each touched key's TRUE winner
        added_set = set(added)
        bucket_files: list[str] = []
        for coll in (m_to["buckets"], m_to.get("deltas") or {}):
            for b, fl in coll.items():
                if any(f in added_set for f in fl):
                    bucket_files.extend(
                        m_to["buckets"].get(b, [])
                        + (m_to.get("deltas") or {}).get(b, [])
                    )
        # lsn-threshold prune of the candidate set. Every touched key has
        # an in-range row, so its LWW winner's _lsn is >= that row's _lsn;
        # a file whose footer lsn ceiling sits below the SMALLEST such
        # per-key lsn holds only strictly-losing rows for every touched
        # key and cannot change any winner. One bounded aggregate over the
        # (already pruned) diff set buys skipping cold base files — the
        # bulk of a compacted bucket's re-referenced data.
        thr_row = (
            changed.groupBy(*key_cols)
            .agg(F.max("_lsn").alias("_ml"))
            .agg(F.min("_ml").alias("_thr"))
            .collect()
        )
        thr = thr_row[0]["_thr"] if thr_row else None
        if thr is not None:
            bucket_files = [
                f
                for f in bucket_files
                if (stats.get(f) or {}).get("lsn_max") is None
                or stats[f]["lsn_max"] >= thr
                or f in added_set
            ]
        cand = self._read_files(
            sorted(set(bucket_files)), schema
        ).join(touched_keys, key_cols, "left_semi")
        net = self._lww_reduce(cand, key_cols).filter(
            (F.col("_seq") > v_from) & (F.col("_seq") <= v_to)
        )
        return net.select(
            *user_cols,
            F.when(F.col("_deleted"), F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("_change_type"),
            F.col("_seq").alias("_commit_version"),
        )

    # ---------- maintenance ----------

    def history(self) -> list[dict]:
        """Commit log of the current snapshot (most recent last)."""
        return list(self.manifest().get("commits") or [])

    def bucket_depths(self, manifest: dict | None = None) -> dict[int, tuple[int, int]]:
        """Per-bucket ``(raw_delta_count, run_count)`` from the manifest
        (the current one unless ``manifest`` is given): raw deltas are the
        per-batch appends, runs the minor folds' output. The compaction
        policy decides bucket-by-bucket from this, never on global maxima
        (one cold bucket stuck below the fold threshold must not force
        every trigger into a major)."""
        m = self.manifest() if manifest is None else manifest
        runs = set(m.get("run_files") or [])
        out: dict[int, tuple[int, int]] = {}
        for b, fl in (m.get("deltas") or {}).items():
            nr = sum(1 for f in fl if f in runs)
            out[int(b)] = (len(fl) - nr, nr)
        return out

    def delta_depth(self) -> int:
        """Max number of delta files (raw + runs) stacked on any bucket —
        the merge-on-read read cost."""
        return max((r + n for r, n in self.bucket_depths().values()), default=0)

    def raw_delta_depth(self) -> int:
        """Max per-bucket count of RAW delta files (per-batch appends)."""
        return max((r for r, _ in self.bucket_depths().values()), default=0)

    def run_depth(self) -> int:
        """Max per-bucket count of minor-compaction RUN files."""
        return max((n for _, n in self.bucket_depths().values()), default=0)

    def compact(
        self,
        cluster_by: str | None = None,
        max_rows_per_file: int | None = None,
        buckets: list[int] | None = None,
        max_commit_retries: int = 0,
    ) -> MergeStats:
        """MAJOR compaction: fold each bucket's base + runs + raw deltas
        into a new base (merge-on-read -> read-optimized).

        Reads base+delta for every bucket with a non-empty delta stack,
        LWW-reduces, and rewrites those buckets; other buckets carry
        forward untouched. Tombstones are RETAINED in the compacted base so
        late lower-lsn events still cannot resurrect deleted keys.

        ``buckets``: explicit bucket set to fold; buckets with nothing
        stacked are skipped. The pipeline's policy passes only the buckets
        that earned a major, so a SKEWED feed that drives one hot bucket to
        the threshold doesn't rewrite every cold bucket's base (write
        amplification that at 4096 buckets would turn one hot key into a
        full-table rewrite), and a SHARDED major bounds the rewrite to a
        slice of the table so the worst compaction pause scales with shard
        size, not table size.

        ``cluster_by``/``max_rows_per_file`` (Delta ``OPTIMIZE``-with-
        clustering analogue): sort each bucket's rows by ``cluster_by``
        (instead of the key) and split the output every
        ``max_rows_per_file`` rows, giving the bucket's base files
        near-disjoint ranges of that column. Combined with the footer
        stats recorded in ``file_stats``, this is what makes a
        time-bounded ``scan()`` prune at the FILE level on compacted
        data — without clustering every base file spans the table's whole
        ts range and stats can exclude nothing.

        ``max_commit_retries``: conflict budget for CONCURRENT-writer
        deployments (a background compactor racing the ingest writer).
        Each lost manifest race first tries a METADATA-LEVEL rebase — a
        concurrent ingest commit only appends delta files, so the fold's
        rewrite stays valid: swap the folded files for the written ones on
        top of the winner's manifest, no Spark recompute — and only falls
        back to recomputing the whole fold when the winner invalidated it
        (rewrote a touched bucket's base, folded the same deltas,
        rebucketted). 0 (default) preserves the single-writer behavior:
        surface the conflict."""
        return self._fold(buckets, minor=False,
                          max_commit_retries=max_commit_retries,
                          cluster_by=cluster_by,
                          max_rows_per_file=max_rows_per_file)

    def compact_minor(
        self,
        buckets: list[int] | None = None,
        max_commit_retries: int = 0,
    ) -> MergeStats:
        """LSM-style MINOR compaction: fold each bucket's RAW delta stack
        (the per-batch appends) into one collapsed RUN file — without
        reading or rewriting the base. ``buckets`` restricts the fold as in
        :meth:`compact`, the major sibling that folds base+runs+raw.

        Why two levels at 10^10 events: a major compaction's cost is
        dominated by re-writing the bucket's whole base, so running it
        every ``compact_threshold`` batches pays base-size I/O on a
        base-sized table every few minutes forever. A minor fold costs
        O(delta window) — it reads only the raw deltas and writes their
        per-key LWW winners — and keeps read amplification bounded
        (base + <=major_every runs + <=threshold raw generations, where
        runs are already collapsed). The base rewrite then amortizes over
        ``major_every`` x ``compact_threshold`` batches instead of
        ``compact_threshold``. Correctness is order-theoretic: the LWW
        reduce is an argmax under a total order, hence associative —
        reducing the deltas among themselves first cannot change the
        overall winner against the base, and tombstones are retained in
        runs exactly as majors retain them in the base.

        Run files are ordinary delta files to every reader (``read``,
        ``lookup``, ``scan``, ``table_changes``, ``expire_versions`` all
        see them in ``deltas``); the manifest's ``run_files`` list only
        marks which delta entries are runs, so the policy can count raw
        vs run depth separately. The commit is flagged ``compaction`` +
        ``minor`` so change readers treat the re-referenced rows like any
        compaction rewrite.

        ``max_commit_retries``: same conflict budget + metadata rebase as
        :meth:`compact` (a minor's rebase needs no base-equality check —
        it never touches the base; only the folded raws must still be
        referenced by the winner)."""
        return self._fold(buckets, minor=True,
                          max_commit_retries=max_commit_retries)

    def _fold(
        self,
        buckets: list[int] | None,
        minor: bool,
        max_commit_retries: int,
        cluster_by: str | None = None,
        max_rows_per_file: int | None = None,
    ) -> MergeStats:
        """The one fold body behind :meth:`compact` and
        :meth:`compact_minor`: read -> LWW reduce -> bucketed write ->
        manifest -> commit. A major reads base + every delta and replaces
        the base; a minor reads the raw deltas only and appends their
        reduction as one run per bucket.

        On a lost manifest race the fold RE-BASES on the winner's manifest
        at the METADATA level — no Spark recompute (see
        :meth:`_fold_manifest`). Soundness: the LWW reduce is an argmax
        under a total order, so a fold of a file set S is valid against ANY
        manifest that still references exactly S for those buckets plus
        newer deltas on top (the newer deltas override the folded result
        the same way they overrode its inputs). When the winner
        invalidated the fold, it is recomputed from the winner's manifest.
        Each rebase and each recompute spends one unit of
        ``max_commit_retries``; at 0 the conflict surfaces."""
        budget = max_commit_retries
        want = None if buckets is None else {int(b) for b in buckets}
        while True:
            m = self.manifest()
            runs = set(m.get("run_files") or [])
            folded = {
                b: [f for f in fl if not (minor and f in runs)]
                for b, fl in (m.get("deltas") or {}).items()
                if want is None or int(b) in want
            }
            touched = sorted(int(b) for b, fl in folded.items() if fl)
            if not touched:
                return MergeStats(batch_id=None, skipped=True, version=m["version"])
            folded = {str(b): folded[str(b)] for b in touched}
            key_cols = m["key_cols"]
            physical = self._physical_schema(
                T.StructType.fromJson(json.loads(m["schema"]))
            )
            files = [
                f
                for b in touched
                for f in (
                    ([] if minor else m["buckets"].get(str(b), []))
                    + folded[str(b)]
                )
            ]
            combined = _by_bucket(
                self._read_files(files, physical), key_cols[0],
                m["n_buckets"], len(touched),
            )
            # _bucket in the grouping keys → the repartition above satisfies
            # the aggregate's distribution: one shuffle total, each of the
            # min(touched, slots) reduce tasks holding whole buckets, one
            # file per bucket from the partitionBy write.
            reduced = self._lww_reduce(combined, ["_bucket"] + key_cols)
            written = self._write_buckets(
                reduced,
                m["version"] + 1,
                m,
                sort_cols=[cluster_by] if cluster_by else None,
                max_rows_per_file=max_rows_per_file,
            )
            fresh_stats = self._collect_file_stats(written)
            commit_entry = {
                "batch_id": None,
                "offset_range": None,
                "buckets_rewritten": touched,
                "rows_in": 0,
                "deletes_in": 0,
                "schema_changed": False,
                "compaction": True,
            }
            if minor:
                commit_entry["minor"] = True
            new_manifest = self._fold_manifest(
                m, m, touched, written, folded, minor, commit_entry, fresh_stats
            )
            while new_manifest is not None:
                try:
                    self._commit(new_manifest)
                    return MergeStats(
                        batch_id=None,
                        version=new_manifest["version"],
                        buckets_touched=len(touched),
                    )
                except CommitConflictError:
                    if budget <= 0:
                        self._delete_attempt_files(written)
                        raise
                    budget -= 1
                    new_manifest = self._fold_manifest(
                        self.manifest(), m, touched, written, folded, minor,
                        commit_entry, fresh_stats,
                    )
            # the winner invalidated this fold: recompute against its manifest
            self._delete_attempt_files(written)
            if budget <= 0:
                raise CommitConflictError(
                    f"a concurrent commit invalidated the fold of buckets {touched}"
                )
            budget -= 1

    def _fold_manifest(
        self,
        base: dict,
        m_orig: dict,
        touched: list[int],
        written: dict[int, list[str]],
        folded: dict[str, list[str]],
        minor: bool,
        commit_entry: dict,
        written_stats: dict[str, dict],
    ) -> dict | None:
        """The manifest a fold commits: ``base`` with each touched bucket's
        ``folded`` files swapped for the ``written`` ones. ``base`` is the
        manifest the fold read (``m_orig``) on the first attempt and the
        WINNER's after a lost race. None when the winner invalidated the
        fold: a rebucket, a major rewrote a base this major read, or a
        folded delta is gone (compacted or expired). The winner's
        schema/last_batch_id/commit history are carried verbatim —
        compaction changes file layout only. Files this attempt wrote were
        shaped to ``m_orig``'s schema; readers fill columns the winner
        added since with typed nulls (the same contract old delta files
        rely on after any evolution)."""
        if base.get("n_buckets") != m_orig.get("n_buckets"):
            return None
        deltas = {b: list(fl) for b, fl in (base.get("deltas") or {}).items()}
        buckets = dict(base.get("buckets") or {})
        orig_buckets = m_orig.get("buckets") or {}
        for b in touched:
            sb = str(b)
            if not minor and buckets.get(sb, []) != orig_buckets.get(sb, []):
                return None  # the base this fold rewrote changed under it
            if not set(folded.get(sb, ())) <= set(deltas.get(sb, ())):
                return None  # a folded delta is gone (compacted/expired)
        runs = set(base.get("run_files") or [])
        for b in touched:
            sb = str(b)
            fold_b = set(folded.get(sb, ()))
            fresh = written.get(b, [])
            remaining = [f for f in deltas.get(sb, []) if f not in fold_b]
            if minor:
                deltas[sb] = remaining + fresh
                runs.update(fresh)
            else:
                buckets[sb] = fresh
                deltas[sb] = remaining
        still = {f for fl in deltas.values() for f in fl}
        nm = dict(base)
        nm["version"] = base["version"] + 1
        nm["buckets"] = buckets
        nm["deltas"] = deltas
        nm["run_files"] = sorted(runs & still)
        nm["file_stats"] = self._carry_stats(base, buckets, deltas, written_stats)
        nm["commits"] = (base.get("commits") or [])[-99:] + [commit_entry]
        return nm

    def rebucket(self, new_n_buckets: int) -> MergeStats:
        """Change the table's hash-bucket count (layout evolution).

        A table created at n_buckets=64 that grows 100x ends up with
        bucket-sized units too big for one executor to rewrite or compact;
        this rewrites every row into ``new_n_buckets`` hash buckets in ONE
        shuffle (read -> LWW-reduce -> bucketed write), after which
        ``lookup`` and per-bucket maintenance use the new layout. System
        columns survive verbatim — ``_seq`` in particular, so an
        incremental ``table_changes`` reader crossing the rebucket version
        sees zero spurious changes (the carried rows are cut by the same
        _seq-range predicate that handles compaction rewrites). Tombstones
        are retained, preserving the no-resurrection guarantee.

        This is a full-table rewrite — an offline maintenance operation to
        run rarely and deliberately (the moral analogue of rewriting data
        files after Iceberg partition-spec evolution), parallel across
        min(new bucket count, executor slots) tasks."""
        m = self.manifest()
        if new_n_buckets < 1:
            raise ValueError("new_n_buckets must be >= 1")
        if new_n_buckets == m["n_buckets"]:
            return MergeStats(batch_id=None, skipped=True, version=m["version"])
        key_cols = m["key_cols"]
        physical = self._physical_schema(
            T.StructType.fromJson(json.loads(m["schema"]))
        )
        files = [
            f
            for coll in (m["buckets"], m.get("deltas") or {})
            for fl in coll.values()
            for f in fl
        ]
        version = m["version"] + 1
        new_m = dict(m)
        new_m["n_buckets"] = new_n_buckets
        if files:
            combined = _by_bucket(
                self._read_files(files, physical), key_cols[0],
                new_n_buckets, new_n_buckets,
            )
            reduced = self._lww_reduce(combined, ["_bucket"] + key_cols)
            written = self._write_buckets(reduced, version, new_m)
        else:
            written = {}
        new_m["version"] = version
        new_m["buckets"] = {str(b): fl for b, fl in written.items()}
        new_m["deltas"] = {}
        new_m["run_files"] = []  # everything folded into the new base
        new_m["file_stats"] = self._carry_stats(
            m, new_m["buckets"], {}, self._collect_file_stats(written)
        )
        new_m["commits"] = (m.get("commits") or [])[-99:] + [
            {
                "batch_id": None,
                "offset_range": None,
                "buckets_rewritten": sorted(written),
                "rows_in": 0,
                "deletes_in": 0,
                "schema_changed": False,
                "rebucket": {"from": m["n_buckets"], "to": new_n_buckets},
            }
        ]
        try:
            self._commit(new_m)
        except CommitConflictError:
            self._delete_attempt_files(written)
            raise
        return MergeStats(
            batch_id=None, version=version, buckets_touched=len(written)
        )

    def _manifest_refs(self, version: int) -> set[str]:
        """Every data-file path (root-relative) a manifest references."""
        mv = self._load_manifest(version)
        out: set[str] = set()
        for coll in (mv["buckets"], mv.get("deltas") or {}):
            for fl in coll.values():
                out.update(fl)
        return out

    @staticmethod
    def _vdir_of(rel: str) -> str | None:
        """Top-level attempt dir of a root-relative data path
        (``data/v000...-uuid/_bucket=K/part...parquet`` -> ``v000...-uuid``)."""
        parts = rel.split("/")
        if len(parts) >= 3 and parts[0] == "data":
            return parts[1]
        return None

    def expire_versions(self, keep_last: int = 2) -> dict:
        """Snapshot expiry (Iceberg ``expire_snapshots`` analogue),
        manifest-diff based: deletable = (files referenced by the dropped
        manifests) minus (files referenced by the kept ones). No listing
        of the data tree at all — O(dropped manifests + deleted files)
        driver calls instead of O(table files), which is what lets expiry
        ride the ingest cadence at a 10^10-key table without stalling a
        batch (a recursive data listing costs one py4j round trip per
        file and grows with the table, not with the expired set).

        An attempt dir nothing retained references is removed with ONE
        recursive delete (covering any never-committed stragglers in the
        same dir); partially-referenced dirs (a sharded major keeps some
        of an old version's delta files alive) fall back to per-file
        deletes. Files referenced by NO manifest at all — crashed or
        losing commit attempts inside the retained window — are invisible
        to the manifest diff by design; ``remove_orphan_files`` is the
        separate full-listing maintenance action that sweeps them, same
        split Iceberg makes.

        Safe order: manifests are removed BEFORE their now-orphaned data
        files, so a crash mid-expiry never leaves a retained manifest
        pointing at deleted data.

        ``data_files_removed`` in the result counts **manifest references
        reclaimed** (see the whole-dir branch) — stragglers swept by a
        recursive dir delete are not itemized and already-missing
        references are not subtracted."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        current = self.current_version()
        versions = self._list_versions()
        keep = [v for v in versions if v > current - keep_last]
        drop = [v for v in versions if v <= current - keep_last]

        kept_refs: set[str] = set()
        for v in keep:
            kept_refs |= self._manifest_refs(v)
        doomed: set[str] = set()
        for v in drop:
            doomed |= self._manifest_refs(v)
        doomed -= kept_refs
        kept_vdirs = {self._vdir_of(r) for r in kept_refs}

        for v in drop:
            self.fs.delete(self._manifest_path(v))

        removed_files = 0
        removed_dirs = 0
        by_vdir: dict[str | None, list[str]] = {}
        for rel in doomed:
            by_vdir.setdefault(self._vdir_of(rel), []).append(rel)
        for vd, rels in sorted(by_vdir.items(), key=lambda kv: str(kv[0])):
            if vd is not None and vd not in kept_vdirs:
                if self.fs.delete(
                    posixpath.join(self.root, "data", vd), recursive=True
                ):
                    # Count = manifest references RECLAIMED, not an exact
                    # on-disk tally: the recursive delete also removes any
                    # never-committed stragglers in the dir (uncounted)
                    # and doesn't re-verify each reference still existed
                    # (listing the dir first would reintroduce the
                    # O(table files) walk this path exists to avoid).
                    removed_files += len(rels)
                    removed_dirs += 1
                continue
            touched: set[str] = set()
            for rel in sorted(rels):
                if self.fs.delete(posixpath.join(self.root, rel)):
                    removed_files += 1
                touched.add(posixpath.dirname(rel))
            # prune now-empty bucket/version dirs (deepest first)
            for d in sorted(touched, key=lambda s: -s.count("/")):
                cur = d
                while cur not in ("", ".", "data"):
                    if not self.fs.delete_if_empty_dir(
                        posixpath.join(self.root, cur)
                    ):
                        break
                    cur = posixpath.dirname(cur)
        return {
            "versions_expired": drop,
            "versions_kept": keep,
            "data_files_removed": removed_files,
            "data_dirs_removed": removed_dirs,
        }

    def remove_orphan_files(self, older_than_seconds: float = 0.0) -> dict:
        """Full-listing orphan sweep (Iceberg ``remove_orphan_files``
        analogue): deletes data files referenced by NO retained manifest —
        the residue of crashed or losing commit attempts. This is the
        O(table files) walk ``expire_versions`` deliberately avoids, so it
        is a standalone maintenance action, never part of the per-batch
        ingest cadence. Only attempt dirs at versions <= current are
        considered: an in-flight writer's dir (version current+1 or
        higher) is never swept.

        ``older_than_seconds`` is the modification-time grace window
        (Iceberg's mandatory ``older_than``, same rationale): with
        CONCURRENT writers, an in-flight attempt whose target version was
        overtaken by another commit is no longer > current, so without a
        grace cutoff the sweep would recursively delete the attempt dir
        mid-write and the racing writer's Spark job dies on opaque
        missing-file task errors (its OCC retry keeps the TABLE correct
        either way — this protects the writer, not the data). Default 0
        sweeps everything and is only safe when no other writer is
        active; the CLI passes a non-zero default."""
        import time as _time

        cutoff = _time.time() - older_than_seconds
        current = self.current_version()
        referenced: set[str] = set()
        for v in self._list_versions():
            referenced |= self._manifest_refs(v)
        ref_vdirs = {self._vdir_of(r) for r in referenced}

        data_root = posixpath.join(self.root, "data")
        removed_files = 0
        removed_dirs = 0
        for vd in self.fs.list_names(data_root):
            m = re.match(r"v(\d{12})-", vd)
            if not m or int(m.group(1)) > current:
                continue
            if vd not in ref_vdirs:
                if (
                    older_than_seconds > 0
                    and self.fs.newest_mtime_recursive(
                        posixpath.join(data_root, vd)
                    )
                    > cutoff
                ):
                    continue  # possibly an overtaken in-flight attempt
                if self.fs.delete(
                    posixpath.join(data_root, vd), recursive=True
                ):
                    removed_dirs += 1
                continue
            touched: set[str] = set()
            for rel in self.fs.list_files_recursive(
                posixpath.join(data_root, vd)
            ):
                full = posixpath.join("data", vd, rel)
                if rel.endswith(".parquet") and full not in referenced:
                    if older_than_seconds > 0 and (
                        self.fs.mtime(posixpath.join(data_root, vd, rel))
                        > cutoff
                    ):
                        continue
                    self.fs.delete(posixpath.join(data_root, vd, rel))
                    removed_files += 1
                touched.add(posixpath.dirname(posixpath.join(vd, rel)))
            for d in sorted(touched, key=lambda s: -s.count("/")):
                cur = d
                while cur not in ("", "."):
                    if not self.fs.delete_if_empty_dir(
                        posixpath.join(data_root, cur)
                    ):
                        break
                    cur = posixpath.dirname(cur)
        return {
            "orphan_files_removed": removed_files,
            "orphan_dirs_removed": removed_dirs,
        }

    # ---------- merge ----------

    def _write_buckets(
        self,
        df: DataFrame,
        version: int,
        m: dict,
        sort_cols: list[str] | None = None,
        max_rows_per_file: int | None = None,
    ) -> dict:
        """Write df (must carry ``_bucket`` and already be partitioned by it)
        under a per-ATTEMPT version dir; discover what was written by listing
        the output via the Hadoop FS API (cluster-safe — no driver-local
        POSIX assumptions). Returns {bucket(int) -> [files written]}; an
        empty write removes its own directory and returns {}.

        The uuid suffix makes concurrent commit attempts write DISJOINT
        directories (the Iceberg model: data files are immutable and
        uniquely named; only the manifest swap races). Without it, two
        writers that both computed version N would aim ``mode("overwrite")``
        at the same ``data/vN`` path — the loser's overwrite deletes the
        winner's already-committed files before the loser's own commit even
        reaches the conflict check. Orphans from losing attempts are swept
        by ``expire_versions`` (which keeps only manifest-referenced files)
        and proactively by the loser's conflict handler in merge/compact."""
        vdir = f"v{version:012d}-{uuid.uuid4().hex[:8]}"
        out_dir = posixpath.join(self.root, "data", vdir)
        # leading _bucket makes the requested ordering a suffix-match of
        # the upstream sort-aggregate's (_bucket, key...) output order,
        # so Catalyst elides this Sort entirely; a task holding several
        # whole buckets writes them in that order, one file per bucket
        # (more only past maxRecordsPerFile). A caller-supplied sort_cols
        # (clustered compaction) is a REAL sort — that's its point.
        writer = (
            df.sortWithinPartitions("_bucket", *(sort_cols or m["key_cols"]))
            .write.mode("overwrite")
        )
        if max_rows_per_file:
            writer = writer.option("maxRecordsPerFile", str(max_rows_per_file))
        writer.partitionBy("_bucket").parquet(out_dir)
        rel_out = posixpath.join("data", vdir)
        written: dict[int, list[str]] = {}
        # one recursive listing instead of 1 + n_buckets py4j round-trips
        # (each costs ~5-15 ms of driver latency, a per-batch fixed cost)
        for rel in self.fs.list_files_recursive(out_dir):
            if not rel.endswith(".parquet"):
                continue
            head, _, _fn = rel.partition("/")
            if not head.startswith("_bucket="):
                continue
            written.setdefault(int(head.split("=", 1)[1]), []).append(
                posixpath.join(rel_out, rel)
            )
        if not written:
            # all rows quarantined / empty trigger: remove the empty attempt
            # dir so no-op batches can't accumulate unreferenced directories
            self.fs.delete(out_dir, recursive=True)
        return {b: sorted(fl) for b, fl in written.items()}

    def _delete_attempt_files(self, written: dict) -> None:
        """Remove THIS attempt's data directory after a lost commit race
        (safe: the uuid-suffixed dir belongs to this attempt alone)."""
        for files in written.values():
            if files:
                rel_vdir = files[0].split("/", 2)[:2]
                self.fs.delete(
                    posixpath.join(self.root, *rel_vdir), recursive=True
                )
                return

    def merge(
        self,
        updates: DataFrame,
        batch_id: int | None = None,
        offset_range: tuple[int, int] | None = None,
        stats_hints: dict | None = None,
        post_write_stats=None,
        max_commit_retries: int = 5,
    ) -> MergeStats:
        """Idempotent LWW merge with OPTIMISTIC-CONCURRENCY retry.

        A writer that loses the manifest rename race (another writer
        committed the version it computed) re-bases instead of failing:
        the attempt's uuid-dir data files are deleted (inside the attempt),
        the manifest is re-read, the batch_id idempotency check re-runs
        against the WINNER's commit (a concurrently-committed duplicate of
        this very batch turns the retry into a skip, never a double
        apply), schema evolution re-diffs against the winner's schema, and
        the merge re-executes at the next version. This is the Iceberg
        commit model: conflict -> refresh -> reapply -> commit; after
        ``max_commit_retries`` consecutive losses the conflict surfaces.
        """
        attempt = 0
        while True:
            try:
                return self._merge_attempt(
                    updates,
                    batch_id=batch_id,
                    offset_range=offset_range,
                    stats_hints=stats_hints,
                    post_write_stats=post_write_stats,
                )
            except CommitConflictError:
                attempt += 1
                if attempt > max_commit_retries:
                    raise

    def _merge_attempt(
        self,
        updates: DataFrame,
        batch_id: int | None = None,
        offset_range: tuple[int, int] | None = None,
        stats_hints: dict | None = None,
        post_write_stats=None,
    ) -> MergeStats:
        m = self.manifest()
        last = m.get("last_batch_id")
        if batch_id is not None and last is not None and batch_id <= last:
            return MergeStats(batch_id=batch_id, skipped=True, version=m["version"])

        key_cols: list[str] = m["key_cols"]
        n_buckets: int = m["n_buckets"]
        old_user = T.StructType.fromJson(json.loads(m["schema"]))
        version = m["version"] + 1

        # 1. schema evolution: diff batch payload vs table, widen/add
        payload_fields = [
            f for f in updates.schema.fields
            if f.name not in ("op", "lsn", "offset", "schema_version")
        ]
        new_user = evolve_schema(old_user, T.StructType(payload_fields))
        schema_changed = new_user != old_user

        # 2. ONE shuffle: bucket the raw batch, then LWW-dedup grouping on
        # (_bucket, key...) — the repartition satisfies the aggregate's
        # clustering (no second exchange). Duplicates cross it: the
        # aggregate runs after the exchange. Each of the
        # min(n_buckets, slots) reduce tasks holds whole buckets, and the
        # partitionBy write below emits one file per bucket.
        # (see operators/dedup.py for the max_by total order)
        bucketed = _by_bucket(updates, key_cols[0], n_buckets, n_buckets)
        deduped = lww_dedup_agg(bucketed, ["_bucket"] + key_cols, "lsn", "ts")
        # shape to the evolved physical schema: missing columns -> typed
        # nulls, narrower batch types -> widened casts
        shaped = deduped.select(
            F.col("_bucket"),
            *[
                (F.col(f.name) if f.name in deduped.columns else F.lit(None))
                .cast(f.dataType)
                .alias(f.name)
                for f in new_user.fields
            ],
            F.col("lsn").cast("long").alias("_lsn"),
            F.lit(version).cast("long").alias("_seq"),
            (F.col("op") == F.lit("D")).alias("_deleted"),
        )

        # batch-level row counts: taken from the pipeline's pre-aggregation
        # hints when present, or (fast path) from ``post_write_stats`` — a
        # deferred provider (an Observation riding the merge's own scan)
        # queried AFTER the write action and BEFORE the manifest commit, so
        # the batch needs no separate metrics job at all.
        # NOTE: Observation.get deadlocks inside streaming foreachBatch
        # (listener events never fire for those jobs), so counts must NOT
        # ride on observe() in that code path — the pipeline only passes
        # post_write_stats in bounded batch mode.
        if stats_hints is None and post_write_stats is None:
            hint_row = shaped.agg(
                F.count(F.lit(1)).alias("rows_in"),
                F.sum(F.when(F.col("_deleted"), 1).otherwise(0)).alias("deletes_in"),
            ).collect()[0]
            stats_hints = {
                "rows_in": hint_row["rows_in"] or 0,
                "deletes_in": hint_row["deletes_in"] or 0,
            }

        # 3. append the deduped batch as delta files — O(batch) write, no
        # read of existing data at all. Touched buckets are known EXACTLY
        # from the files the write produced (listed via the FS API) — no
        # extra distinct() job, no driver-local listdir.
        written = self._write_buckets(shaped, version, m)
        touched = sorted(written)
        if not touched:
            # empty write — _write_buckets already removed its dir
            return self._commit_noop(m, version, batch_id, last)
        new_deltas = {b: list(fl) for b, fl in (m.get("deltas") or {}).items()}
        for b, files in written.items():
            new_deltas.setdefault(str(b), [])
            new_deltas[str(b)].extend(files)

        observed_bytes = None
        if post_write_stats is not None:
            observed = post_write_stats() or {}
            if offset_range is None and observed.get("offset_start") is not None:
                offset_range = (
                    int(observed["offset_start"]), int(observed["offset_end"])
                )
            if observed.get("approx_bytes") is not None:
                observed_bytes = int(observed["approx_bytes"])
            if stats_hints is None:
                stats_hints = {
                    "rows_in": int(observed.get("rows_in") or 0),
                    "deletes_in": int(observed.get("deletes_in") or 0),
                }

        commit_info = {
            "batch_id": batch_id,
            "offset_range": list(offset_range) if offset_range else None,
            "buckets_rewritten": touched,
            "rows_in": int(stats_hints.get("rows_in", 0) or 0),
            "deletes_in": int(stats_hints.get("deletes_in", 0) or 0),
            "schema_changed": schema_changed,
        }
        still_delta = {f for fl in new_deltas.values() for f in fl}
        new_manifest = {
            "version": version,
            "schema": json.dumps(new_user.jsonValue()),
            "key_cols": key_cols,
            "n_buckets": n_buckets,
            "last_batch_id": batch_id if batch_id is not None else last,
            "buckets": m["buckets"],
            "deltas": new_deltas,
            # minor-compaction run markers survive unrelated merges
            "run_files": [
                f for f in (m.get("run_files") or []) if f in still_delta
            ],
            "file_stats": self._carry_stats(
                m, m["buckets"], new_deltas, self._collect_file_stats(written)
            ),
            "commits": (m.get("commits") or [])[-99:] + [commit_info],
        }
        try:
            self._commit(new_manifest)
        except CommitConflictError:
            # lost the manifest race: another writer committed this version.
            # Our data files live in an attempt-unique dir — delete them and
            # surface the conflict (the caller retries from a fresh manifest).
            self._delete_attempt_files(written)
            raise

        deletes_in = int(stats_hints.get("deletes_in", 0) or 0)
        return MergeStats(
            batch_id=batch_id,
            version=version,
            rows_upserted=int(stats_hints.get("rows_in", 0) or 0) - deletes_in,
            rows_deleted=deletes_in,
            buckets_touched=len(touched),
            offset_range=offset_range,
            schema_changed=schema_changed,
            approx_bytes=observed_bytes,
            written_files=written,
        )

    def _commit_noop(self, m: dict, version: int, batch_id, last) -> MergeStats:
        new_manifest = dict(m)
        new_manifest["version"] = version
        new_manifest["last_batch_id"] = batch_id if batch_id is not None else last
        self._commit(new_manifest)
        return MergeStats(batch_id=batch_id, version=version)
