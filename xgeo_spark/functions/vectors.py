"""Similarity search over embedding columns (array<float>).

Two paths, per the task brief:
- brute-force cosine top-k: dot products with `zip_with`/`aggregate`
  higher-order builtins in double precision — fully JVM-side, the exact
  baseline. O(n) per query vector, embarrassingly parallel.
- LSH-bucketed ANN: random-hyperplane sign buckets (seeded, deterministic)
  computed in ONE Arrow-batched pandas UDF (a single numpy matmul per
  batch), then candidates join only within a bucket — the scale path: the
  shuffle key is the bucket, so candidate generation is linear, not
  quadratic. At 100 TB you'd add multi-probe (flip one bit) for recall;
  `lsh_bucket_neighbors(multi_probe=True)` implements the 1-bit flip.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, x: acc + x)


def _norm(c):
    return F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk(
    df: DataFrame, query_vec: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    v = F.col(vec_col).cast("array<double>")
    cos = _dot(v, q) / (_norm(v) * _norm(q))
    return (
        df.select(F.col(id_col), F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def brute_force_pairs_topk(
    df: DataFrame, k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs exact top-k neighbors (O(n²) — recall oracle for tests,
    never the scale path)."""
    from pyspark.sql import Window

    a = df.select(F.col(id_col).alias("id_a"),
                  F.col(vec_col).cast("array<double>").alias("v_a"))
    b = df.select(F.col(id_col).alias("id_b"),
                  F.col(vec_col).cast("array<double>").alias("v_b"))
    cos = _dot("v_a", "v_b") / (_norm(F.col("v_a")) * _norm(F.col("v_b")))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
    )
    w = Window.partitionBy("id_a").orderBy(F.col("cosine").desc(), F.col("id_b"))
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def cosine_to_anchor_udf(anchor: list[float]):
    """pandas UDF: embedding -> cosine similarity to a fixed anchor vector.
    One numpy matmul per Arrow batch; float64 throughout."""
    q = np.asarray(anchor, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    @pandas_udf(T.DoubleType())
    def cos(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="float64")
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = (m @ q) / (norms * qn)
        return pd.Series(out)

    return cos


def cosine_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.4,
    n_bands: int = 8,
    band_width: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via deterministic sign-band LSH.

    The dedup counterpart to :func:`lsh_bucket_neighbors`: instead of seeded
    random hyperplanes, the planes are the coordinate axes — band ``k``'s
    hash is the sign bits of dimensions ``[k*band_width, (k+1)*band_width)``
    folded into an integer (first dimension = most significant bit). Two
    vectors are candidates iff they share ALL sign bits in at least one
    band; exact cosine >= ``tau`` is then verified on candidates only.

    Determinism is the point: an external engine (the DuckDB oracle) can
    recompute the identical bucketing from the raw arrays, so the whole
    operator is value-checkable end-to-end — no golden pins.

    Recall guarantee (pigeonhole, same argument as the simhash
    band-decomposition in dedup_text.py): a pair whose sign vectors differ
    in fewer than ``n_bands`` bits MUST agree on at least one whole band,
    hence is always a candidate. High-cosine near-duplicates flip few sign
    bits, so recall degrades gracefully with distance, and the miss region
    is characterizable (>= n_bands sign flips).

    Scale: banding/hashing is pure JVM expression work (no Python at all),
    candidates come from an equi-join on (band_idx, band_hash) — linear in
    bucket sizes, never all-pairs — and ``max_bucket_size`` drops
    degenerate hot buckets before the self-join (see _cap_hot_buckets).
    The exact-verify `zip_with` dot product runs only on candidate pairs.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )

    def band_hash(k: int):
        sl = F.slice("_v", k * band_width + 1, band_width)
        return F.aggregate(
            sl,
            F.lit(0).cast("long"),
            lambda acc, x: acc * 2 + F.when(x >= 0, 1).otherwise(0),
        )

    bands = F.array(
        *[
            F.struct(
                F.lit(k).alias("band_idx"), band_hash(k).alias("band_hash")
            )
            for k in range(n_bands)
        ]
    )
    exploded = base.select(
        "_id", "_v", F.explode(bands).alias("_b")
    ).select(
        "_id",
        "_v",
        F.col("_b.band_idx").alias("_band"),
        F.col("_b.band_hash").alias("_hash"),
    )
    if max_bucket_size is not None:
        from xgeo_spark.functions.dedup_text import _cap_hot_buckets

        exploded = _cap_hot_buckets(exploded, ["_band", "_hash"], max_bucket_size)
    left = exploded.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("v_a"), "_band", "_hash"
    )
    right = exploded.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("v_b"), "_band", "_hash"
    )
    cos = _dot("v_a", "v_b") / (_norm(F.col("v_a")) * _norm(F.col("v_b")))
    return (
        left.join(right, ["_band", "_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= F.lit(float(tau)))
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


def make_lsh_bucket_udf(dim: int, n_planes: int, seed: int = 42):
    """pandas UDF: embedding -> int bucket (sign bits of R @ v).
    One numpy matmul per Arrow batch."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_planes))
    powers = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf(T.LongType())
    def lsh_bucket(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        m = np.stack(vecs.to_numpy())  # (batch, dim)
        signs = (m @ planes) > 0      # (batch, n_planes)
        return pd.Series((signs @ powers).astype(np.int64))

    return lsh_bucket


def lsh_bucket_neighbors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    seed: int = 42,
    multi_probe: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """ANN candidate pairs: same-bucket join + exact cosine on candidates.

    Returns (id_a, id_b, cosine) — candidates only; recall depends on
    n_planes (fewer planes = bigger buckets = higher recall, more work).
    ``max_bucket_size`` drops over-full buckets before the self-join (the
    hot-bucket guard for degenerate regions of embedding space — e.g. a
    mass of near-zero vectors landing in one cell; see
    dedup_text._cap_hot_buckets for the scale rationale).
    """
    dim = len(df.select(vec_col).first()[0])
    bucket_udf = make_lsh_bucket_udf(dim, n_planes, seed)
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        bucket_udf(F.col(vec_col)).alias("_bucket"),
    )
    if max_bucket_size is not None:
        # cap ONCE on the base (home buckets) before deriving the two join
        # sides — capping left/right separately would run the identical
        # windowed count (and its shuffle) twice over the same rows
        from xgeo_spark.functions.dedup_text import _cap_hot_buckets

        base = _cap_hot_buckets(base, ["_bucket"], max_bucket_size)
    if multi_probe:
        # probe the home bucket plus every 1-bit-flip neighbor bucket
        probes = F.array(
            F.col("_bucket"),
            *[
                F.col("_bucket").bitwiseXOR(F.lit(1 << i))
                for i in range(n_planes)
            ],
        )
        left = base.select(
            F.col("_id").alias("id_a"), F.col("_v").alias("v_a"),
            F.explode(probes).alias("_bucket"),
        )
    else:
        left = base.select(
            F.col("_id").alias("id_a"), F.col("_v").alias("v_a"), "_bucket"
        )
    right = base.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("v_b"), "_bucket"
    )
    cos = _dot("v_a", "v_b") / (_norm(F.col("v_a")) * _norm(F.col("v_b")))
    return (
        left.join(right, "_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


def ivf_assign_udf(seed_matrix: list[list[float]], seed_ids: list[int]):
    """pandas UDF: embedding -> id of its max-cosine seed centroid (the IVF
    cell assignment).

    One float64 matmul against the (K x d) centroid matrix per Arrow batch
    — O(K) per vector, no shuffle; the centroid matrix rides to executors
    in the serialized UDF closure (broadcast-by-closure: K is small by
    construction, that's what makes IVF an index and not a join). Ties
    break to the LOWEST seed id (np.argmax takes the first maximum and the
    rows are sorted by seed id), matching the oracle's
    ``ORDER BY cosine DESC, seed_id`` row_number tie-break.
    """
    order = np.argsort(np.asarray(seed_ids))
    ids = np.asarray(seed_ids, dtype=np.int64)[order]
    s = np.asarray(seed_matrix, dtype=np.float64)[order]
    norms = np.linalg.norm(s, axis=1)
    norms[norms == 0.0] = 1.0
    sn = s / norms[:, None]

    @pandas_udf(T.LongType())
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        vnorms = np.linalg.norm(m, axis=1)
        vnorms[vnorms == 0.0] = 1.0
        sims = (m / vnorms[:, None]) @ sn.T
        return pd.Series(ids[np.argmax(sims, axis=1)])

    return assign


def ivf_probe_cells(
    seed_matrix: list[list[float]], seed_ids: list[int],
    query_vec: list[float], nprobe: int,
) -> list[int]:
    """The nprobe seed ids nearest (by cosine) to the query — driver-side
    numpy over the K-row centroid matrix (K is tiny; this is metadata math,
    not a Spark job). Ties break to the lower seed id."""
    s = np.asarray(seed_matrix, dtype=np.float64)
    ids = np.asarray(seed_ids, dtype=np.int64)
    q = np.asarray(query_vec, dtype=np.float64)
    norms = np.linalg.norm(s, axis=1)
    norms[norms == 0.0] = 1.0
    qn = float(np.linalg.norm(q)) or 1.0
    sims = (s / norms[:, None]) @ (q / qn)
    order = np.lexsort((ids, -sims))
    return [int(ids[i]) for i in order[:nprobe]]


def kmeans_refine(
    df: DataFrame,
    seed_matrix: list[list[float]],
    seed_ids: list[int],
    vec_col: str = "embedding",
    n_rounds: int = 2,
    quantize: int | None = 6,
    empty_cells: str = "keep",
) -> tuple[list[list[float]], list[int]]:
    """Lloyd k-means rounds over an embedding column, as DataFrame ops —
    the centroid-refinement step that turns seed-vector IVF into a real
    index (the `emb_ann_ivf` docstring's promised scale path).

    Per round: cosine-argmax assignment (one Arrow matmul per batch, no
    shuffle) then per-cell mean via d `avg(element_at(vec, i))` aggregate
    expressions — ONE map-side-combinable hash aggregate per round, no
    explode (exploding N vectors to N*d rows would shuffle d times the
    data). Only K rows ever reach the driver per round.

    ``quantize`` rounds each centroid component (cross-engine determinism:
    avg over doubles is summation-order-dependent; rounding to 1e-6
    absorbs last-ulp drift so an independent engine re-deriving the same
    rounds lands on bit-identical centroids). ``empty_cells='keep'`` is
    classic Lloyd (a cell that loses all members keeps its centroid);
    ``'drop'`` removes it from the index.

    K*d values per round cross the driver — with K<=4096 cells that is
    metadata-sized at any table size; the data-sized work (assignment +
    partial aggregation) stays distributed.
    """
    if empty_cells not in ("keep", "drop"):
        raise ValueError(f"unknown empty_cells policy: {empty_cells}")
    ids = [int(i) for i in seed_ids]
    mat = [[float(x) for x in row] for row in seed_matrix]
    d = len(mat[0])
    for _ in range(max(0, n_rounds)):
        assign = ivf_assign_udf(mat, ids)
        aggs = [
            F.avg(F.element_at(F.col(vec_col), i + 1).cast("double")).alias(f"m{i}")
            for i in range(d)
        ]
        rows = (
            df.select(assign(F.col(vec_col)).alias("cell"), vec_col)
            .groupBy("cell")
            .agg(*aggs)
            .collect()
        )
        means = {
            int(r["cell"]): [
                round(r[f"m{i}"], quantize) if quantize is not None else r[f"m{i}"]
                for i in range(d)
            ]
            for r in rows
        }
        if empty_cells == "drop":
            ids = [c for c in ids if c in means]
            mat = [means[c] for c in ids]
        else:
            mat = [means.get(c, old) for c, old in zip(ids, mat)]
        if not ids:
            raise ValueError("k-means lost every cell (empty input?)")
    return mat, ids


def write_ivf_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    cell_ids: list[int],
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF index: rows written parquet-PARTITIONED BY their
    `cell` assignment, centroid matrix stored beside the data. Probing a
    cell is then PARTITION PRUNING (the scan plans only cell=<id>
    directories and never lists the rest) — the lake-layout realization of
    "IVF reads nprobe/K of the table". `repartition("cell")` keeps it to
    one file per cell per write, not one per (task, cell).

    Rows carry an ``_lsn`` version column (from an ``lsn`` input column if
    present, else -1 = "base build") so `upsert_ivf_index` can append
    newer versions of a vector and reads can resolve last-writer-wins."""
    import json as _json

    assign = ivf_assign_udf(centroids, cell_ids)
    if "lsn" in df.columns:
        base = df.withColumn("_lsn", F.col("lsn").cast("long")).drop("lsn")
    elif "_lsn" in df.columns:
        base = df.withColumn("_lsn", F.col("_lsn").cast("long"))
    else:
        base = df.withColumn("_lsn", F.lit(-1).cast("long"))
    (
        base.withColumn("cell", assign(F.col(vec_col)))
        .repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(path)
    )
    meta = _json.dumps({"cell_ids": cell_ids, "centroids": centroids})
    spark = df.sparkSession
    # sidecar via the DataFrame writer so the index works on any Hadoop FS
    spark.createDataFrame([(meta,)], "meta string").coalesce(1).write.mode(
        "overwrite"
    ).text(path + "_meta")


def _ivf_meta(spark, path: str) -> dict:
    import json as _json

    return _json.loads(spark.read.text(path + "_meta").first()["value"])


def read_ivf_live(
    spark, path: str, id_col: str = "vec_id", cells: list[int] | None = None
) -> DataFrame:
    """Live (last-writer-wins) rows of an IVF index, optionally restricted
    to a probed cell subset (partition pruning — the pruned scan is the
    whole point of the layout).

    Upserts append a vector's NEW version into its (possibly different)
    cell and record (id, lsn) in the ``_moved`` sidecar; stale versions —
    including ones sitting in a cell the probe DID read — are dropped here
    by the exclusion join: a row survives only if no moved entry for its
    id carries a strictly newer lsn (the newest upsert's own entry ties,
    so it survives; a delete writes only the moved entry, so every stored
    version is excluded). The moved set is bounded by the churn since the
    last rebuild — `maybe_refine_ivf` folds it away — so the exclusion
    join is a broadcast, costing nothing against the probed read."""
    df = spark.read.parquet(path)
    if cells is not None:
        df = df.filter(F.col("cell").isin(list(cells)))
    if "_lsn" not in df.columns:
        df = df.withColumn("_lsn", F.lit(-1).cast("long"))
    try:
        moved = spark.read.parquet(path + "_moved")
    except Exception:
        return df
    latest = moved.groupBy(F.col("id").alias("_mid")).agg(
        F.max("lsn").alias("_mlsn")
    )
    return (
        df.join(
            F.broadcast(latest), df[id_col] == F.col("_mid"), "left"
        )
        .filter(F.col("_mlsn").isNull() | (F.col("_mlsn") <= F.col("_lsn")))
        .drop("_mid", "_mlsn")
    )


def ivf_search(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by cosine from a materialized IVF index: pick the nprobe
    nearest centroids driver-side (metadata math), read ONLY those cells'
    partitions, exact-verify inside them. Upserted/deleted vectors are
    resolved through `read_ivf_live` at the same read fraction."""
    meta = _ivf_meta(spark, path)
    probe = ivf_probe_cells(
        meta["centroids"], meta["cell_ids"], query_vec, nprobe
    )
    cos = cosine_to_anchor_udf([float(x) for x in query_vec])
    return (
        read_ivf_live(spark, path, id_col=id_col, cells=probe)
        .select(
            id_col,
            "cell",
            F.round(cos(F.col(vec_col)), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), id_col)
        .limit(k)
    )


def upsert_ivf_index(
    spark,
    path: str,
    updates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lsn_col: str = "lsn",
    op_col: str | None = None,
) -> dict:
    """Incrementally maintain a materialized IVF index (VERDICT r4 item
    4): assign the update batch's vectors to cells under the EXISTING
    centroids and append them into the partitioned layout — no rebuild,
    no read of the index. Every updated/deleted id is also appended to
    the ``_moved`` sidecar, which `read_ivf_live` uses to drop stale
    versions (a changed vector may land in a different cell; its old row
    is tombstoned by lsn, not sought out and rewritten — O(batch) writes
    only).

    ``op_col``: optional CDC op column; rows with 'D' write only the
    moved tombstone. Centroids drift as data arrives — `maybe_refine_ivf`
    is the companion trigger that re-runs Lloyd + rewrites when cell-size
    skew or the moved fraction passes a threshold.
    """
    meta = _ivf_meta(spark, path)
    assign = ivf_assign_udf(meta["centroids"], meta["cell_ids"])
    updates = updates.persist()
    try:
        ups = updates
        is_del = F.lit(False)
        if op_col is not None:
            ups = ups.filter(F.col(op_col) != "D")
            is_del = F.col(op_col) == "D"
        (
            ups.withColumn("cell", assign(F.col(vec_col)))
            .withColumn("_lsn", F.col(lsn_col).cast("long"))
            .drop(lsn_col, *( [op_col] if op_col else [] ))
            .repartition("cell")
            .write.partitionBy("cell")
            .mode("append")
            .parquet(path)
        )
        updates.select(
            F.col(id_col).alias("id"), F.col(lsn_col).cast("long").alias("lsn")
        ).coalesce(1).write.mode("append").parquet(path + "_moved")
        # one job over the cached batch, before it is released
        n = updates.agg(
            F.count(F.when(~is_del, 1)).alias("upserted"),
            F.count(F.when(is_del, 1)).alias("tombstoned"),
        ).first()
    finally:
        updates.unpersist()
    return {"upserted": n["upserted"], "tombstoned": n["tombstoned"]}


def ivf_cell_stats(spark, path: str, id_col: str = "vec_id") -> dict:
    """Cell-size skew + churn of an IVF index — the drift signals.
    One pruned-column aggregate over the index (cell is a partition
    column: the scan reads no row data) + a count of the moved sidecar."""
    rows = (
        read_ivf_live(spark, path, id_col=id_col)
        .groupBy("cell").count().collect()
    )
    sizes = {int(r["cell"]): int(r["count"]) for r in rows}
    n = sum(sizes.values())
    mean = n / max(1, len(sizes))
    try:
        n_moved = spark.read.parquet(path + "_moved").count()
    except Exception:
        n_moved = 0
    return {
        "n_live": n,
        "n_cells": len(sizes),
        "max_cell": max(sizes.values(), default=0),
        "skew": (max(sizes.values(), default=0) / mean) if n else 0.0,
        "n_moved": n_moved,
        "moved_frac": n_moved / n if n else 0.0,
        "sizes": sizes,
    }


def maybe_refine_ivf(
    spark,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    skew_threshold: float = 4.0,
    moved_frac_threshold: float = 0.5,
    n_rounds: int = 2,
    force: bool = False,
) -> bool:
    """Drift trigger: when cell-size skew (max/mean) or the moved-sidecar
    fraction passes its threshold, re-run `kmeans_refine` from the CURRENT
    centroids over the LIVE rows and rewrite the index (folding the moved
    tombstones away). Returns True when a rebuild happened.

    The rebuild is the expensive O(index) path — the thresholds make it
    amortized: upserts are O(batch) until drift actually warrants a
    re-layout, the same economics as the lake's major compaction."""
    stats = ivf_cell_stats(spark, path, id_col=id_col)
    if not force and (
        stats["skew"] < skew_threshold
        and stats["moved_frac"] < moved_frac_threshold
    ):
        return False
    meta = _ivf_meta(spark, path)
    live = read_ivf_live(spark, path, id_col=id_col).drop("cell")
    live = live.persist()
    try:
        mat, ids = kmeans_refine(
            live, meta["centroids"], meta["cell_ids"],
            vec_col=vec_col, n_rounds=n_rounds, quantize=6,
            empty_cells="keep",
        )
        tmp = path + "_rebuild"
        write_ivf_index(live, tmp, mat, ids, vec_col=vec_col)
    finally:
        live.unpersist()
    # swap: the rebuild wrote to a sibling dir; promote it and clear the
    # tombstones it folded away (local-FS rename; on an object store the
    # index root would be manifest-switched like the lake tables)
    import shutil

    for suffix in ("", "_meta"):
        shutil.rmtree(path + suffix)
        shutil.move(tmp + suffix, path + suffix)
    shutil.rmtree(path + "_moved", ignore_errors=True)
    return True
