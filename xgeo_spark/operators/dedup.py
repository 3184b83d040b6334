"""Last-writer-wins dedup per key — the heart of the CDC apply path.

The reference engine is order-preserving by construction (one unbuffered
channel, one consumer — /root/reference/cmd/xgeo/main.go:44-62), so "last
writer wins" is implicit there. In a distributed engine order is not free;
we make the commit order explicit (`lsn`) and reduce each key to its
maximal writer under a TOTAL order:

    (lsn DESC, ts DESC, op_rank DESC)

The op_rank tie-break makes replay deterministic even for pathological
equal-lsn conflicts (exact duplicates are identical rows, so any tie-break
works; we still define one so the reduction is a true total order).

Two physical strategies, identical semantics (property-tested equal):

- ``lww_dedup_window``: row_number() over Window.partitionBy(keys)
  .orderBy(order DESC) == 1. This is the textbook shape; it shuffles ALL
  rows to their key partition and sorts. Hot keys => straggler partitions,
  mitigated here with an optional two-phase salted pre-reduce.

- ``lww_dedup_agg``: groupBy(keys).agg(max_by(struct(payload), order)).
  The struct holds strings, so its aggregation buffer is not fixed-width
  and Catalyst plans a SORT-based aggregate: Sort + SortAggregate
  (partial_max_by) -> Exchange -> Sort + SortAggregate (max_by). The
  PARTIAL phase before the exchange is a map-side combine, so duplicates
  and hot keys collapse *before* the shuffle — at 10^10 events this is the
  difference between shuffling the feed and shuffling ~|keys| rows. Skew
  needs no salting: partial aggregation already spreads hot-key work
  across input partitions. The price is a per-task sort on each side of
  the exchange (tests/test_dedup.py pins this plan). The lake merge hands
  it a batch already hash-partitioned on ``_bucket``, so there both
  phases run after that one exchange and duplicates cross it.

The pipeline defaults to the agg strategy; the window strategy is kept both
as the semantic reference and for operator parity (SURVEY.md §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def _op_rank():
    """Total-order tie-break rank for operations at identical (lsn, ts)."""
    return F.when(F.col("op") == "D", 2).when(F.col("op") == "U", 1).otherwise(0)


def _order_cols(lsn_col: str, ts_col: str) -> list:
    return [F.col(lsn_col).desc(), F.col(ts_col).desc(), _op_rank().desc()]


def lww_dedup_window(
    df: DataFrame,
    keys: list[str],
    lsn_col: str = "lsn",
    ts_col: str = "ts",
    salt_buckets: int = 0,
) -> DataFrame:
    """row_number()-based LWW dedup (north-star reference shape).

    With ``salt_buckets`` > 0 a two-phase plan is used to break hot-key skew:
    phase 1 windows over (keys + salt) — duplicates of a hot key are spread
    across ``salt_buckets`` partitions and reduced to one survivor each —
    phase 2 re-windows the ≤ salt_buckets survivors per key. The salt is
    derived from the event's own lsn so duplicates of the same key scatter.
    """
    if salt_buckets and salt_buckets > 1:
        salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(lsn_col)), F.lit(salt_buckets)))
        w1 = Window.partitionBy(*[F.col(k) for k in keys], F.col("_salt")).orderBy(
            *_order_cols(lsn_col, ts_col)
        )
        survivors = (
            salted.withColumn("_rn", F.row_number().over(w1))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_salt")
        )
        df = survivors
    w = Window.partitionBy(*keys).orderBy(*_order_cols(lsn_col, ts_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def lww_dedup_agg(
    df: DataFrame,
    keys: list[str],
    lsn_col: str = "lsn",
    ts_col: str = "ts",
) -> DataFrame:
    """max_by-based LWW dedup (the scale path: partial agg before shuffle)."""
    payload = [c for c in df.columns if c not in keys]
    ord_key = F.struct(
        F.col(lsn_col).alias("l"), F.col(ts_col).alias("t"), _op_rank().alias("r")
    )
    winner = F.max_by(F.struct(*[F.col(c) for c in payload]), ord_key).alias("_w")
    out = df.groupBy(*keys).agg(winner)
    return out.select(*keys, *[F.col(f"_w.{c}").alias(c) for c in payload])


def lww_dedup(
    df: DataFrame,
    keys: list[str],
    lsn_col: str = "lsn",
    ts_col: str = "ts",
    strategy: str = "agg",
    salt_buckets: int = 0,
) -> DataFrame:
    if strategy == "agg":
        return lww_dedup_agg(df, keys, lsn_col, ts_col)
    if strategy == "window":
        return lww_dedup_window(df, keys, lsn_col, ts_col, salt_buckets)
    raise ValueError(f"unknown dedup strategy: {strategy}")
