"""LWW dedup semantics (SURVEY.md §5.2 item 5): window == agg == oracle,
tie-breaking is total, salting does not change results."""

import datetime as dt

import pandas as pd

from xgeo_spark.operators.dedup import lww_dedup_agg, lww_dedup_window

TS = dt.datetime(2026, 1, 1)


def _df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "lsn", "ts", "op", "text"])
    )


ROWS = [
    ("c1", 0, 1, TS, "I", "v1"),
    ("c1", 0, 3, TS + dt.timedelta(seconds=3), "U", "v3"),
    ("c1", 0, 2, TS + dt.timedelta(seconds=2), "U", "v2"),   # out of order
    ("c1", 0, 3, TS + dt.timedelta(seconds=3), "U", "v3"),   # exact duplicate
    ("c1", 1, 4, TS, "I", "t1"),
    ("c1", 1, 5, TS, "D", None),                              # delete wins
    ("c2", 0, 6, TS, "I", "x"),
    ("c2", 0, 7, TS, "D", None),
    ("c2", 0, 8, TS, "I", "reborn"),                          # delete-then-reinsert
]

EXPECTED = {("c1", 0): ("U", "v3"), ("c1", 1): ("D", None), ("c2", 0): ("I", "reborn")}


def _check(result_df):
    got = {
        (r["conv_id"], r["turn_idx"]): (r["op"], r["text"])
        for r in result_df.collect()
    }
    assert got == EXPECTED


def test_window_strategy(spark):
    _check(lww_dedup_window(_df(spark, ROWS), ["conv_id", "turn_idx"]))


def test_window_salted(spark):
    _check(
        lww_dedup_window(_df(spark, ROWS), ["conv_id", "turn_idx"], salt_buckets=4)
    )


def test_agg_strategy(spark):
    _check(lww_dedup_agg(_df(spark, ROWS), ["conv_id", "turn_idx"]))


def test_strategies_agree_on_random_feed(spark):
    from xgeo_spark.fixtures.generator import ChangeStreamConfig, generate_change_events

    ev = generate_change_events(ChangeStreamConfig(n_events=5000, n_convs=60, seed=7))
    df = spark.createDataFrame(ev).drop("tool_meta")
    a = lww_dedup_agg(df, ["conv_id", "turn_idx"])
    w = lww_dedup_window(df, ["conv_id", "turn_idx"], salt_buckets=8)
    key = lambda r: (r["conv_id"], r["turn_idx"])  # noqa: E731
    da = {key(r): (r["lsn"], r["op"], r["text"]) for r in a.collect()}
    dw = {key(r): (r["lsn"], r["op"], r["text"]) for r in w.collect()}
    assert da == dw
    assert len(da) > 0


def test_window_plan_has_partial_group_limit(spark):
    """The bench's skew leg (bench.py run_skew_bench) claims the plain
    window dedup is skew-proof on Spark 4 because Catalyst inserts a
    PARTIAL WindowGroupLimit below the exchange — each map task reduces
    to 1 row per key BEFORE the shuffle, so a hot key never concentrates
    its raw rows in one reducer. Pin that plan shape so an upgrade or a
    conf change that silently drops it is caught here, not at 10^10
    events."""
    out = lww_dedup_window(_df(spark, ROWS), ["conv_id", "turn_idx"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    partial = plan.find("WindowGroupLimit")
    assert partial != -1, plan
    assert "Partial" in plan[partial:], plan
    # and the partial phase sits BELOW the exchange (map side): the plan
    # prints top-down, so the Partial occurrence comes after Exchange
    exch = plan.find("Exchange hashpartitioning")
    partial_line = plan.find(", Partial")
    assert exch != -1 and partial_line > exch, plan


def test_agg_plan_is_sort_based_with_partial_below_exchange(spark):
    """``max_by`` over a struct holding strings has no fixed-width
    aggregation buffer, so Catalyst plans the agg strategy SORT-based, not
    as a hash aggregate: Sort + SortAggregate(partial_max_by) -> Exchange
    -> Sort + SortAggregate(max_by). Pin that shape, and that the partial
    phase sits BELOW the one exchange (map-side combine: duplicates and
    hot keys collapse before the shuffle)."""
    out = lww_dedup_agg(_df(spark, ROWS), ["conv_id", "turn_idx"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "HashAggregate" not in plan, plan
    assert plan.count("SortAggregate(") == 2, plan
    exch = plan.find("Exchange hashpartitioning")
    partial = plan.find("SortAggregate(", exch)
    assert partial > exch, plan
    assert "partial_max_by" in plan[partial:], plan
    assert "partial_max_by" not in plan[:exch], plan
