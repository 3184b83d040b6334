"""Whole-pipeline differential property test: ARBITRARY change streams —
duplicate redeliveries, out-of-order arrival, deletes, unicode text, a
mid-stream schema-v2 cut — replayed through the REAL multi-batch pipeline
(decode → optional NFC/whitespace normalization → LWW dedup → schema
evolution → idempotent bucket merge, under hypothesis-chosen compaction
cadence knobs) must equal the pure-pandas LWW oracle.

The seeded generator suites (test_cdc_replay, the long-run harnesses)
cover volume; this covers SHAPE: hypothesis owns the event sequence, the
batch boundaries, and the cadence (threshold / minor-major / shards), so
any plumbing assumption that only holds for the generator's distribution
— or for one compaction schedule — falls out here. Examples are few and
small because every one runs real Spark jobs."""

from __future__ import annotations

import os
import unicodedata

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from xgeo_spark.fixtures.generator import _parquet_schema, lww_oracle
from xgeo_spark.sinks.parquet_lake import ParquetLakeTable
from xgeo_spark.streaming.pipeline import CDCIngestPipeline, IngestConfig

KEYS = [("cA", 0), ("cA", 1), ("cB", 0), ("cB", 7), ("cC", 3)]
# NFC-interesting: decomposed é, NBSP + runs of whitespace, empty, plain,
# a U+001F separator (str.split() whitespace, not Java's), a conjoining
# jamo L+V+T run (NFC composes it to U+AC01) and ANGSTROM SIGN (NFC maps
# it to U+00C5): every branch of the normalize_text_col gate
TEXTS = [None, "", "plain", "Café crema", "  a  b\n c  ", "x",
         "a\x1fb", "\u1100\u1161\u11a8", "\u212b"]
TOOLS = [None, "search", "exec"]
ROLES = ["user", "assistant", "tool"]
BASE_TS = pd.Timestamp("2026-03-01 00:00:00")

event_st = st.fixed_dictionaries(
    {
        "key": st.integers(0, len(KEYS) - 1),
        "op": st.sampled_from(["I", "U", "U", "D"]),  # updates dominate
        "text": st.sampled_from(TEXTS),
        "tool": st.sampled_from(TOOLS),
        "role": st.sampled_from(ROLES),
        "meta": st.sampled_from([None, '{"k":1}']),
    }
)

stream_st = st.fixed_dictionaries(
    {
        "events": st.lists(event_st, min_size=1, max_size=32),
        # indices (mod len) redelivered verbatim: same lsn/offset — the
        # generator contract (equal-lsn ties are exact duplicates)
        "dups": st.lists(st.integers(0, 99), max_size=6),
        # arrival permutation seed (out-of-order w.r.t. lsn)
        "shuffle_seed": st.integers(0, 2**16),
        # logical position where schema_version flips to 2
        "v2_cut_frac": st.floats(0.0, 1.0),
        "n_files": st.integers(1, 3),
        "files_per_batch": st.integers(1, 2),
        "n_buckets": st.sampled_from([1, 2, 4]),
        "compact_threshold": st.sampled_from([1, 2, 8]),
        "major_every": st.sampled_from([1, 2]),
        "major_shards": st.sampled_from([1, 2]),
        "normalize": st.booleans(),
    }
)


def _norm_text(t):
    if t is None:
        return None
    return " ".join(unicodedata.normalize("NFC", t).split())


def _build(raw) -> tuple[pd.DataFrame, int]:
    rows = []
    cut = int(round(raw["v2_cut_frac"] * len(raw["events"])))
    for lsn, e in enumerate(raw["events"]):
        conv, turn = KEYS[e["key"]]
        v2 = lsn >= cut
        rows.append(
            {
                "lsn": lsn,
                "offset": lsn,
                "op": e["op"],
                "conv_id": conv,
                "turn_idx": turn,
                "role": None if e["op"] == "D" else e["role"],
                "text": None if e["op"] == "D" else e["text"],
                "tool": None if e["op"] == "D" else e["tool"],
                # ts strictly monotone in lsn: no cross-lsn tie ambiguity
                "ts": BASE_TS + pd.Timedelta(minutes=lsn),
                "schema_version": 2 if v2 else 1,
                "tool_meta": (e["meta"] if v2 and e["op"] != "D" else None),
            }
        )
    for d in raw["dups"]:
        rows.append(dict(rows[d % len(raw["events"])]))  # exact redelivery
    frame = pd.DataFrame(rows)
    order = np.random.default_rng(raw["shuffle_seed"]).permutation(len(frame))
    return frame.iloc[order].reset_index(drop=True), cut


def _write_feed(feed: str, arrived: pd.DataFrame, n_files: int) -> None:
    os.makedirs(feed)
    chunks = np.array_split(np.arange(len(arrived)), n_files)
    for i, idx in enumerate(chunks):
        part = arrived.iloc[idx]
        v2 = bool((part["schema_version"] == 2).any()) if len(part) else False
        schema = _parquet_schema(v2)
        cols = {}
        for f in schema:
            c = part[f.name] if f.name in part else pd.Series([], dtype=object)
            cols[f.name] = pa.array(c.tolist(), type=f.type)
        pq.write_table(
            pa.table(cols, schema=schema),
            os.path.join(feed, f"events-{i:05d}.parquet"),
        )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(raw=stream_st)
def test_pipeline_matches_oracle_on_arbitrary_streams(spark, tmp_path_factory, raw):
    arrived, _cut = _build(raw)
    root = str(tmp_path_factory.mktemp("fuzz"))
    feed = os.path.join(root, "feed")
    _write_feed(feed, arrived, raw["n_files"])

    table = ParquetLakeTable(spark, os.path.join(root, "lake"))
    pipe = CDCIngestPipeline(
        spark,
        feed,
        table,
        config=IngestConfig(
            n_buckets=raw["n_buckets"],
            lineage=False,
            normalize_text=raw["normalize"],
            compact_threshold=raw["compact_threshold"],
            major_every=raw["major_every"],
            major_shards=raw["major_shards"],
        ),
    )
    pipe.run_batch_replay(files_per_batch=raw["files_per_batch"])

    got = table.read().orderBy("conv_id", "turn_idx").toPandas()
    # a pure-v1 stream never evolves tool_meta in — absent column == null
    if "tool_meta" not in got.columns:
        got["tool_meta"] = None
    got = got[
        ["conv_id", "turn_idx", "role", "text", "tool", "ts", "tool_meta"]
    ].reset_index(drop=True)
    exp = lww_oracle(arrived)
    if raw["normalize"]:
        exp = exp.assign(text=exp["text"].map(_norm_text, na_action="ignore"))

    assert len(got) == len(exp), (len(got), len(exp))
    for col in ("conv_id", "turn_idx", "role", "text", "tool", "tool_meta"):
        assert got[col].fillna("∅").tolist() == exp[col].fillna("∅").tolist(), col
    assert (
        pd.to_datetime(got["ts"]).tolist() == pd.to_datetime(exp["ts"]).tolist()
    )

    # idempotent re-replay from scratch objects converges, never doubles
    table2 = ParquetLakeTable(spark, os.path.join(root, "lake"))
    pipe2 = CDCIngestPipeline(
        spark, feed, table2,
        config=IngestConfig(
            n_buckets=raw["n_buckets"], lineage=False,
            normalize_text=raw["normalize"],
            compact_threshold=raw["compact_threshold"],
            major_every=raw["major_every"],
            major_shards=raw["major_shards"],
        ),
    )
    stats = pipe2.run_batch_replay(files_per_batch=raw["files_per_batch"])
    assert all(s.skipped for s in stats)
    assert table2.read().count() == len(exp)


def _merge_plan(spark) -> tuple[dict[int, str], dict[int, int]]:
    """Operator names and child -> parent edges of the last executed LWW
    merge (the execution whose plan holds a ``max_by`` aggregate), read
    from Spark's SQL status store."""
    ss = spark._jsparkSession.sharedState().statusStore()
    execs = ss.executionsList()
    for k in range(execs.size() - 1, -1, -1):
        g = ss.planGraph(execs.apply(k).executionId())
        nodes = [g.allNodes().apply(i) for i in range(g.allNodes().size())]
        if any("max_by" in n.desc() for n in nodes):
            edges = [g.edges().apply(i) for i in range(g.edges().size())]
            return (
                {n.id(): n.name() for n in nodes},
                {e.fromId(): e.toId() for e in edges},
            )
    raise AssertionError("no merge execution found")


@pytest.mark.parametrize("single_job", [True, False])
@pytest.mark.parametrize("normalize", [True, False])
def test_normalization_runs_map_side_of_the_one_exchange(
    spark, tmp_path, normalize, single_job
):
    """The merge plan on both apply paths (footer hint: one job with
    observe; no hint: pre-aggregation pass first): with normalize_text on,
    exactly one ArrowEvalPython, below the single Exchange, so the Python
    crossing runs once per scan task; with it off, none."""
    raw = {
        "events": [
            {"key": k % len(KEYS), "op": "U", "text": t, "tool": None,
             "role": "user", "meta": None}
            for k, t in enumerate(TEXTS * 3)
        ],
        "dups": [0, 1], "shuffle_seed": 7, "v2_cut_frac": 1.0,
    }
    arrived, _ = _build(raw)
    feed = str(tmp_path / "feed")
    _write_feed(feed, arrived, 2)
    table = ParquetLakeTable(spark, str(tmp_path / "lake"))
    pipe = CDCIngestPipeline(
        spark, feed, table,
        config=IngestConfig(n_buckets=4, lineage=False, normalize_text=normalize),
    )
    files = sorted(os.path.join(feed, f) for f in os.listdir(feed))
    hint = pipe._sv_hint(files) if single_job else None
    pipe.apply_batch(pipe.source.read_batch(files), 0, max_sv_hint=hint)

    names, parent = _merge_plan(spark)
    exchanges = [i for i, n in names.items() if n == "Exchange"]
    pythons = [i for i, n in names.items() if n == "ArrowEvalPython"]
    assert len(exchanges) == 1, names
    assert len(pythons) == (1 if normalize else 0), names
    for node in pythons:
        while node in parent and node != exchanges[0]:
            node = parent[node]
        assert node == exchanges[0], names
