"""The one compaction policy (``pipeline.select_compaction``), tested as the
pure function it is: no Spark session. Each cadence the engine supports —
inline two-level, always-major (``major_every=1``), sharded, and background
majors — is a setting of this one function."""

from __future__ import annotations

import random

from xgeo_spark.sinks.base import MergeStats
from xgeo_spark.sinks.parquet_lake import ParquetLakeTable
from xgeo_spark.streaming.compactor import BackgroundCompactor
from xgeo_spark.streaming.pipeline import (
    CDCIngestPipeline,
    IngestConfig,
    select_compaction,
)


def _policy(depths, version=0, n_buckets=4, threshold=2, major_every=2,
            shards=1, background=False):
    return select_compaction(depths, n_buckets, version, threshold,
                             major_every, shards, background)


def _fold(depths, majors, minors):
    """What the folds do to the depths: a minor turns a bucket's raw
    deltas into one run, a major empties its delta stack."""
    out = dict(depths)
    for b in minors:
        out[b] = (0, out[b][1] + 1)
    for b in majors:
        out[b] = (0, 0)
    return out


def test_stream_tail_cadence_warmup_minor_then_alternating():
    """compact_threshold=1, major_every=2, one fold after every batch: the
    warm-up batch minors, then majors and minors alternate."""
    depths: dict[int, tuple[int, int]] = {}
    kinds = []
    for v in range(1, 8):
        for b in (0, 5, 9):  # every micro-batch touches the same hot buckets
            raw, runs = depths.get(b, (0, 0))
            depths[b] = (raw + 1, runs)
        majors, minors = _policy(depths, version=v, n_buckets=32,
                                 threshold=1, major_every=2)
        assert not (majors and minors)
        assert sorted(majors or minors) == [0, 5, 9]
        kinds.append("major" if majors else "minor")
        depths = _fold(depths, majors, minors)
    assert kinds == ["minor", "major"] * 3 + ["minor"]


def test_cold_bucket_below_threshold_never_majors():
    """A bucket parked below the raw threshold is never folded, however
    many runs it has banked, while a hot bucket cycles minor/major."""
    depths = {0: (0, 0), 1: (3, 9)}
    hot_kinds = set()
    for v in range(20):
        depths[0] = (depths[0][0] + 1, depths[0][1])
        majors, minors = _policy(depths, version=v, threshold=4,
                                 major_every=2)
        assert 1 not in majors and 1 not in minors
        hot_kinds |= {k for k, bs in (("major", majors), ("minor", minors)) if bs}
        depths = _fold(depths, majors, minors)
    assert depths[1] == (3, 9)
    assert hot_kinds == {"major", "minor"}


def test_shard_cap_rotates_round_robin_with_version():
    uniform = {b: (2, 1) for b in range(4)}
    picked = []
    for v in range(4):
        majors, minors = _policy(uniform, version=v, shards=4)
        assert len(majors) == 1  # ceil(4 / 4)
        assert minors == sorted(set(range(4)) - set(majors))  # overflow minors
        picked += majors
    assert picked == [0, 1, 2, 3]
    # the background compactor's cap rotates the same way
    runs_only = {b: (0, 2) for b in range(4)}
    bg = [_policy(runs_only, version=v, shards=4, background=True)[0]
          for v in range(4, 8)]
    assert bg == [[0], [1], [2], [3]]
    # the deepest run stack goes first whatever the version
    for v in range(4):
        assert _policy({0: (2, 1), 1: (2, 3), 2: (2, 1)}, version=v,
                       shards=4)[0] == [1]


class _FakeTable(ParquetLakeTable):
    """A manifest in memory and a log of the folds asked for."""

    def __init__(self, depths, n_buckets=4, version=7):
        deltas, runs = {}, []
        for b, (raw, nruns) in depths.items():
            run_files = [f"run-{b}-{i}" for i in range(nruns)]
            deltas[str(b)] = run_files + [f"raw-{b}-{i}" for i in range(raw)]
            runs += run_files
        self.m = {"version": version, "n_buckets": n_buckets,
                  "deltas": deltas, "run_files": sorted(runs)}
        self.calls = []

    def manifest(self):
        return self.m

    def compact(self, buckets=None, max_commit_retries=0):
        self.calls.append(("major", buckets, max_commit_retries))
        return MergeStats(batch_id=None, version=self.m["version"] + 1)

    def compact_minor(self, buckets=None, max_commit_retries=0):
        self.calls.append(("minor", buckets, max_commit_retries))
        return MergeStats(batch_id=None, version=self.m["version"] + 1)


def _inline(table, **cfg):
    pipe = object.__new__(CDCIngestPipeline)  # no session needed
    pipe.table, pipe.config = table, IngestConfig(**cfg)
    pipe._maybe_compact(MergeStats(batch_id=0, version=table.m["version"]))
    return table.calls


def test_background_major_inline_minors_only_compactor_majors():
    depths = {0: (2, 0), 1: (2, 1), 2: (0, 2), 3: (2, 2)}
    # inline two-level: due buckets with major_every - 1 runs major
    assert _policy(depths) == ([1, 3], [0])
    assert _inline(_FakeTable(depths), compact_threshold=2,
                   major_every=2) == [("major", [1, 3], 0), ("minor", [0], 0)]
    # background: ingest minors every due bucket, with a conflict budget
    majors, minors = _policy(depths, background=True)
    assert (majors, minors) == ([2, 3], [0, 1, 3])
    assert _inline(_FakeTable(depths), compact_threshold=2, major_every=2,
                   background_major=True) == [("minor", [0, 1, 3], 10)]
    # ... and the compactor majors each bucket at major_every runs
    table = _FakeTable(depths)
    comp = BackgroundCompactor(table, major_every=2, max_commit_retries=20)
    assert comp.run_once() == 2
    assert table.calls == [("major", [2, 3], 20)]


def _single_level(lengths, threshold):
    """Reference single-level (always-major) selection: when any bucket
    stacks ``threshold`` deltas, fold every bucket that deep."""
    if max(lengths.values(), default=0) < threshold:
        return []
    return sorted(b for b, n in lengths.items() if n >= threshold)


def test_major_every_1_selects_what_single_level_selected():
    """With no minor folds there are no runs, so raw depth is the delta
    depth and ``major_every=1`` picks exactly the single-level set."""
    rng = random.Random(5)
    for _ in range(200):
        n_buckets = rng.choice([1, 4, 16])
        threshold = rng.randint(1, 5)
        lengths: dict[int, int] = {}
        for v in range(1, 12):
            for b in rng.sample(range(n_buckets), rng.randint(0, n_buckets)):
                lengths[b] = lengths.get(b, 0) + 1
            majors, minors = select_compaction(
                {b: (n, 0) for b, n in lengths.items()}, n_buckets, v,
                threshold, 1, 1, False,
            )
            assert minors == []
            assert majors == _single_level(lengths, threshold)
            for b in majors:
                lengths[b] = 0
