"""Span tracing from outside the engine, plus Spark's own SQL metrics.

The benchmark never edits engine code. A :class:`Tracer` replaces public
methods of the engine's classes with wrappers that record a span (name,
start, end, parent, run id) and tag every Spark job started inside the span
with the span's id, through the thread-local ``spark.job.description``
property. After the run, :func:`collect_executions` reads the SQL status
store (it works with the UI disabled) and returns one record per SQL
execution: its span, its operators with their metrics, its stages and its
summed task time. :mod:`perfbench.layers` folds those into layer metrics.
"""

from __future__ import annotations

import functools
import itertools
import re
import threading
import time
from contextlib import contextmanager

TAG = "perfbench-span:"
_DESC_KEY = "spark.job.description"


class Tracer:
    """In-memory span recorder; spans are written out by the caller."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        if parent is None:
            # the streaming engine tags its own jobs; put its tag back after
            rec["_outer_desc"] = self.sc.getLocalProperty(_DESC_KEY)
        stack.append(rec)
        self.sc.setLocalProperty(_DESC_KEY, f"{TAG}{rec['id']}")
        try:
            yield rec
        finally:
            stack.pop()
            outer = rec.pop("_outer_desc", None)
            self.sc.setLocalProperty(
                _DESC_KEY, f"{TAG}{stack[-1]['id']}" if stack else outer
            )
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a function, or a staticmethod) with a
        span-recording wrapper; :meth:`unwrap_all` restores it."""
        orig = owner.__dict__[attr]
        is_static = isinstance(orig, staticmethod)
        fn = orig.__func__ if is_static else orig

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, staticmethod(wrapper) if is_static else wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def wrap_engine(tracer: Tracer) -> None:
    """Span the public calls of every layer the benchmark attributes."""
    from xgeo_spark.sinks.parquet_lake import ParquetLakeTable
    from xgeo_spark.sources.change_feed import ChangeFeedSource
    from xgeo_spark.streaming.consumer import ChangeFeedConsumer
    from xgeo_spark.streaming.lineage import LineageLog
    from xgeo_spark.streaming.pipeline import CDCIngestPipeline

    tracer.wrap(CDCIngestPipeline, "apply_batch", "pipeline.apply_batch")
    tracer.wrap(ChangeFeedSource, "read_batch", "change_feed.read_batch")
    tracer.wrap(ChangeFeedSource, "split_good_bad", "change_feed.split_good_bad")
    for m in ("merge", "compact", "compact_minor", "read", "lookup", "scan",
              "table_changes"):
        tracer.wrap(ParquetLakeTable, m, f"lake.{m}")
    tracer.wrap(LineageLog, "append", "lineage.append")
    tracer.wrap(ChangeFeedConsumer, "propagate", "consumer.propagate")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# ---------- Spark SQL status store ----------

_UNITS = {
    "": 1.0, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
    "h": 3600.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
    "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4,
}
_NUM_RE = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def parse_metric(text: str) -> dict:
    """Spark's preformatted metric string -> ``{total, min, med, max, stage}``
    in base units (seconds, bytes, counts). ``stage`` is the stage of the
    task that held the max, when the string names one."""
    nums = [
        float(n.replace(",", "")) * _UNITS.get(u, 1.0)
        for n, u in _NUM_RE.findall(text)
    ]
    out = {"total": nums[0] if nums else 0.0}
    if len(nums) >= 4:
        out.update(min=nums[1], med=nums[2], max=nums[3])
    m = _STAGE_RE.search(text)
    if m:
        out["stage"] = int(m.group(1))
    return out


_NODE_RE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" label="(.*?)" tooltip="(.*)"\];\s*$')
_CLUSTER_RE = re.compile(r"^\s*subgraph cluster(\d+) \{")
_CLABEL_RE = re.compile(r'^\s*label="(.*)";\s*$')
_EDGE_RE = re.compile(r"^\s*(\d+)->(\d+);\s*$")
_TOTAL_SUFFIX = " total (min, med, max (stageId: taskId))"


def _label_metrics(parts: list[str]) -> dict[str, dict]:
    metrics: dict[str, dict] = {}
    i = 0
    while i < len(parts):
        p = parts[i]
        if p.endswith(_TOTAL_SUFFIX) and i + 1 < len(parts):
            metrics[p[: -len(_TOTAL_SUFFIX)]] = parse_metric(parts[i + 1])
            i += 2
            continue
        if ": " in p:
            k, v = p.split(": ", 1)
            metrics[k] = parse_metric(v)
        i += 1
    return metrics


def parse_plan_dot(dot: str) -> dict:
    """``SparkPlanGraph.makeDotFile`` output -> nodes, clusters and edges."""
    nodes: dict[int, dict] = {}
    clusters: dict[int, dict] = {}
    edges: list[tuple[int, int]] = []
    open_cluster: int | None = None
    for line in dot.splitlines():
        m = _NODE_RE.match(line)
        if m:
            parts = m.group(2).replace('\\"', '"').split("<br>")
            name = re.sub(r"</?b>", "", next((p for p in parts if "<b>" in p), "")).strip()
            nodes[int(m.group(1))] = {
                "name": name,
                "desc": m.group(3),
                "metrics": _label_metrics(parts),
                "cluster": open_cluster,
            }
            continue
        m = _CLUSTER_RE.match(line)
        if m:
            open_cluster = int(m.group(1))
            clusters[open_cluster] = {"name": "", "duration": None}
            continue
        m = _CLABEL_RE.match(line)
        if m and open_cluster is not None:
            text = m.group(1).replace("\\n", "\n")
            clusters[open_cluster]["name"] = text.split("\n", 1)[0]
            if "duration:" in text:
                clusters[open_cluster]["duration"] = parse_metric(
                    text.split("duration:", 1)[1]
                )
            continue
        if line.strip() == "}" and open_cluster is not None:
            open_cluster = None
            continue
        m = _EDGE_RE.match(line)
        if m:
            edges.append((int(m.group(1)), int(m.group(2))))
    return {"nodes": nodes, "clusters": clusters, "edges": edges}


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def collect_executions(spark) -> list[dict]:
    """One record per SQL execution: span id (from the job description
    tag), submission/completion time, parsed plan graph and summed task time
    of its stages (from the application status store)."""
    ss = spark._jsparkSession.sharedState().statusStore()
    app = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for e in _scala_iter(ss.executionsList()):
        desc = e.description() or ""
        span_id = int(desc[len(TAG):]) if desc.startswith(TAG) else None
        eid = e.executionId()
        graph = parse_plan_dot(ss.planGraph(eid).makeDotFile(ss.executionMetrics(eid)))
        stage_ms: dict[int, float] = {}
        for sid in _scala_iter(e.stages()):
            try:
                attempts = app.stageData(sid, False, None, False, None)
            except Exception:  # stage evicted from the status store
                continue
            stage_ms[int(sid)] = float(
                sum(a.executorRunTime() for a in _scala_iter(attempts))
            )
        done = e.completionTime()
        out.append(
            {
                "exec_id": int(eid),
                "span": span_id,
                "submit_ms": int(e.submissionTime()),
                "complete_ms": int(done.get().getTime()) if done.isDefined() else None,
                "graph": graph,
                "stage_task_s": {k: v / 1000.0 for k, v in stage_ms.items()},
            }
        )
    return out
