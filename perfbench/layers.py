"""Fold spans and Spark SQL executions into the per-layer metrics.

Every name in :data:`PER_LAYER` is reported on every workload; a layer a
workload does not exercise reads 0. Ingest-side totals come from the SQL
executions under the measured ``apply_batch`` spans and are divided by
their number ("per batch"); read-side values are medians per operation. Spark fuses operators into
whole-stage-codegen stages, and the LWW aggregate over a struct is not
codegen'd at all, so the dedup layer's times are stage task times around
the LWW shuffle (map stage: scan, decode, bucket and shuffle write; reduce
stage: fetch, sort, LWW reduce, the Python crossing and the file write).
"""

from __future__ import annotations

import statistics

from perfbench.trace import self_times
from perfbench.workloads import QUERY_SET

PER_LAYER = [
    ("text.python_start_s", "s"), ("text.python_run_s", "s"),
    ("text.bytes_to_python", "B"),
    ("pipeline.apply_s", "s"), ("pipeline.apply_self_s", "s"),
    ("pipeline.sql_execs_per_batch", "count"), ("pipeline.batches", "count"),
    ("lake.compact_minor_s", "s"), ("lake.compact_major_s", "s"),
    ("lake.minors", "count"), ("lake.majors", "count"),
    ("lake.bytes_rewritten", "B"),
    ("lake.delta_depth_max", "count"), ("lake.live_files", "count"),
    ("lake.manifest_bytes", "B"), ("lake.lookup_files_read", "count"),
    ("lake.rows_examined_per_row", "ratio"),
    ("lake.scan_files_pruned_frac", "ratio"),
    ("dedup.rows_in", "count"), ("dedup.rows_out", "count"),
    ("dedup.survival_ratio", "ratio"), ("dedup.map_agg_s", "s"),
    ("dedup.reduce_agg_s", "s"), ("dedup.sort_s", "s"),
    ("dedup.spill_bytes", "B"),
    ("shuffle.bytes", "B"), ("shuffle.records", "count"),
    ("shuffle.partition_skew", "ratio"),
    ("change_feed.scan_s", "s"), ("change_feed.files_read", "count"),
    ("change_feed.bytes_read", "B"), ("change_feed.rows_in", "count"),
    ("change_feed.rows_quarantined", "count"),
    ("lake.merge_s", "s"), ("lake.write_files", "count"),
    ("lake.write_bytes", "B"), ("lake.task_commit_s", "s"),
    ("lake.job_commit_s", "s"), ("lineage.append_s", "s"),
    ("lake.table_changes_s", "s"), ("lake.table_changes_files_read", "count"),
    ("consumer.propagate_s", "s"), ("consumer.rows_changed", "count"),
    ("lake.lookup_s", "s"), ("lake.scan_s", "s"),
    ("stream.trigger_s", "s"), ("stream.add_batch_s", "s"),
    ("stream.latest_offset_s", "s"), ("stream.backlog_files_max", "count"),
    ("stream.generator_late_s", "s"),
    ("spark.core_util", "ratio"), ("spark.task_s", "s"),
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("trace.reconcile_err_max", "ratio"), ("trace.spans", "count"),
    ("trace.fold_s", "s"),
] + [(f"query.{name}_s", "s") for name in QUERY_SET]

# Largest share of a measured batch's wall, timed apart from the spans, that
# the layer spans may leave uncovered (or overrun) before the run fails.
RECONCILE_TOL = 0.15

_WRITE = "Execute InsertIntoHadoopFsRelationCommand"
_COMPACT = ("lake.compact", "lake.compact_minor")


def _median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def _m(node: dict, name: str, field: str = "total") -> float:
    return float(node["metrics"].get(name, {}).get(field, 0.0))


class _Index:
    """Spans by id, their children, and the SQL executions under each span
    (started by it or by any span below it)."""

    def __init__(self, spans: list[dict], execs: list[dict]):
        self.spans = {s["id"]: s for s in spans}
        self.kids: dict[int, list[int]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.kids.setdefault(s["parent"], []).append(s["id"])
        self.by_root: dict[int, list[dict]] = {}
        for e in execs:
            for sid in self.chain(e["span"]):
                self.by_root.setdefault(sid, []).append(e)

    def chain(self, sid):
        while sid is not None and sid in self.spans:
            yield sid
            sid = self.spans[sid]["parent"]

    def under(self, sid: int) -> list[dict]:
        return self.by_root.get(sid, [])

    def descendants(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            for k in self.kids.get(todo.pop(), []):
                out.append(self.spans[k])
                todo.append(k)
        return out


def _nodes(e: dict, name_prefix: str):
    return [n for n in e["graph"]["nodes"].values() if n["name"].startswith(name_prefix)]


def _is_feed_scan(node: dict) -> bool:
    """Change-feed files carry ``lsn``; lake files carry ``_lsn``."""
    return "ReadSchema: struct<lsn:" in node["desc"]


def _lww_execs(execs):
    return [
        e for e in execs
        if any("max_by" in n["desc"] for n in e["graph"]["nodes"].values()
               if "Aggregate" in n["name"])
    ]


def _rows_below(e: dict, node_id: int) -> float:
    """Output rows of the nearest descendant operator that counts rows."""
    children: dict[int, list[int]] = {}
    for child, parent in e["graph"]["edges"]:
        children.setdefault(parent, []).append(child)
    todo = list(children.get(node_id, []))
    total = 0.0
    while todo:
        nid = todo.pop(0)
        n = e["graph"]["nodes"].get(nid)
        if n is None:
            continue
        if "records read" in n["metrics"]:
            total += _m(n, "records read")
        elif "number of output rows" in n["metrics"]:
            total += _m(n, "number of output rows")
        else:
            todo.extend(children.get(nid, []))
    return total


def _dedup(execs: list[dict]) -> dict:
    out = dict.fromkeys(
        ["rows_in", "rows_out", "map_s", "reduce_s", "sort_s", "spill", "sh_bytes",
         "sh_records"], 0.0)
    skews = []
    for e in _lww_execs(execs):
        nodes = e["graph"]["nodes"]
        for nid, n in nodes.items():
            if "Aggregate" not in n["name"] or "max_by" not in n["desc"]:
                continue
            if "partial_max_by" in n["desc"]:
                out["rows_in"] += _rows_below(e, nid)
            else:
                out["rows_out"] += _m(n, "number of output rows")
            out["spill"] += _m(n, "spill size")
        for n in _nodes(e, "Sort"):
            out["sort_s"] += _m(n, "sort time")
            out["spill"] += _m(n, "spill size")
        for n in _nodes(e, "Exchange"):
            out["sh_bytes"] += _m(n, "shuffle bytes written")
            out["sh_records"] += _m(n, "shuffle records written")
            wr = n["metrics"].get("shuffle bytes written", {})
            rd = n["metrics"].get("local bytes read", {})
            if "stage" in wr:
                out["map_s"] += e["stage_task_s"].get(wr["stage"], 0.0)
            if "stage" in rd:
                out["reduce_s"] += e["stage_task_s"].get(rd["stage"], 0.0)
            if rd.get("med"):
                skews.append(rd["max"] / rd["med"])
    out["skew"] = _median(skews)
    return out


def reconcile(spans: list[dict], batches: list[dict], epoch_offset: float) -> list[float]:
    """Per measured batch, ``(wall - covered) / wall``: ``wall`` is timed
    apart from the spans (backfill: the benchmark's own timer around
    ``run_batch_replay``; stream_tail: Spark's ``addBatch`` duration) and
    ``covered`` is the summed self time of the layer spans of the batch,
    i.e. the walls of the engine spans at its top (the roots, or the
    children of the benchmark's ``op.apply``) that start in the batch's
    epoch interval ``[lo, hi]``."""
    by_id = {s["id"]: s for s in spans}
    tops = [s for s in spans if not s["name"].startswith("op.") and (
        s["parent"] is None or by_id[s["parent"]]["name"] == "op.apply")]
    out = []
    for b in batches:
        covered = sum(s["end"] - s["start"] for s in tops
                      if b["lo"] <= s["start"] + epoch_offset <= b["hi"])
        out.append((b["wall"] - covered) / b["wall"])
    return out


def fold(
    spans: list[dict],
    execs: list[dict],
    window: tuple[float, float],
    cores: int,
    extra: dict,
    epoch_offset: float,
    batches: list[dict],
) -> dict[str, float]:
    """Per-layer metrics over the spans that start in the measured window
    ``(t0, t1)`` (perf_counter seconds). ``extra`` carries what only the
    workload knows (session times, lake state, stream progress and backlog);
    missing entries read 0. ``epoch_offset`` maps perf_counter to epoch
    seconds, the clock of Spark's execution timestamps; ``batches`` are the
    measured batches for :func:`reconcile`."""
    t0, t1 = window
    in_win = [s for s in spans if t0 <= s["start"] <= t1]
    ids = {s["id"] for s in in_win}
    idx = _Index(spans, execs)
    win_execs = [e for e in execs if e["span"] in ids]
    out: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}
    out.update({k: float(v) for k, v in extra.items() if k in out})

    def of(name):
        return [s for s in in_win if s["name"] == name]

    applies = of("pipeline.apply_batch")
    nb = len(applies)
    per_batch = (lambda x: x / nb) if nb else (lambda x: 0.0)
    out["pipeline.batches"] = float(nb)
    if applies:
        out["pipeline.apply_s"] = _median(s["end"] - s["start"] for s in applies)
        self_vals, n_execs = [], []
        for a in applies:
            desc = idx.descendants(a["id"])
            io = [d for d in desc
                  if d["parent"] == a["id"] and d["name"].startswith(("lake.", "lineage."))]
            self_vals.append(self_times([a] + io)[a["id"]])
            folds = {d["id"] for d in desc if d["name"] in _COMPACT}
            n_execs.append(sum(
                1 for e in idx.under(a["id"]) if not folds & set(idx.chain(e["span"]))
            ))
        out["pipeline.apply_self_s"] = _median(self_vals)
        out["pipeline.sql_execs_per_batch"] = _median(n_execs)
    out["trace.reconcile_err_max"] = max(
        (abs(e) for e in reconcile(spans, batches, epoch_offset)), default=0.0)

    ingest = [e for a in applies for e in idx.under(a["id"])]
    for e in ingest:
        for n in _nodes(e, "ArrowEvalPython"):
            out["text.python_start_s"] += _m(n, "time to start Python workers")
            out["text.python_run_s"] += _m(n, "time to run Python workers")
            out["text.bytes_to_python"] += _m(n, "data sent to Python workers")
        kept = sum(_m(n, "number of output rows") for n in _nodes(e, "Filter")
                   if "isnotnull(lsn" in n["desc"])
        if kept:
            scanned = sum(_m(n, "number of output rows") for n in _nodes(e, "Scan")
                          if _is_feed_scan(n))
            out["change_feed.rows_quarantined"] += max(scanned - kept, 0.0)
    # The feed's file scan sits in the apply's own execution on the bounded
    # path. On the streaming path it sits in the micro-batch execution Spark
    # itself runs (untagged), which keeps the planning-time metrics (files,
    # bytes); its task-time metrics are lost, because the tasks run in the
    # apply's jobs, where the batch is a "Scan ExistingRDD". So scan_s reads
    # 0 there, and rows_in comes from the merge's own read of the batch.
    lo_ms, hi_ms = (t0 + epoch_offset) * 1000.0, (t1 + epoch_offset) * 1000.0
    for e in execs:
        if not lo_ms <= e["submit_ms"] <= hi_ms:
            continue
        for n in _nodes(e, "Scan parquet"):
            if _is_feed_scan(n):
                out["change_feed.scan_s"] += _m(n, "scan time")
                out["change_feed.files_read"] += _m(n, "number of files read")
                out["change_feed.bytes_read"] += _m(n, "size of files read")
    merges = [s for s in of("lake.merge")
              if any(idx.spans[p]["name"] == "pipeline.apply_batch"
                     for p in idx.chain(s["parent"]))]
    out["lake.merge_s"] = _median(s["end"] - s["start"] for s in merges)
    for s in merges:
        for e in idx.under(s["id"]):
            out["change_feed.rows_in"] += sum(
                _m(n, "number of output rows") for n in _nodes(e, "Scan")
                if _is_feed_scan(n) or n["desc"].startswith("Scan ExistingRDD[lsn#"))
            for n in _nodes(e, _WRITE):
                out["lake.write_files"] += _m(n, "number of written files")
                out["lake.write_bytes"] += _m(n, "written output")
                out["lake.task_commit_s"] += _m(n, "task commit time")
                out["lake.job_commit_s"] += _m(n, "job commit time")
    out["lineage.append_s"] = _median(s["end"] - s["start"] for s in of("lineage.append"))

    minors, majors = of("lake.compact_minor"), of("lake.compact")
    out["lake.minors"], out["lake.majors"] = float(len(minors)), float(len(majors))
    out["lake.compact_minor_s"] = _median(s["end"] - s["start"] for s in minors)
    out["lake.compact_major_s"] = _median(s["end"] - s["start"] for s in majors)
    for s in minors + majors:
        for e in idx.under(s["id"]):
            for n in _nodes(e, _WRITE):
                out["lake.bytes_rewritten"] += _m(n, "written output")

    d = _dedup(ingest)
    out["dedup.rows_in"], out["dedup.rows_out"] = d["rows_in"], d["rows_out"]
    out["dedup.survival_ratio"] = d["rows_out"] / d["rows_in"] if d["rows_in"] else 0.0
    out["dedup.map_agg_s"], out["dedup.reduce_agg_s"] = d["map_s"], d["reduce_s"]
    out["dedup.sort_s"], out["dedup.spill_bytes"] = d["sort_s"], d["spill"]
    out["shuffle.bytes"], out["shuffle.records"] = d["sh_bytes"], d["sh_records"]
    out["shuffle.partition_skew"] = d["skew"]

    for key in ("text.python_start_s", "text.python_run_s", "text.bytes_to_python",
                "change_feed.scan_s", "change_feed.files_read",
                "change_feed.bytes_read", "change_feed.rows_in",
                "change_feed.rows_quarantined", "lake.write_files",
                "lake.write_bytes", "lake.task_commit_s", "lake.job_commit_s",
                "lake.bytes_rewritten", "dedup.rows_in", "dedup.rows_out",
                "dedup.map_agg_s", "dedup.reduce_agg_s", "dedup.sort_s",
                "dedup.spill_bytes", "shuffle.bytes", "shuffle.records"):
        out[key] = per_batch(out[key])

    # the traced run's reads come after the measured window, like the
    # change-feed propagate and the query pass below
    def anywhere(name):
        return [s for s in spans if s["name"] == name]

    lookups = anywhere("op.lookup")
    out["lake.lookup_s"] = _median(s["end"] - s["start"] for s in lookups)
    files, examined = [], []
    for s in lookups:
        scans = [n for e in idx.under(s["id"]) for n in _nodes(e, "Scan")]
        files.append(sum(_m(n, "number of files read") for n in scans))
        if s.get("rows"):
            examined.append(sum(_m(n, "number of output rows") for n in scans) / s["rows"])
    out["lake.lookup_files_read"] = _median(files)
    out["lake.rows_examined_per_row"] = _median(examined)
    scans_ = anywhere("op.scan")
    out["lake.scan_s"] = _median(s["end"] - s["start"] for s in scans_)
    pruned = []
    for s in scans_:
        read = sum(_m(n, "number of files read")
                   for e in idx.under(s["id"]) for n in _nodes(e, "Scan"))
        if s.get("live_files"):
            pruned.append(1.0 - read / s["live_files"])
    out["lake.scan_files_pruned_frac"] = _median(pruned)

    # the change-feed propagate and the query pass run once per run
    props = anywhere("consumer.propagate")
    out["consumer.propagate_s"] = _median(s["end"] - s["start"] for s in props)
    out["lake.table_changes_s"] = _median(
        s["end"] - s["start"] for s in anywhere("lake.table_changes"))
    changes_files, changed_rows = [], []
    for s in props:
        ex = idx.under(s["id"])
        changes_files.append(sum(_m(n, "number of files read")
                                 for e in ex for n in _nodes(e, "Scan")))
        changed_rows.append(sum(_m(n, "number of output rows")
                                for e in ex for n in _nodes(e, _WRITE)))
    out["lake.table_changes_files_read"] = _median(changes_files)
    out["consumer.rows_changed"] = _median(changed_rows)

    task_s = sum(sum(e["stage_task_s"].values()) for e in win_execs)
    wall = t1 - t0
    out["spark.core_util"] = task_s / (wall * cores) if wall > 0 else 0.0
    out["spark.task_s"] = per_batch(sum(sum(e["stage_task_s"].values()) for e in ingest))
    for name in QUERY_SET:
        out[f"query.{name}_s"] = _median(
            s["end"] - s["start"] for s in anywhere(f"op.query.{name}"))
    out["trace.spans"] = float(len(in_win))
    return out


def query_operators(spans: list[dict], execs: list[dict]) -> dict:
    """The top-3 stages by task time of each timed query."""
    return {
        s["name"][len("op.query."):]: top_operators([e for e in execs if e["span"] == s["id"]])
        for s in spans if s["name"].startswith("op.query.")
    }


def span_summary(spans: list[dict], window: tuple[float, float]) -> dict:
    """Median duration and self time per span name in the window."""
    t0, t1 = window
    selfs = self_times(spans)
    by: dict[str, list[dict]] = {}
    for s in spans:
        if s["start"] >= t0 and s["end"] <= t1:
            by.setdefault(s["name"], []).append(s)
    return {
        name: {
            "n": len(ss),
            "p50_s": round(_median(s["end"] - s["start"] for s in ss), 6),
            "self_p50_s": round(_median(selfs[s["id"]] for s in ss), 6),
        }
        for name, ss in sorted(by.items())
    }


def top_operators(execs: list[dict], k: int = 3) -> list[dict]:
    """Stages with the most task time, named by the operators they run."""
    rows = []
    for e in execs:
        for stage, secs in e["stage_task_s"].items():
            ops = sorted({
                n["name"] for n in e["graph"]["nodes"].values()
                if any(v.get("stage") == stage for v in n["metrics"].values())
            })
            rows.append({"exec": e["exec_id"], "stage": stage,
                         "task_s": round(secs, 4), "operators": ops})
    return sorted(rows, key=lambda r: -r["task_s"])[:k]
