#!/usr/bin/env python3
"""perfbench: the repository's benchmark, one workload per process.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout. Builds its inputs from ``--seed``, warms
up, measures for ``--seconds``, checks the final lake against an
independent DuckDB LWW oracle outside the timed window, and prints as its
last stdout line ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics (spans around
the engine's public calls plus Spark's own SQL metrics) with ``--trace 1``.
The line before it is a report with the details (latency samples, tails,
gate results, span summary, host CPU score); it is also written under
``.perfbench/reports/``. Everything the run writes stays under
``.perfbench/``. Exit status is 0 only when every check passed.

``--smoke`` shrinks every input (for the smoke test); ``--corrupt`` alters
one row of the final lake before the gate, which must then fail.
"""

import time

T_PROC = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = [
    ("setup_s", "s"),
    ("commit_lag_p50_s", "s"),
    ("apply_events_per_s", "events/s"),
    ("write_amp", "ratio"),
    ("peak_rss_mb", "MB"),
]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss(pid: int) -> dict[str, int]:
    """Proportional RSS (PSS) bytes of ``pid`` and each descendant, keyed by
    pid and command. PSS splits pages shared between processes, so a forked
    Python worker or a JVM child between fork and exec is not counted twice."""
    out = {}
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                pss = next(int(line.split()[1]) * 1024 for line in f
                           if line.startswith("Pss:"))
            with open(f"/proc/{p}/comm") as f:
                out[f"{p}:{f.read().strip()}"] = pss
        except (OSError, IndexError, ValueError, StopIteration):
            pass
    return out


class RssSampler(threading.Thread):
    """Peak summed PSS of this process tree, sampled every ``period`` s;
    ``at_peak`` keeps the per-process split of the peak sample."""

    def __init__(self, period: float = 0.5):
        super().__init__(name="perfbench-rss", daemon=True)
        self.period = period
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.wait(self.period):
            sample = tree_rss(os.getpid())
            total = sum(sample.values())
            if total > self.peak:
                self.peak, self.at_peak = total, sample

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak


def stop_processes(spark) -> None:
    """Stop Spark, end the JVM it launched and wait for every descendant."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.time() + 20
        left = descendants(os.getpid())
        while left and time.time() < deadline:
            time.sleep(0.1)
            left = descendants(os.getpid())
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while descendants(os.getpid()) and time.time() < deadline + 10:
            time.sleep(0.1)


def host_cpu_mops(n: int = 3_000_000) -> float:
    """Single-core busy-loop score with bench.py's calibration loop,
    reported as context only; no metric is normalized by it."""
    from bench import _burn

    t = time.perf_counter()
    _burn(n)
    return round(n / (time.perf_counter() - t) / 1e6, 2)


def cpu_times() -> list[int]:
    """The host's summed CPU times (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time over the run that the hypervisor gave to
    other guests (steal): a slow run with a high share was slowed by its
    neighbours, not by the engine. Context only, like host_cpu_mops."""
    d = [b - a for a, b in zip(before, after)]
    return round(d[7] / sum(d), 4) if sum(d) else 0.0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    settings = dict(spec["workloads"][args.workload])
    if args.smoke:
        settings.update(spec["smoke"].get(args.workload, {}))
    common = spec["common"]
    cores = len(os.sched_getaffinity(0))

    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = common["driver_mem"]
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    os.environ["PYSPARK_PYTHON"] = sys.executable

    try:
        from perfbench import layers, workloads
        from perfbench.trace import Tracer, collect_executions, wrap_engine
        from xgeo_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    cpu0 = cpu_times()
    rss = RssSampler()
    rss.start()
    t = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}",
        parallelism=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temp files (and its perf-counter file, which
            # HotSpot would put in /tmp) inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t
    tracer = Tracer(spark, f"{args.workload}-{args.seed}") if args.trace else None
    if tracer:
        wrap_engine(tracer)
    ctx = workloads.Ctx(spark, settings, common, args.seed, args.seconds, run_dir,
                        tracer)
    ctx.corrupt = args.corrupt
    error = None
    out = None
    layer_metrics = None
    try:
        out = workloads.WORKLOADS[args.workload](ctx)
        if tracer:
            tracer.unwrap_all()
            t = time.perf_counter()
            execs = collect_executions(spark)
            extra = dict(out["layer_extra"])
            extra["session.start_s"] = session_start_s
            extra["session.warmup_s"] = out["warmup_s"]
            epoch_offset = time.time() - time.perf_counter()
            layer_metrics = layers.fold(tracer.spans, execs, out["window"], cores,
                                        extra, epoch_offset, ctx.batches)
            layer_metrics["trace.fold_s"] = time.perf_counter() - t
            errs = layers.reconcile(tracer.spans, ctx.batches, epoch_offset)
            ctx.check("trace_reconcile", {
                "tolerance": layers.RECONCILE_TOL, "err": [round(e, 4) for e in errs],
                "match": all(abs(e) <= layers.RECONCILE_TOL for e in errs)})
            out["details"]["spans"] = layers.span_summary(tracer.spans, out["window"])
            in_window = {s["id"] for s in tracer.spans
                         if out["window"][0] <= s["start"] <= out["window"][1]}
            window_execs = [e for e in execs if e["span"] in in_window]
            out["details"]["top_operators"] = layers.top_operators(window_execs)
            out["details"]["query_top_operators"] = layers.query_operators(
                tracer.spans, execs)
    except Exception as e:  # report the failure as a failed run, not a crash
        error = f"{type(e).__name__}: {e}"
        traceback.print_exc()
    finally:
        stop_processes(spark)
        peak = rss.stop()

    correct = error is None and all(c["match"] for c in ctx.checks.values())
    failed = ctx.failed + (1 if error else 0)
    e2e = dict(out["e2e"]) if out else {}
    if out:
        e2e["setup_s"] = (ctx.first_op_wall or time.time()) - T_PROC
        e2e["peak_rss_mb"] = peak / 1e6
    if args.trace:
        units, values = dict(layers.PER_LAYER), layer_metrics or {}
    else:
        units, values = dict(E2E), e2e
    metrics = {k: {"value": float(values[k]), "unit": u}
               for k, u in units.items() if k in values}
    report = {
        "perfbench_report": {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "smoke": args.smoke, "corrupt": args.corrupt,
            "cores": cores, "settings": settings, "error": error,
            "checks": ctx.checks, "session_start_s": session_start_s,
            "warmup_s": out["warmup_s"] if out else None,
            "details": out["details"] if out else None,
            "host_cpu_mops": host_cpu_mops(),
            "host_steal_share": steal_share(cpu0, cpu_times()),
            "peak_rss_mb_by_process": {k: round(v / 1e6, 1) for k, v in rss.at_peak.items()},
            "metrics": metrics,
            "e2e": e2e,
        }
    }
    reports = os.path.join(work, "reports")
    os.makedirs(reports, exist_ok=True)
    stem = os.path.join(reports, f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    if tracer:
        with open(stem + ".spans.json", "w") as f:
            json.dump(tracer.spans, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": max(int(ctx.attempted), 1),
        "failed": int(failed),
        "metrics": metrics,
    }))
    return 0 if correct and failed == 0 and len(metrics) == len(units) else 1


if __name__ == "__main__":
    sys.exit(main())
