"""Benchmark entry point: one workload, one seed, one measuring window.

    python3 perfbench/run.py --workload search_refresh --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``). ``perfbench/README.md`` defines every metric. The exit
code is 0 only when every request and every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from spans import RssSampler, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "oracle_vectorsearch_example_spark"

END_TO_END = {
    "setup_s": "s",
    "primary_p50_s": "s",
    "secondary_p50_s": "s",
}

LAYERS = (
    "sources", "extract", "chunker", "embedding", "pipeline", "ivf",
    "search", "corpus", "dedup", "textstats", "packing", "phash",
)
LAYER_COMMON = {
    "busy_s": "s",
    "executor_cpu_s": "s",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "core_util": "ratio",
    "max_task_skew": "ratio",
}
# (metric, unit, span name, source): source is a span count, a Spark
# counter, or "self_s" / "jobs" / "first_job_s" of the span
LAYER_SPECIFIC = (
    ("sources.input_bytes", "bytes", "sources", "spark:input_bytes"),
    ("extract.docs", "count", "extract", "docs"),
    ("extract.null_frac", "ratio", "extract", "null_frac"),
    ("chunker.chunks_per_doc", "ratio", "chunker", "chunks_per_doc"),
    ("embedding.query_embed_s", "s", "embedding.query", "self_s"),
    ("pipeline.files_written", "count", "pipeline", "files_written"),
    ("ivf.build_s", "s", "ivf.build", "self_s"),
    ("ivf.build_jobs", "count", "ivf.build", "jobs"),
    ("ivf.build_files_written", "count", "ivf.build", "files_written"),
    ("ivf.clusters", "count", "ivf.build", "clusters"),
    ("ivf.add_s", "s", "ivf.add", "self_s"),
    ("ivf.add_files_written", "count", "ivf.add", "files_written"),
    ("ivf.data_dirs", "count", "ivf.add", "data_dirs"),
    ("ivf.compact_s", "s", "ivf.compact", "self_s"),
    ("ivf.search_driver_s", "s", "ivf.search", "first_job_s"),
    ("ivf.search_jobs", "count", "ivf.search", "jobs"),
    ("ivf.files_read", "count", "ivf.search", "files_read"),
    ("search.exact_s", "s", "search", "self_s"),
    ("corpus.call_s", "s", "corpus", "call_s"),
    ("corpus.write_s", "s", "corpus", "write_s"),
    ("dedup.candidates", "count", "dedup", "candidates"),
    ("dedup.pairs", "count", "dedup", "pairs"),
    ("dedup.verify_ratio", "ratio", "dedup", "verify_ratio"),
    ("dedup.components", "count", "dedup", "components"),
    ("textstats.kept_frac", "ratio", "textstats", "kept_frac"),
    ("phash.candidates", "count", "phash", "candidates"),
    ("phash.pairs", "count", "phash", "pairs"),
)
# figures of the untraced window, named as the workload's own metrics
WORKLOAD_FIGURES = {
    "index_build_s": "s",
    "search_p50_s": "s",
    "search_tail_s": "s",
    "search_bulk_qps": "queries/s",
    "refresh_p50_s": "s",
    "recall_at_10": "ratio",
    "curate_docs_per_s": "docs/s",
    "neardup_sigs_per_s": "sigs/s",
    "error_rate": "ratio",
    "session_start_s": "s",
    "peak_rss_mb": "MB",
    "tracing_overhead": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{l}.{m}": u for l in LAYERS for m, u in LAYER_COMMON.items()}
    units.update({m: u for m, u, _, _ in LAYER_SPECIFIC})
    units["ivf.rows_scanned_per_result"] = "ratio"
    units["ivf.rows_scanned_per_query"] = "ratio"
    units["phash.verify_ratio"] = "ratio"
    units.update(WORKLOAD_FIGURES)
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cores", type=int, default=len(os.sched_getaffinity(0)),
        help="Spark local[N] cores (default: the CPUs this process may use)",
    )
    return ap.parse_args(argv)


def start_spark(work: str, cores: int):
    """Start the package's session with every scratch file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM="4g",
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
        ),
    )
    from oracle_vectorsearch_example_spark import get_spark

    return get_spark("perfbench")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    owns) to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Window:
    """Runs a workload's request cycle in a closed loop and keeps the
    latency and item count of every request that passed."""

    def __init__(self, wl):
        self.wl = wl
        self.samples: dict[str, list[tuple[float, int]]] = {}
        self.attempted = 0
        self.failed = 0
        self._cycle = wl.cycle()

    def run_one(self, kind: str, fn) -> None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            items = fn()
        except Exception:  # noqa: BLE001 - a failed request is counted, not fatal
            self.failed += 1
            traceback.print_exc()
            return
        self.samples.setdefault(kind, []).append((time.perf_counter() - t0, items))

    def run_for(self, seconds: float) -> None:
        """Whole rounds of the cycle are issued while the window is open;
        the round in flight when it closes completes, so every run measures
        the same mix of requests."""
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            self.run_round()

    def run_round(self, once_per_kind: bool = False) -> None:
        """One round of the cycle; with ``once_per_kind`` only the first
        request of each kind runs (the traced round, so every layer's
        counts cover one call)."""
        seen = set()
        for _ in range(self.wl.ROUND):
            kind, fn = next(self._cycle)
            if not (once_per_kind and kind in seen):
                self.run_one(kind, fn)
            seen.add(kind)

    def p50(self, kind: str) -> float:
        return statistics.median(t for t, _ in self.samples[kind])

    def rate(self, kind: str) -> float:
        s = self.samples[kind]
        return sum(n for _, n in s) / sum(t for t, _ in s)


def layer_metrics(tr, cores: int) -> tuple[dict, dict]:
    """Aggregate the traced spans by layer: returns (per-layer metrics,
    per-span-name totals)."""
    self_s = tr.self_times()
    by_name: dict[str, dict] = {}
    for s in tr.spans:
        agg = by_name.setdefault(s["name"], {"self_s": 0.0, "jobs": 0, "first_job_s": 0.0, "calls": 0})
        agg["calls"] += 1
        agg["self_s"] += self_s[s["id"]]
        agg["jobs"] += s["jobs"]
        agg["first_job_s"] += s["first_job_s"] or 0.0
        for k, v in s["counts"].items():
            agg[k] = agg.get(k, 0) + v
        for k, v in s["spark"].items():
            key = f"spark:{k}"
            agg[key] = max(agg.get(key, 0), v) if k == "max_task_skew" else agg.get(key, 0) + v
    out = {}
    for layer in LAYERS:
        names = [n for n in by_name if n.split(".")[0] == layer]
        busy = sum(by_name[n]["self_s"] for n in names)
        tot = lambda k: sum(by_name[n].get(f"spark:{k}", 0) for n in names)  # noqa: E731
        out[f"{layer}.busy_s"] = busy
        out[f"{layer}.executor_cpu_s"] = tot("executor_cpu_s")
        out[f"{layer}.shuffle_bytes"] = tot("shuffle_read_bytes") + tot("shuffle_write_bytes")
        out[f"{layer}.spill_bytes"] = tot("spill_bytes")
        out[f"{layer}.core_util"] = tot("executor_run_s") / (busy * cores) if busy else 0.0
        out[f"{layer}.max_task_skew"] = max(
            [by_name[n].get("spark:max_task_skew", 0) for n in names] or [0]
        )
    for metric, _, name, src in LAYER_SPECIFIC:
        agg = by_name.get(name, {})
        v = agg.get(src, 0)
        # counts that are per-call ratios are averaged over calls
        if src in ("null_frac", "chunks_per_doc", "verify_ratio", "kept_frac", "first_job_s"):
            v = v / agg["calls"] if agg else 0
        out[metric] = v
    srch = by_name.get("ivf.search", {})
    out["ivf.rows_scanned_per_result"] = (
        srch.get("spark:input_records", 0) / srch["results"] if srch.get("results") else 0.0
    )
    sdf = by_name.get("ivf.search_df", {})
    out["ivf.rows_scanned_per_query"] = (
        sdf.get("spark:input_records", 0) / sdf["queries"] if sdf.get("queries") else 0.0
    )
    ph = by_name.get("phash", {})
    out["phash.verify_ratio"] = ph["pairs"] / ph["candidates"] if ph.get("candidates") else 0.0
    return out, by_name


def workload_figures(win: Window, wl) -> dict:
    s = win.samples
    figs = {k: 0.0 for k in WORKLOAD_FIGURES}
    if getattr(wl, "build_s", None):
        figs["index_build_s"] = statistics.median(wl.build_s)
    if "search" in s:
        figs["search_p50_s"] = win.p50("search")
        # a window holds fewer than 11 searches, so no percentile has ten
        # samples beyond it: the tail is the slowest search
        figs["search_tail_s"] = max(t for t, _ in s["search"])
    if "bulk" in s:
        figs["search_bulk_qps"] = win.rate("bulk")
    if "refresh" in s:
        figs["refresh_p50_s"] = win.p50("refresh")
    if "curate" in s:
        figs["curate_docs_per_s"] = win.rate("curate")
    if "neardup" in s:
        figs["neardup_sigs_per_s"] = win.rate("neardup")
    figs["recall_at_10"] = wl.layer.get("recall_at_10", 0.0)
    figs["error_rate"] = win.failed / max(1, win.attempted)
    return figs


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE}/ beside perfbench/ in {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS  # imports the package

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.perf_counter()
    spark = start_spark(work, args.cores)
    session_s = time.perf_counter() - t0
    log(f"session started in {session_s:.2f} s")
    try:
        return measure(args, spark, work, session_s, WORKLOADS[args.workload])
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        log(f"session stopped in {time.perf_counter() - t:.2f} s")
        shutil.rmtree(work, ignore_errors=True)


def run_checks(wl, win: Window) -> None:
    """Run the workload's output checks; each counts as one attempt."""
    for name, check in wl.checks():
        win.attempted += 1
        t = time.perf_counter()
        try:
            check()
            log(f"check {name} passed in {time.perf_counter() - t:.2f} s")
        except Exception:  # noqa: BLE001 - a failed check is counted, not fatal
            win.failed += 1
            log(f"check {name} failed")
            traceback.print_exc()


def measure(args, spark, work, session_s, cls) -> int:
    tr = Tracer(spark.sparkContext, enabled=False)
    wl = cls(spark, args.seed, os.path.join(work, "data"), tr)
    t = time.perf_counter()
    wl.setup("base", warm_up=True)
    setup_s = session_s + time.perf_counter() - t
    log(f"set-up with warm-up: {setup_s - session_s:.2f} s")
    win = Window(wl)
    with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
        win.run_for(args.seconds)
    log("window: " + ", ".join(f"{k} {[round(t, 2) for t, _ in v]}" for k, v in win.samples.items()))
    run_checks(wl, win)
    kinds = (wl.primary, wl.secondary)
    ok = win.failed == 0 and all(k in win.samples for k in kinds)
    if args.trace:
        metrics = traced(args, spark, wl, win, session_s, rss.peak_kb / 1024.0)
        ok = ok and win.failed == 0
    else:
        metrics = {
            "setup_s": setup_s,
            "primary_p50_s": win.p50(wl.primary) if ok else 0.0,
            "secondary_p50_s": win.p50(wl.secondary) if ok else 0.0,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": ok, "attempted": win.attempted, "failed": win.failed, "metrics": metrics}))
    return 0 if ok else 1


def traced(args, spark, wl, win, session_s, peak_rss_mb) -> dict:
    """One traced round of the request cycle after the untraced window:
    spans around every layer call, each layer's output staged at its
    boundary. Writes the span/counter record and returns the per-layer
    metrics."""
    untraced = {k: statistics.median(t for t, _ in v) for k, v in win.samples.items()}
    figs = workload_figures(win, wl)
    tr = Tracer(spark.sparkContext, enabled=True)
    wl.tr = tr
    with tr.span("setup"):
        wl.setup("traced", warm_up=False)
    traced_win = Window(wl)
    traced_win.run_round(once_per_kind=True)
    run_checks(wl, traced_win)
    win.attempted += traced_win.attempted
    win.failed += traced_win.failed
    kinds = [k for k in traced_win.samples]
    traced_total = sum(t for k in kinds for t, _ in traced_win.samples[k])
    untraced_total = sum(untraced[k] * len(traced_win.samples[k]) for k in kinds if k in untraced)
    figs["tracing_overhead"] = traced_total / untraced_total - 1 if untraced_total else 0.0
    figs["session_start_s"] = session_s
    figs["peak_rss_mb"] = peak_rss_mb
    figs["error_rate"] = win.failed / max(1, win.attempted)
    layers, by_name = layer_metrics(tr, args.cores)
    units = per_layer_units()
    metrics = {**layers, **figs}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": args.cores,
        "seconds": args.seconds,
        "untraced_p50_s": untraced,
        "traced_s": {k: [t for t, _ in v] for k, v in traced_win.samples.items()},
        "tracing_overhead": figs["tracing_overhead"],
        "layers": by_name,
        "spans": [{**s, "self_s": v} for s, v in zip(tr.spans, tr.self_times().values())],
        "metrics": metrics,
    }
    out = os.path.join(ROOT, ".perfbench_work", "records")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    return {k: {"value": metrics[k], "unit": units[k]} for k in units}


if __name__ == "__main__":
    sys.exit(run(parse_args(sys.argv[1:])))
