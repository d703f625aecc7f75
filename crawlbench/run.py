"""Crawl benchmark: one workload, one seed, one JSON result line.

    python3 crawlbench/run.py --workload drain --seed 1 --seconds 4 --trace 0

Run from the root of a checkout of the repository. ``--trace 0`` prints
every end-to-end metric; ``--trace 1`` is the separate traced run that
prints every per-layer metric (see crawlbench/README.md). Scratch data
goes under ``.bench_work/`` in the checkout; span dumps stay in
``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import urllib.request
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from crawlbench.procmon import JvmHeap, PeakMemory, jvm_pid  # noqa: E402
from crawlbench.trace import Tracer  # noqa: E402

WORKLOADS = ("drain", "watch")


def traced_entry_points() -> list[tuple[object, str, str]]:
    """(owner, attribute, span name): the public entry points each layer
    is measured at. format_pkg and enrich build lazy plans, so their
    execution lands in the tables.merge_* span that forces them."""
    from npm_search_spark import frontier
    from npm_search_spark.seen import SeenSet
    from npm_search_spark.state import StateStore
    from npm_search_spark.streaming.watch import Watch
    from npm_search_spark.tables.snaptable import SnapTable

    return [
        (frontier, "politeness_schedule", "frontier.politeness_schedule"),
        (frontier, "filter_new_urls", "frontier.filter_new_urls"),
        (frontier.Crawl, "run_generation", "frontier.run_generation"),
        (frontier, "format_packages_df", "format_pkg.format_packages_df"),
        (frontier, "enrich_packages", "enrich.enrich_packages"),
        (SeenSet, "filter_unseen", "seen.filter_unseen"),
        (SeenSet, "add", "seen.add"),
        (SeenSet, "flush", "seen.flush"),
        *[(SnapTable, op, f"tables.{op}") for op in
          ("merge_apply", "merge_upsert", "merge_delete", "append", "overwrite", "read")],
        (StateStore, "save", "state.save"),
        (Watch, "process_batch", "watch.process_batch"),
    ]


LAYER_SPANS = {
    "frontier": ["frontier.politeness_schedule", "frontier.filter_new_urls", "frontier.run_generation"],
    "seen": ["seen.filter_unseen", "seen.add", "seen.flush"],
    "tables": ["tables.merge_apply", "tables.merge_upsert", "tables.merge_delete",
               "tables.append", "tables.overwrite", "tables.read"],
    "state": ["state.save"],
    "watch": ["watch.process_batch"],
}

# per-layer counts and ratios the workloads fill in; a workload that does
# not exercise one reports 0
EXTRA_LAYER = {
    "frontier.retry_ratio": "ratio",
    "frontier.idle_generations": "count",
    "seen.dup_ratio": "ratio",
    "watch.batch_s": "s",
    "watch.queue_wait_s": "s",
    "watch.generations_per_batch": "count",
    "watch.ledger_exhausted_batches": "count",
    "generator.late_s": "s",
    "lag.samples": "count",
    "lag.batches": "count",
}


class Run:
    """What one benchmark process measures: set-up times, operations (a
    drain pass or a watch micro-batch) and, in a traced run, spans."""

    T0 = time.perf_counter()

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool, mem: PeakMemory):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.mem = mem
        self.tracer = Tracer(spark.sparkContext) if trace else None
        self.setup_s: list[float] = []
        self.ops: list[dict] = []
        self.layer_extra: dict[str, tuple[float, str]] = {}

    def mark(self, what: str) -> None:
        """Note on stderr how far into the process a phase ends."""
        print(f"crawlbench: {time.perf_counter() - self.T0:7.2f} s  {what}", file=sys.stderr)

    @contextmanager
    def op(self, trace_id: str, root_span: str | None = None):
        """Time one operation. In a traced run, operations alternate
        between traced and untraced, the first traced, so the tracing
        overhead is traced minus untraced time in one process with one
        configuration."""
        tr = self.tracer if len(self.ops) % 2 == 0 else None
        rec = {"trace_id": trace_id, "ok": False, "t0": time.time(), "traced": tr is not None}
        if tr is not None:
            tr.enabled, tr.trace_id = True, trace_id
        self.ops.append(rec)
        t0 = time.perf_counter()
        try:
            with tr.span(root_span) if root_span and tr is not None else nullcontext():
                yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["t1"] = time.time()
            if tr is not None:
                tr.enabled = False
            print(f"crawlbench: {trace_id} {rec['wall_s']:.3f} s", file=sys.stderr)


def executor_seconds(spark, group_trace: dict[str, str]) -> dict[str, tuple[float, float]]:
    """(executor run s, executor CPU s) per trace id, read once from the
    driver's REST API after the last operation (traced runs enable the UI
    for this), so no REST read sits inside a timed operation."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(f"{base}/{path}", timeout=30) as r:
            return json.load(r)

    return stage_seconds(get("jobs"), get("stages?status=complete"), group_trace)


def stage_seconds(jobs: list[dict], stages: list[dict], group_trace: dict[str, str]):
    """Sum the completed stages' executor run and CPU time per trace id,
    through the job group of the job that ran each stage. A stage that
    later jobs reuse (and skip) belongs to the first job that lists it."""
    owner: dict[int, str | None] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        trace_id = group_trace.get(job.get("jobGroup"))
        for sid in job["stageIds"]:
            owner.setdefault(sid, trace_id)
    out: dict[str, tuple[float, float]] = {}
    for st in stages:
        trace_id = owner.get(st["stageId"])
        if trace_id is not None:
            run_s, cpu_s = out.get(trace_id, (0.0, 0.0))
            out[trace_id] = (run_s + st["executorRunTime"] / 1e3, cpu_s + st["executorCpuTime"] / 1e9)
    return out


def table_writes(work: str, windows: list[tuple[float, float]]) -> tuple[int, int]:
    """Snapshot commits and data bytes written inside ``windows``, read
    from the snapshot files of every table under ``work``."""
    def inside(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    commits = nbytes = 0
    for d, _, files in os.walk(work):
        if os.path.basename(d) == "manifests":
            for f in files:
                with open(os.path.join(d, f)) as fh:
                    if inside(json.load(fh)["timestamp_ms"] / 1e3):
                        commits += 1
        elif f"{os.sep}data{os.sep}" in d + os.sep:
            for f in files:
                p = os.path.join(d, f)
                if f.endswith(".parquet") and inside(os.path.getmtime(p)):
                    nbytes += os.path.getsize(p)
    return commits, nbytes


def overhead(ops: list[dict]) -> float:
    """Median traced minus median untraced operation wall time; 0 when a
    run has no untraced operation to compare with (a one-batch watch run)."""
    traced = [o["wall_s"] for o in ops if o["traced"]]
    plain = [o["wall_s"] for o in ops if not o["traced"]]
    if not traced or not plain:
        return 0.0
    return statistics.median(traced) - statistics.median(plain)


def per_layer(run: Run) -> dict[str, tuple[float, str]]:
    tr = run.tracer
    tr.count_jobs()
    done = [o for o in run.ops if o["ok"] and o["traced"]]
    k = max(len(done), 1)
    totals = tr.layer_totals()
    out: dict[str, tuple[float, str]] = {}
    for layer, names in LAYER_SPANS.items():
        calls = jobs = 0
        for name in names:
            t = totals.get(name, {"self_s": 0.0, "calls": 0, "jobs": 0})
            out[f"{layer}.{name.split('.', 1)[1]}_s"] = (t["self_s"] / k, "s")
            calls += t["calls"]
            jobs += t["jobs"]
        out[f"{layer}.calls"] = (calls / k, "count")
        out[f"{layer}.spark_jobs"] = (jobs / k, "count")
    for name in ("format_pkg.format_packages_df", "enrich.enrich_packages"):
        out[f"{name.split('.')[0]}.calls"] = (totals.get(name, {"calls": 0})["calls"] / k, "count")
    all_jobs = sum(s.jobs for s in tr.spans)
    gens = sum(o.get("generations", 0) for o in done)
    out["spark.jobs_per_generation"] = (all_jobs / max(gens, 1), "count")
    executor = executor_seconds(run.spark, {s.group: s.trace_id for s in tr.spans})
    for i, name in enumerate(("spark.executor_run_s", "spark.executor_cpu_s")):
        out[name] = (sum(executor.get(o["trace_id"], (0.0, 0.0))[i] for o in done) / k, "s")
    commits, nbytes = table_writes(run.work, [(o["t0"], o["t1"]) for o in done])
    out["tables.commits"] = (commits / k, "count")
    out["tables.bytes_written"] = (nbytes / k, "B")
    out["trace.overhead_s"] = (overhead(run.ops), "s")
    out["trace.bookkeeping_s"] = (tr.bookkeeping_s / max(sum(o["traced"] for o in run.ops), 1), "s")
    out["trace.ops"] = (float(len(done)), "count")
    for name, unit in EXTRA_LAYER.items():
        out[name] = run.layer_extra.get(name, (0.0, unit))
    return out


def summary(ops: list[dict]) -> dict:
    """The verdict fields of the result line: an operation whose output
    failed its correctness check (or that raised) counts as failed."""
    failed = sum(not o["ok"] for o in ops)
    return {"correct": bool(ops) and failed == 0, "attempted": len(ops), "failed": failed}


def _env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM (spark-submit's launcher too) would otherwise keep a
    # performance-data file under /tmp, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o)


def _session(work: str, cores: int, trace: bool):
    from npm_search_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the program's own driver heap setting stays; this keeps the JVM's
        # scratch files inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        })
    spark = get_spark("crawlbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4,
                    help="local[N] cores; 4 is the gated setting, 1 the single-threaded reference")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "npm_search_spark")):
        print(f"crawlbench: no npm_search_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)

    from crawlbench import drain, watch

    module = {"drain": drain, "watch": watch}[args.workload]
    t_start = time.perf_counter()
    spark = _session(work, args.cores, bool(args.trace))
    session_s = time.perf_counter() - t_start
    mem = PeakMemory(jvm_pid(os.getpid()), JvmHeap(spark.sparkContext._jvm))
    mem.start()
    run = Run(spark, work, args.seed, args.seconds, bool(args.trace), mem)
    run.mark("spark started")
    try:
        if run.tracer is not None:
            for owner, attr, name in traced_entry_points():
                run.tracer.wrap(owner, attr, name)
        e2e = module.run(run)
        layers = per_layer(run) if run.tracer is not None else {}
        if run.tracer is not None:
            tdir = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(tdir, exist_ok=True)
            run.tracer.dump(os.path.join(tdir, f"{args.workload}-seed{args.seed}.json"))
            run.tracer.unwrap_all()
    finally:
        mem.stop()
        run.mark("measured")
        _stop(spark)
        run.mark("spark stopped")
    if mem.error is not None:
        raise RuntimeError(f"memory sampling failed: {mem.error!r}")
    print(f"crawlbench: peak memory {mem.peak_bytes / 2**20:.1f} MB "
          f"({', '.join(f'{k} {v / 2**20:.0f}' for k, v in mem.peak_parts.items())}); "
          f"plain PSS peak {mem.peak_pss_bytes / 2**20:.1f} MB", file=sys.stderr)
    verdict = summary(run.ops)
    if args.trace:
        layers["spark.session_start_s"] = (session_s, "s")
        layers["memory.pss_peak_mb"] = (mem.peak_pss_bytes / 2**20, "MB")
        for part, name in (("jvm off-heap", "jvm_offheap"), ("workers", "workers"), ("live heap", "live_heap")):
            layers[f"memory.{name}_mb"] = (mem.peak_parts[part] / 2**20, "MB")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in sorted(layers.items())}
    else:
        e2e["setup_s"] = (statistics.median(run.setup_s), "s")
        e2e["peak_rss_mb"] = (mem.peak_bytes / 2**20, "MB")
        e2e["ops_ok_ratio"] = (1 - verdict["failed"] / max(verdict["attempted"], 1), "ratio")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in sorted(e2e.items())}
    shutil.rmtree(work, ignore_errors=True)
    print(f"crawlbench: setup {[round(x, 3) for x in run.setup_s]}", file=sys.stderr)
    print(json.dumps({**verdict, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        sys.exit(1)
