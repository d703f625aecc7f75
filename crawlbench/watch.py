"""``watch`` workload: an open loop through ``Watch.run_continuous``.

The synthetic universe is generated and cached first. Setup (timed as
``setup_s``, repeated SETUPS times) then seeds an empty crawl over it and
finalizes it, so the crawl is in the watch stage with empty tables (a
bootstrap of even a few hundred documents takes over a minute on four
cores, too long to repeat in every run). The crawl and the watcher are
configured as the production caller (jobs/watch_job.py) configures them:
default host budgets (so the file-list and changelog hops run), one file
per trigger, up to six generations per micro-batch, budget multiplier 600,
terminal-row GC.

Then a generator process (feed.py) lands change files on a fixed schedule
that does not depend on the engine: one file of PER_FILE changes every
PERIOD_S while ``--seconds`` last, at least one. One operation is one
micro-batch (``process_batch``). Lag is measured per change, from its
creation stamp to the commit of the state seq watermark that covers it.
A micro-batch takes close to a minute on 4 vCPUs, so at the gated
``--seconds`` a run is one file and one micro-batch: all its changes
share one commit, and the run reports their median lag only.

Overrides of the production settings, so that real-time waits stay out
of the engine's numbers: the backoff scale, a short poll interval, and a
trigger budget of an hour (the per-host ledger never binds at the
offered rate). Synthetic transient fetch errors are off: the synthetic
registry still serves a deleted document, so a retried upsert that lands
after a later delete of the same id would re-add it.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

from . import checks, inputs

N_UNIVERSE = 200
N_WINDOW = 150  # universe documents the feed touches, placed by the seed
POLL_S = 2.0
# offered load: 50 changes per file, the file size of the sizing run this
# workload was specified from (a 500-change, 10-file backlog);
# one file per PERIOD_S, longer than a micro-batch takes on 4 vCPUs, so
# the backlog does not grow (watch.queue_wait_s shows it)
PER_FILE = 50
PERIOD_S = 90.0
# processing-time triggers fire at multiples of POLL_S since the epoch;
# every file is due FILE_OFFSET_S after one, so an idle engine picks it up
# at the next trigger. LEAD_S covers the generator process's start-up.
FILE_OFFSET_S = 0.5
LEAD_S = 1.0
TRIGGER_BUDGET_S = 3600.0
BACKOFF_SCALE = 0.02
BUDGET_MULTIPLIER = 600
SETUPS = 3
CATCH_UP_TIMEOUT_S = 120.0
START_TIMEOUT_S = 60.0


def universe(spark) -> dict:
    """The synthetic universe the crawl fetches from, cached (input
    generation, not timed as set-up)."""
    from npm_search_spark.sources import synthetic

    uni = {k: v.cache() for k, v in synthetic.universe(spark, N_UNIVERSE, partitions=4).items()}
    for df in uni.values():
        df.count()
    return uni


def _setup(spark, root: str, uni: dict, total_downloads: int):
    from npm_search_spark.frontier import Crawl
    from npm_search_spark.streaming.watch import Watch

    shutil.rmtree(root, ignore_errors=True)
    crawl = Crawl(
        spark, os.path.join(root, "crawl"), uni, total_downloads,
        budget_multiplier=BUDGET_MULTIPLIER, gc_terminal=True,
        backoff_scale=BACKOFF_SCALE, transient_modulus=0,
    )
    crawl.seed(spark.createDataFrame([], "doc_id string"))
    crawl.finalize_bootstrap()
    changes = os.path.join(root, "changes")
    os.makedirs(changes)
    w = Watch(crawl, changes, os.path.join(root, "checkpoint"), trigger_budget_secs=TRIGGER_BUDGET_S)
    return crawl, w


def _observe(run, state, gen_log: list):
    """Wrap Watch.process_batch and Crawl.run_generation to record each
    micro-batch as an operation and each generation's returned metrics;
    returns a function that restores the originals. process_batch commits
    the state seq watermark as its last step, so its return is the commit
    time of that watermark."""
    from npm_search_spark.frontier import Crawl
    from npm_search_spark.streaming.watch import Watch

    orig_pb, orig_gen = Watch.process_batch, Crawl.run_generation

    def run_generation(self, generation, budgets_override=None):
        m = orig_gen(self, generation, budgets_override=budgets_override)
        exhausted = budgets_override is not None and any(
            budgets_override.get(h, 0) - n <= 0 for h, n in m.get("scheduled_by_host", {}).items()
        )
        gen_log.append((m, exhausted))
        return m

    def process_batch(self, batch, batch_id):
        prev_seq = state.load().seq
        start = time.time()
        n0 = len(gen_log)
        with run.op(f"batch-{batch_id}") as rec:
            orig_pb(self, batch, batch_id)
        commit, seq = time.time(), state.load().seq
        rec.update(start=start, seq=seq, commit=commit, idle=seq == prev_seq,
                   gens=gen_log[n0:], generations=len(gen_log) - n0)
        print(f"crawlbench: batch-{batch_id} seq {seq} generations (scheduled, s) "
              f"{[(m['scheduled'], m.get('elapsed_s')) for m, _ in rec['gens']]}", file=sys.stderr)

    Watch.process_batch, Crawl.run_generation = process_batch, run_generation

    def restore():
        Watch.process_batch, Crawl.run_generation = orig_pb, orig_gen

    return restore


def _t0(now: float) -> float:
    """Due time of the feed's first file: it and every later one
    (``t0 + k * PERIOD_S``) is FILE_OFFSET_S after a trigger."""
    return math.ceil((now + LEAD_S) / POLL_S) * POLL_S + FILE_OFFSET_S


def _feed(run, changes: str, stamps: str, n_files: int, doc_lo: int):
    """Start the generator process; it lands ``n_files`` files on its own
    schedule while the engine runs."""
    here = os.path.dirname(os.path.abspath(__file__))
    feed = subprocess.Popen([
        sys.executable, os.path.join(here, "feed.py"), "--dir", changes, "--stamps", stamps,
        "--seed", str(run.seed), "--t0", repr(_t0(time.time())),
        "--files", str(n_files), "--period", repr(PERIOD_S), "--per-file", str(PER_FILE),
        "--doc-lo", str(doc_lo), "--docs", str(N_WINDOW),
    ])
    return feed


def _wait(query, done, timeout_s: float, what: str) -> None:
    deadline = time.time() + timeout_s
    while not done():
        if query.exception() is not None:
            raise RuntimeError(f"watch query failed: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError(what)
        time.sleep(0.05)


def _check(spark, crawl, changes: str) -> list[str]:
    import pyarrow.parquet as pq

    expected = checks.watch_expected(pq.read_table(changes).to_pandas())

    def ids(table, col):
        if not table.exists():
            return set()
        return {r[0] for r in table.read(spark).select(col).collect()}

    return checks.check_watch(
        crawl.state.load().seq,
        ids(crawl.packages, "objectID"),
        ids(crawl.not_found, "doc_id"),
        expected,
    )


def change_lags(stamps: list[dict], batches: list[dict]) -> tuple[list[float], list[float]]:
    """Per change: creation -> commit of the first batch whose seq
    watermark covers it; per file: landing -> start of that batch."""
    lags, waits = [], []
    for st in stamps:
        for seq, created in enumerate(st["created"], start=st["first_seq"]):
            lags.append(next(b["commit"] for b in batches if b["seq"] >= seq) - created)
        waits.append(next(b["start"] for b in batches if b["seq"] >= st["first_seq"]) - st["landed"])
    return lags, waits


def run(run) -> dict:
    from pyspark.sql import functions as F

    spark = run.spark
    root = os.path.join(run.work, "watch")
    uni = universe(spark)
    total = int(uni["npm_downloads"].agg(F.sum("downloads_last_30d")).first()[0])
    run.mark("universe cached")
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        crawl, w = _setup(spark, root, uni, total)
        run.setup_s.append(time.perf_counter() - t0)

    stamps_path = os.path.join(run.work, "stamps.jsonl")
    doc_lo = inputs.doc_window(run.seed, N_UNIVERSE, N_WINDOW)
    n_files = max(1, math.ceil(run.seconds / PERIOD_S))
    gen_log: list = []
    restore = _observe(run, crawl.state, gen_log)
    query = feed = None
    try:
        query = w.run_continuous(poll_interval_secs=POLL_S, await_termination=False)

        def idle() -> bool:
            st = query.status
            return not st["isTriggerActive"] and st["message"].startswith("Waiting")

        _wait(query, idle, START_TIMEOUT_S, "watch query did not start")
        run.mark("query started")
        feed = _feed(run, w.changes_dir, stamps_path, n_files, doc_lo)
        _wait(query, lambda: feed.poll() is not None, n_files * PERIOD_S + 30, "feed did not finish")
        if feed.returncode != 0:
            raise RuntimeError("change feed generator failed")
        with open(stamps_path) as f:
            stamps = [json.loads(line) for line in f]
        last = stamps[-1]["last_seq"]
        _wait(query, lambda: crawl.state.load().seq >= last, CATCH_UP_TIMEOUT_S,
              "watch did not catch up with the feed")
        run.mem.mark_live()
    finally:
        if feed is not None and feed.poll() is None:
            feed.kill()
            feed.wait()
        if query is not None:
            query.stop()
        restore()
    run.mark("feed processed")

    run.ops[:] = [o for o in run.ops if not o.get("idle")]
    bad = _check(spark, crawl, w.changes_dir)
    checks.settle(run.ops, bad, "watch output")
    batches = sorted(run.ops, key=lambda o: o["seq"])
    lags, waits = change_lags(stamps, batches)
    gens = [g for o in batches for g in o["gens"]]
    scheduled = sum(m["scheduled"] for m, _ in gens)
    run.layer_extra.update({
        "watch.batch_s": (statistics.median([o["wall_s"] for o in batches]), "s"),
        "watch.queue_wait_s": (statistics.median(waits), "s"),
        "watch.generations_per_batch": (len(gens) / len(batches), "count"),
        "watch.ledger_exhausted_batches": (
            float(sum(any(e for _, e in o["gens"]) for o in batches)), "count"),
        "frontier.retry_ratio": (
            sum(m.get("registry_retry", 0) for m, _ in gens) / max(scheduled, 1), "ratio"),
        "frontier.idle_generations": (float(sum(m["scheduled"] == 0 for m, _ in gens)), "count"),
        "seen.dup_ratio": (sum(m.get("deduped", 0) for m, _ in gens) / max(scheduled, 1), "ratio"),
        "generator.late_s": (max(st["landed"] - st["due"] for st in stamps), "s"),
        "lag.samples": (float(len(lags)), "count"),
        "lag.batches": (float(len(batches)), "count"),
    })
    for df in uni.values():
        df.unpersist()
    run.mark("checked")
    return {
        "items_per_s": (len(lags) / sum(o["wall_s"] for o in batches), "1/s"),
        "lag_p50_s": (statistics.median(lags), "s"),
    }
