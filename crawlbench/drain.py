"""``drain`` workload: a closed-loop, multi-generation drain of a skewed
3-hot-host frontier under hourly politeness budgets, through
``frontier.politeness_schedule`` and ``SeenSet.filter_unseen`` /
``add(defer=True)`` / ``flush``.

The frontier is generated and cached first. Setup (timed as ``setup_s``,
repeated SETUPS times) builds a seen set preseeded with about a third of
its URLs. One operation is one pass: roll the seen set back to the
preseed snapshot (untimed), then drain GENERATIONS generations and flush
(timed). An untimed warm-up pass comes first. Retiring
scheduled rows is a predicate on the cached frontier, the harness twin of
the engine's in-place MERGE state flip: each generation's winners are
exactly the scheduler's bin-space thresholds plus the boundary-bin takes.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

import pandas as pd

from . import checks, inputs, stats

N_URLS = 60_000
GENERATIONS = 2
TRIGGER_SECS = 2400  # per-generation budget = per-host rate x 40 minutes
SETUPS = 3
# a traced run needs two: one traced, one untraced
MIN_PASSES = 2


def _pending(base, hints, thresholds, consumed, takes):
    from pyspark.sql import functions as F

    from npm_search_spark.frontier import histogram_bin_expr

    pending = base
    if consumed:
        pending = pending.where(~F.col("host").isin(sorted(consumed)))
    if thresholds:
        thr_map = F.create_map(*[F.lit(x) for hh, b in thresholds.items() for x in (hh, b)])
        pending = pending.where(
            F.coalesce(histogram_bin_expr(hints) <= thr_map[F.col("host")], F.lit(True))
        )
    if takes is not None:
        pending = pending.join(F.broadcast(takes), "url", "left_anti")
    return pending


def drain_pass(spark, base, seen, budgets) -> dict:
    """One timed drain; returns its wall time, per-generation (end time,
    URLs scheduled) and the scheduler's outputs (checkpointed frames) for
    the correctness check."""
    from pyspark.sql import functions as F

    from npm_search_spark import frontier
    from npm_search_spark.frontier import histogram_bin_expr

    t0 = time.perf_counter()
    hints = counts = takes = None
    thresholds: dict[str, int] = {}
    consumed: set[str] = set()
    gens: list[tuple[float, int]] = []
    scheds = []
    for _ in range(GENERATIONS):
        pending = _pending(base, hints, thresholds, consumed, takes)
        sched = frontier.politeness_schedule(
            pending, budgets, budget_multiplier=TRIGGER_SECS, hist_hints=hints, hist_counts=counts
        )
        n = getattr(sched, "scheduled_count", None)
        if n is None:
            n = sched.count()
        hints = getattr(sched, "hist_hints", None) or hints
        counts = getattr(sched, "hist_counts", None)
        if n == 0:
            break
        scheds.append(sched)
        fresh = seen.filter_unseen(spark, sched, prune_buckets=False)
        seen.add(spark, fresh, defer=True)
        new_thr = getattr(sched, "hist_thresholds", None)
        consumed.update(getattr(sched, "consumed_hosts", None) or [])
        if new_thr is not None and hints is not None:
            thresholds.update(new_thr)
            thr_map = F.create_map(*[F.lit(x) for hh, b in new_thr.items() for x in (hh, b)])
            g_takes = sched.where(
                F.col("host").isin(sorted(new_thr))
                & (histogram_bin_expr(hints) == thr_map[F.col("host")])
            ).select("url")
        else:
            g_takes = sched.select("url")
        takes = (g_takes if takes is None else takes.unionByName(g_takes)).localCheckpoint(eager=True)
        gens.append((time.perf_counter() - t0, n))
    seen.flush(spark)
    wall = time.perf_counter() - t0
    return {"wall_s": wall, "gens": gens, "scheds": scheds}


def _seen(root: str):
    """The drain's seen set: wide (bucket, key, key2) rows, no url column."""
    from npm_search_spark.seen import SeenSet

    return SeenSet(root, expected_keys_per_bucket=max(N_URLS // 256, 1000), store_urls=False)


def _setup(spark, root: str, salt: int) -> int:
    """Build the preseeded seen set; returns its snapshot id."""
    shutil.rmtree(root, ignore_errors=True)
    seen = _seen(root)
    seen.add(spark, inputs.frontier_df(spark, N_URLS, salt, preseeded_only=True).select("url"))
    return seen.table.current_snapshot_id()


def run(run) -> dict:
    """Set up SETUPS times, then drain passes until ``run.seconds`` have
    been measured (at least MIN_PASSES); returns the end-to-end metrics."""
    from pyspark import StorageLevel

    from npm_search_spark.frontier import DEFAULT_BUDGETS

    spark = run.spark
    salt = inputs.salt_of(run.seed)
    root = os.path.join(run.work, "seen")
    base = inputs.frontier_df(spark, N_URLS, salt).persist(StorageLevel.MEMORY_AND_DISK)
    base.count()
    run.mark("frontier cached")
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        preseed_sid = _setup(spark, root, salt)
        run.setup_s.append(time.perf_counter() - t0)

    front = inputs.frontier_pd(N_URLS, salt)
    budgets = {h: DEFAULT_BUDGETS[h] for h, _ in inputs.HOST_MIX}
    expected = checks.drain_expected(
        front, {h: b * TRIGGER_SECS for h, b in budgets.items()}, GENERATIONS
    )
    # a wrong preseed fails every pass that drains from it
    n_preseeded = _seen(root).count(spark)
    setup_bad = [] if n_preseeded == int(front["preseeded"].sum()) else [
        f"preseeded {n_preseeded} URLs, expected {int(front['preseeded'].sum())}"]
    probe = base.limit(1)
    run.mark("set up, oracle computed")

    def preseeded():
        """The seen set rolled back to the preseed snapshot, its prefilter
        rebuilt (untimed)."""
        seen = _seen(root)
        seen.table.rollback(preseed_sid)
        seen.filter_unseen(spark, probe, prune_buckets=False).count()
        return seen

    # untimed warm-up pass through the same plans, so the measured passes
    # exclude the JVM's first-run compilation
    drain_pass(spark, base, preseeded(), budgets)
    run.mark("warmed up")

    rates, p50s, dup_ratios, walls = [], [], [], []
    deadline = time.perf_counter() + run.seconds
    while len(run.ops) < MIN_PASSES or time.perf_counter() < deadline:
        seen = preseeded()
        i = len(run.ops)
        try:
            with run.op(f"pass-{i}", root_span="drain.pass") as rec:
                p = drain_pass(spark, base, seen, budgets)
        except Exception:  # noqa: BLE001 — a pass that raised counts as failed
            traceback.print_exc()
            continue
        # the pass ran to its end: it is timed whether its output is right
        # or not, and checked after the timed region from the scheduler's
        # own (checkpointed) outputs and the seen set it left
        rec["generations"] = len(p["gens"])
        scheduled = sum(n for _, n in p["gens"])
        walls.append(p["wall_s"])
        rates.append(scheduled / p["wall_s"])
        if scheduled > 2 * stats.MIN_BEYOND:
            ends, weights = zip(*p["gens"])
            p50s.append(stats.percentile(ends, 0.5, weights))
        try:
            rows = pd.concat([s.select("url", "host").toPandas() for s in p["scheds"]]
                             or [pd.DataFrame({"url": [], "host": []})])
            fresh = seen.count(spark) - n_preseeded
            bad = setup_bad + checks.check_drain(rows, scheduled, fresh, expected)
            dup_ratios.append((scheduled - fresh) / max(scheduled, 1))
        except Exception as e:  # noqa: BLE001 — an output that cannot be read is wrong
            traceback.print_exc()
            bad = [f"check raised {e!r}"]
        checks.settle([rec], bad, f"drain pass {i}")
        print(f"crawlbench: pass-{i} scheduled {scheduled} ok {rec['ok']}", file=sys.stderr)
    run.mem.mark_live()
    base.unpersist()
    run.mark("passes done")
    if not walls:
        raise RuntimeError("no drain pass ran to its end")
    run.layer_extra.update({
        "seen.dup_ratio": (statistics.median(dup_ratios or [0.0]), "ratio"),
        "lag.samples": (float(scheduled), "count"),
        "lag.batches": (float(len(p["gens"])), "count"),
    })
    # a pass that scheduled (next to) nothing has no per-URL lag; its wall
    # stands in
    return {
        "items_per_s": (statistics.median(rates), "1/s"),
        "lag_p50_s": (statistics.median(p50s or walls), "s"),
    }
