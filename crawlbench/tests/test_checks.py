"""The correctness oracles accept right outputs and flag corrupted ones,
and a run with a flagged operation reports it as failed."""

import pandas as pd

from crawlbench import checks, inputs
from crawlbench.run import summary

BUDGET = {h: 3 for h, _ in inputs.HOST_MIX}


def test_drain_expected_is_budget_capped_top_k():
    front = inputs.frontier_pd(400, salt=12345)
    exp = checks.drain_expected(front, BUDGET, generations=2)
    counts = front.groupby("host").size()
    assert exp["per_host"] == {h: min(6, int(n)) for h, n in counts.items()}
    fresh, urls = 0, set()
    for _, rows in front.groupby("host"):
        top = rows.sort_values(["priority", "url"], ascending=[False, True]).head(6)
        fresh += int((~top["preseeded"]).sum())
        urls.update(top["url"])
    assert exp["fresh"] == fresh and exp["urls"] == urls


def test_preseed_is_about_a_third_per_host():
    front = inputs.frontier_pd(6000, salt=inputs.salt_of(7))
    share = front.groupby("host")["preseeded"].mean()
    assert share.between(0.3, 0.37).all()


def scheduled(front, exp):
    """A right scheduler output: the oracle's URLs as (url, host) rows."""
    return front.loc[front["url"].isin(exp["urls"]), ["url", "host"]]


def test_check_drain_flags_corruption():
    front = inputs.frontier_pd(400, salt=99)
    exp = checks.drain_expected(front, BUDGET, generations=2)
    rows = scheduled(front, exp)
    n = len(rows)
    assert checks.check_drain(rows, n, exp["fresh"], exp) == []
    assert checks.check_drain(rows, n + 1, exp["fresh"], exp)  # over-reported count
    assert checks.check_drain(rows.iloc[1:], n - 1, exp["fresh"], exp)  # a URL lost
    assert checks.check_drain(pd.concat([rows, rows.iloc[:1]]), n + 1, exp["fresh"], exp)  # twice
    assert checks.check_drain(rows, n, exp["fresh"] - 1, exp)  # dedup lost a URL
    # same per-host counts, but one winner swapped for a lower-priority URL
    first = rows.iloc[0]
    loser = front[(front["host"] == first["host"]) & ~front["url"].isin(exp["urls"])].iloc[0]
    swapped = pd.concat([rows.iloc[1:], pd.DataFrame([loser[["url", "host"]]])])
    assert swapped.groupby("host").size().equals(rows.groupby("host").size())
    assert checks.check_drain(swapped, n, exp["fresh"], exp)
    extra = pd.DataFrame({"url": ["https://example.org/x"], "host": ["example.org"]})
    assert checks.check_drain(pd.concat([rows, extra]), n + 1, exp["fresh"], exp)


def feed():
    return pd.DataFrame(
        [(1, "a", False, "r1"), (2, "b", False, "r2"), (3, "a", True, "r3"),
         (4, "c", False, "r4"), (5, "b", False, "r5"), (6, "d", False, "r6")],
        columns=["seq", "id", "deleted", "rev"],
    )


def test_watch_expected_is_last_wins():
    exp = checks.watch_expected(feed())
    assert exp == {"last_seq": 6, "deleted": {"a"}, "upserted": {"b", "c", "d"}}


def test_check_watch_accepts_quarantined():
    exp = checks.watch_expected(feed())
    assert checks.check_watch(6, {"b", "d"}, {"c"}, exp) == []


def test_check_watch_flags_corruption():
    exp = checks.watch_expected(feed())
    good = ({"b", "c", "d"}, set())
    assert checks.check_watch(6, *good, exp) == []
    assert checks.check_watch(5, *good, exp)  # watermark behind the feed
    assert checks.check_watch(6, {"a", "b", "c", "d"}, set(), exp)  # delete lost
    assert checks.check_watch(6, {"b", "c"}, set(), exp)  # upsert lost


def test_corrupted_operation_counts_as_failed():
    exp = checks.watch_expected(feed())
    good, corrupt = [{}], [{}]
    assert checks.settle(good, checks.check_watch(6, {"b", "c", "d"}, set(), exp), "good")
    assert not checks.settle(corrupt, checks.check_watch(6, {"a", "b", "c", "d"}, set(), exp), "bad")
    assert summary(good + corrupt) == {"correct": False, "attempted": 2, "failed": 1}
    assert summary(good) == {"correct": True, "attempted": 1, "failed": 0}
    assert summary([])["correct"] is False
