"""Correctness oracles, computed with pandas from the generated inputs
(independently of Spark and of the engine). Each check returns a list of
mismatch descriptions; an empty list means the output is correct."""

from __future__ import annotations

import sys

import pandas as pd


def drain_expected(front: pd.DataFrame, host_budget: dict[str, int], generations: int) -> dict:
    """What a ``generations``-generation drain must schedule: each host
    yields its top min(budget x generations, pending) rows by (priority
    DESC, url ASC). Returns the per-host counts, the scheduled URLs and
    the number of them that are fresh (not preseeded)."""
    per_host, urls, fresh = {}, set(), 0
    for host, rows in front.groupby("host"):
        take = min(host_budget[host] * generations, len(rows))
        top = rows.sort_values(["priority", "url"], ascending=[False, True]).head(take)
        per_host[host] = take
        urls.update(top["url"])
        fresh += int((~top["preseeded"]).sum())
    return {"per_host": per_host, "urls": urls, "fresh": fresh}


def check_drain(sched: pd.DataFrame, reported: int, fresh: int, expected: dict) -> list[str]:
    """``sched``: the (url, host) rows the scheduler returned over all
    generations; ``reported``: the sum of its own ``scheduled_count``;
    ``fresh``: the URLs the seen set gained."""
    bad = []
    want = sum(expected["per_host"].values())
    if reported != len(sched) or len(sched) != want:
        bad.append(f"scheduled {len(sched)} rows, reported {reported}, expected {want}")
    per_host = sched.groupby("host").size().to_dict()
    bad += [
        f"{h}: scheduled {per_host.get(h, 0)}, expected {n}"
        for h, n in sorted(expected["per_host"].items())
        if per_host.get(h, 0) != n
    ]
    bad += [f"{h}: scheduled {n}, host not in input" for h, n in per_host.items() if h not in expected["per_host"]]
    dups = int(sched["url"].duplicated().sum())
    if dups:
        bad.append(f"{dups} URLs scheduled more than once")
    got = set(sched["url"])
    if got != expected["urls"]:
        bad.append(f"{len(got - expected['urls'])} URLs scheduled outside the per-host top-k, "
                   f"{len(expected['urls'] - got)} of it missing")
    if fresh != expected["fresh"]:
        bad.append(f"fresh after dedup {fresh}, expected {expected['fresh']}")
    return bad


def watch_expected(changes: pd.DataFrame) -> dict:
    """Last change per id over the whole landed feed."""
    last = changes.sort_values("seq").groupby("id").tail(1)
    return {
        "last_seq": int(changes["seq"].max()),
        "deleted": set(last.loc[last["deleted"], "id"]),
        "upserted": set(last.loc[~last["deleted"], "id"]),
    }


def check_watch(final_seq: int, packages: set[str], not_found: set[str], expected: dict) -> list[str]:
    """The seq watermark covers the last landed change; ids whose last
    change is a delete are absent from packages; ids whose last change is
    an upsert are in packages, or quarantined because the registry does
    not serve them."""
    bad = []
    if final_seq != expected["last_seq"]:
        bad.append(f"final seq {final_seq}, expected {expected['last_seq']}")
    for i in sorted(expected["deleted"] & packages):
        bad.append(f"deleted id {i} still in packages")
    for i in sorted(expected["upserted"] - packages - not_found):
        bad.append(f"upserted id {i} missing")
    return bad


def settle(ops: list[dict], bad: list[str], what: str) -> bool:
    """Mark ``ops`` correct when their check found no mismatch and failed
    otherwise (reported on stderr); returns whether they are correct."""
    for o in ops:
        o["ok"] = not bad
    if bad:
        print(f"{what} incorrect: {bad[:20]}", file=sys.stderr)
    return not bad
