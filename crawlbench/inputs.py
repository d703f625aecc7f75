"""Benchmark inputs, all derived from the run's ``--seed``.

The engine's synthetic universe keys every document property on the
module constant ``synthetic.SEED``, which Spark workers re-import, so it
cannot carry a per-run seed. The run seed therefore stays on this side: it
picks the drain frontier's salt, the window of universe documents the
change feed touches, and the change feed itself.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

# drain frontier host mix by id % 20: three hot hosts plus a tail
HOST_MIX = [
    ("registry.npmjs.org", 10), ("cdn.jsdelivr.net", 6), ("raw.githubusercontent.com", 2),
    ("gitlab.com", 1), ("bitbucket.org", 1),
]
PRIORITY_MUL = 2_654_435_761
PRIORITY_MOD = 1_000_003
PRESEED_MUL = 40_507  # not a multiple of PRESEED_MOD
PRESEED_MOD = 3  # ~1/3 of the URL space is already in the seen set


def salt_of(seed: int) -> int:
    return random.Random(f"drain-{seed}").randrange(1, 2**31)


def _host_of_slot() -> list[str]:
    return [h for h, share in HOST_MIX for _ in range(share)]


def frontier_df(spark, n: int, salt: int, preseeded_only: bool = False):
    """The drain's pending frontier: (url, host, priority) over ids 0..n-1;
    ``preseeded_only`` keeps the rows the seen set starts with."""
    from pyspark.sql import functions as F

    slot = F.pmod(F.col("id"), F.lit(20))
    host = None
    for i, h in enumerate(_host_of_slot()):
        host = F.when(slot == i, h) if host is None else host.when(slot == i, h)
    ids = spark.range(n)
    if preseeded_only:
        ids = ids.where(F.pmod(F.col("id") * PRESEED_MUL + salt, F.lit(PRESEED_MOD)) == 0)
    return ids.select(
        F.concat(F.lit("https://"), host, F.lit("/pkg-"), F.col("id")).alias("url"),
        host.alias("host"),
        F.pmod(F.col("id") * PRIORITY_MUL + salt, F.lit(PRIORITY_MOD)).cast("double").alias("priority"),
    )


def frontier_pd(n: int, salt: int) -> pd.DataFrame:
    """The same frontier computed with numpy, plus its preseed flag."""
    ids = np.arange(n, dtype=np.int64)
    hosts = np.array(_host_of_slot(), dtype=object)[ids % 20]
    return pd.DataFrame(
        {
            "url": "https://" + hosts + "/pkg-" + ids.astype(str).astype(object),
            "host": hosts,
            "priority": ((ids * PRIORITY_MUL + salt) % PRIORITY_MOD).astype(np.float64),
            "preseeded": (ids * PRESEED_MUL + salt) % PRESEED_MOD == 0,
        }
    )


def doc_window(seed: int, n_universe: int, n_window: int) -> int:
    """First universe index of the documents the change feed touches."""
    return random.Random(f"docs-{seed}").randrange(0, n_universe - n_window + 1)


def change_rows(
    seed: int, file_no: int, first_seq: int, n: int, doc_lo: int, n_docs: int,
    delete_every: int = 20,
) -> list[tuple[int, str, bool, str]]:
    """One change file of ``n`` consecutive seqs. Every ``delete_every``-th
    change deletes a document no other change in the file touches; the
    others upsert 3/4 as many distinct documents as there are upserts, each
    at least once, so ids repeat within the file (the last-wins dedup
    path). The seed picks the documents; every file has the same shape."""
    from npm_search_spark.sources.synthetic import pkg_name

    rng = random.Random(f"feed-{seed}-{file_no}")
    n_del = n // delete_every
    n_up = n - n_del
    distinct = max(1, n_up * 3 // 4)
    docs = rng.sample(range(doc_lo, doc_lo + n_docs), distinct + n_del)
    pool, gone = docs[:distinct], docs[distinct:]
    ups = pool + [rng.choice(pool) for _ in range(n_up - distinct)]
    rng.shuffle(ups)
    rows = []
    for k in range(n):
        deleted = k % delete_every == delete_every - 1
        doc = gone.pop() if deleted else ups.pop()
        rows.append((first_seq + k, pkg_name(doc), deleted, f"{first_seq + k}-{rng.getrandbits(32):08x}"))
    return rows
