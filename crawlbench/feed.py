"""Change-feed generator for the ``watch`` workload, run as its own process
so its schedule does not slow when the engine does (an open loop).

It lands ``files`` files of ``per-file`` changes, one every ``period``
seconds: file k (0-based) holds seqs ``1 + k * per-file`` onwards and is
due at ``t0 + k * period``, when all its changes are created (a burst of
publishes). A file is written with
pyarrow to a hidden temporary name and renamed into place, so the stream
source never sees a partial file. Each file's due and landing times and
the creation stamp of every seq in it are appended to the stamps file,
one JSON line per file, on this side only.

    python3 crawlbench/feed.py --dir D --stamps S --seed N --t0 T \
        --files F --period P --per-file C --doc-lo L --docs M
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from crawlbench.inputs import change_rows  # noqa: E402

SCHEMA = pa.schema([
    pa.field("seq", pa.int64(), nullable=False),
    pa.field("id", pa.string(), nullable=False),
    pa.field("deleted", pa.bool_()),
    pa.field("rev", pa.string()),
])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    for name, typ in [("--dir", str), ("--stamps", str), ("--seed", int), ("--t0", float),
                      ("--files", int), ("--period", float), ("--per-file", int),
                      ("--doc-lo", int), ("--docs", int)]:
        ap.add_argument(name, type=typ, required=True)
    a = ap.parse_args(argv)
    # build every file before the first one is due, so landing times
    # carry no generation cost
    tables = []
    for k in range(a.files):
        rows = change_rows(a.seed, k, 1 + k * a.per_file, a.per_file, a.doc_lo, a.docs)
        tables.append(pa.Table.from_pylist(
            [dict(zip(SCHEMA.names, r)) for r in rows], schema=SCHEMA
        ))
    with open(a.stamps, "a") as stamps:
        for k, table in enumerate(tables):
            due = a.t0 + k * a.period
            time.sleep(max(0.0, due - time.time()))
            name = f"part-{k:05d}.parquet"
            tmp = os.path.join(a.dir, f".{name}.tmp")
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(a.dir, name))
            stamps.write(json.dumps({
                "file": name, "first_seq": 1 + k * a.per_file, "last_seq": (k + 1) * a.per_file,
                "due": due, "landed": time.time(), "created": [due] * a.per_file,
            }) + "\n")
            stamps.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
