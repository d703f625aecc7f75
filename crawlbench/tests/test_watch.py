"""Per-change lag and queue wait from the generator's stamps and the
engine's batch commits (no Spark needed)."""

import pytest

from crawlbench.watch import change_lags


def test_lag_runs_to_the_first_commit_covering_each_seq():
    stamps = [
        {"first_seq": 1, "last_seq": 3, "landed": 10.2, "created": [10.0, 10.0, 10.0]},
        {"first_seq": 4, "last_seq": 5, "landed": 20.1, "created": [20.0, 20.0]},
    ]
    batches = [
        {"seq": 3, "start": 10.5, "commit": 40.0},
        {"seq": 5, "start": 41.0, "commit": 70.0},  # queued behind the first
    ]
    lags, waits = change_lags(stamps, batches)
    assert lags == pytest.approx([30.0, 30.0, 30.0, 50.0, 50.0])
    assert waits == pytest.approx([0.3, 20.9])
