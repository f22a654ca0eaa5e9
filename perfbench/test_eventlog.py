"""Unit test of eventlog.py on a small recorded event log.

fixtures/eventlog_small.jsonl was recorded from Spark 4.1 (local[2]) with
three jobs: job group "shuffle" ran an RDD reduceByKey count (map stage +
result stage, 2 tasks each) and then a collect of the same RDD, whose map
stage is listed again but skipped; job group "plain" ran a 2-task range
count. Per-task accumulator lists and stage call-site details were dropped
from the recording.

    python3 -m pytest perfbench/test_eventlog.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "eventlog_small.jsonl")


def test_jobs_and_groups():
    jobs = eventlog.parse(LOG)
    assert [j.group for j in jobs.values()] == ["shuffle", "shuffle", "plain"]
    first, second, plain = jobs.values()
    # tasks come from TaskEnd: the skipped map stage adds nothing to job 2
    assert (first.tasks, second.tasks, plain.tasks) == (4, 2, 2)
    assert first.shuffle_write_bytes > 0
    assert second.shuffle_write_bytes == 0 and plain.shuffle_write_bytes == 0
    assert all(j.cpu_ns > 0 and j.end_ms >= j.submit_ms for j in jobs.values())


def test_group_totals():
    groups = eventlog.by_group(eventlog.parse(LOG))
    assert set(groups) == {"shuffle", "plain"}
    assert (groups["shuffle"].jobs, groups["shuffle"].tasks) == (2, 6)
    assert (groups["plain"].jobs, groups["plain"].tasks) == (1, 2)


def test_time_window():
    jobs = eventlog.parse(LOG)
    plain = list(jobs.values())[2]
    t = eventlog.in_window(jobs, plain.submit_ms, plain.end_ms)
    assert (t.jobs, t.tasks) == (1, 2)
    assert eventlog.in_window(jobs, 0, 1).jobs == 0


if __name__ == "__main__":
    import pytest

    sys.exit(pytest.main([__file__, "-q"]))
