"""Stdlib-json reader for an uncompressed, non-rolling Spark event log.

It rolls TaskEnd events up to the job that ran their stage, keeping per job:
its job group, submission/completion times (epoch ms), tasks actually run
(counted from TaskEnd, so stages that AQE planned but skipped add nothing),
executor CPU time, shuffle bytes written and output bytes written.

Usage: python3 perfbench/eventlog.py <event log>   # prints per-group totals
"""

from __future__ import annotations

import json
import sys
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int = 0
    tasks: int = 0
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    stages: list[int] = field(default_factory=list)


@dataclass
class Totals:
    jobs: int = 0
    tasks: int = 0
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0

    def add(self, job: Job) -> None:
        self.jobs += 1
        self.tasks += job.tasks
        self.cpu_ns += job.cpu_ns
        self.shuffle_write_bytes += job.shuffle_write_bytes
        self.output_bytes += job.output_bytes


def parse(path: str) -> dict[int, Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job = Job(
                    job_id=ev["Job ID"],
                    group=(ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    submit_ms=ev["Submission Time"],
                    stages=list(ev["Stage IDs"]),
                )
                jobs[job.job_id] = job
                # a stage is listed again (as skipped) by later jobs that
                # reuse its output; its tasks ran in the first job
                for sid in job.stages:
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                job = jobs[jid]
                job.tasks += 1
                m = ev.get("Task Metrics") or {}
                job.cpu_ns += m.get("Executor CPU Time", 0)
                job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                job.output_bytes += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
    return jobs


def by_group(jobs: dict[int, Job]) -> dict[str, Totals]:
    out: dict[str, Totals] = {}
    for job in jobs.values():
        out.setdefault(job.group or "", Totals()).add(job)
    return out


def in_window(jobs: dict[int, Job], start_ms: float, end_ms: float) -> Totals:
    """Totals over the jobs submitted in [start_ms, end_ms] -- how jobs run
    by a streaming query's own thread (no job group) are attributed to the
    microbatch whose trigger window contains them."""
    t = Totals()
    for job in jobs.values():
        if start_ms <= job.submit_ms <= end_ms:
            t.add(job)
    return t


if __name__ == "__main__":
    for name, t in sorted(by_group(parse(sys.argv[1])).items()):
        print(f"{name or '<none>'}\t{t}")
