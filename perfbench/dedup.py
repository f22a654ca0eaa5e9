"""dedup: the batch pipeline and the streaming path in one process.

batch_dedup.py runs first (its warm-up op is the process's JIT warm-up and
its closed loop gives op_p50_s); stream_dedup.py then streams its own corpus
on the warm JVM and gives items_per_s. A decode change moves op_p50_s more
than items_per_s; a state-I/O change moves only items_per_s.
"""

from __future__ import annotations

import batch_dedup
import stream_dedup


def run_workload(run, args, outcome, expected):
    e2e, layers, b_fill = batch_dedup.run_batch(run, args, outcome, expected)
    s_e2e, s_layers, s_fill = stream_dedup.run_stream(run, args, outcome, expected)
    e2e.update(s_e2e)
    layers.update(s_layers)

    def from_eventlog(jobs, layers: dict) -> None:
        b_fill(jobs, layers)
        s_fill(jobs, layers)

    return e2e, layers, from_eventlog
