"""Streaming half of the dedup workload: streaming.ingest.
start_incremental_dedup (availableNow, one file per microbatch) over a clips
directory, then, in a traced run, reconcile() and cluster_of point lookups
over the state the stream wrote. Those two feed only per-layer metrics.

Microbatch timings come from the query's own progress reports (trigger
start + triggerExecution); jobs run on the stream thread carry no job group,
so the event log attributes them to a microbatch by time window.
"""

from __future__ import annotations

import os
import time
from datetime import datetime

import inputs
from batch_dedup import fingerprint
from harness import log, median, timed

COMPACT_EVERY = 1  # the second microbatch folds the first
LOOKUPS = 3


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def _count_files(path: str) -> int:
    return sum(
        1
        for _, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def run_stream(run, args, outcome, expected):
    from go_lsh_spark.config import DedupConfig
    from go_lsh_spark.streaming.ingest import (
        cluster_of,
        read_clip_stream,
        read_clusters,
        reconcile,
        start_incremental_dedup,
    )

    spark = run.start_spark()
    # state-table partition counts sized for a few hundred clips instead of
    # the 64/32/16/16 floors; the layout is a benchmark input, the
    # semantics do not depend on it
    cfg = DedupConfig(n_cluster_parts=2, n_df_parts=2, n_key_parts=2, n_sig_parts=2)
    src, out, ck = run.path("src"), run.path("out"), run.path("ck")
    n = inputs.write_stream_files(src, args.seed)
    want = expected["stream_dedup"]

    t0 = time.perf_counter()
    q = start_incremental_dedup(
        read_clip_stream(spark, src, max_files=1), cfg, out, ck, compact_every=COMPACT_EVERY
    )
    q.awaitTermination()
    stream_s = time.perf_counter() - t0
    log(f"stream {stream_s:.2f}s")
    outcome.record(q.exception() is None, f"stream failed: {q.exception()}")
    batches = sorted(
        (
            (p["batchId"], _epoch_ms(p["timestamp"]), p["durationMs"]["triggerExecution"] / 1000.0)
            for p in q.recentProgress
            if p["numInputRows"] > 0
        ),
    )
    outcome.record(
        len(batches) == inputs.STREAM_FILES,
        f"{len(batches)} microbatches for {inputs.STREAM_FILES} files",
    )
    state_files = _count_files(out)
    # the split is fixed, so the stream's own result must repeat run to
    # run; at this size it already equals the batch result
    pre = fingerprint(read_clusters(spark, out))
    outcome.record(pre == want["pre_reconcile"], f"pre-reconcile {pre} != pinned {want['pre_reconcile']}")

    e2e = {"items_per_s": n / stream_s}
    layers = {
        "stream.first_batch_s": batches[0][2],
        "stream.fold_batch_s": median(
            [d for b, _, d in batches if b > 0 and (b + 1) % COMPACT_EVERY == 0]
        ),
        "stream.state_files": state_files,
    }
    if run.trace:  # reconcile and the lookups feed only per-layer metrics
        with run.group("reconcile"):
            layers["reconcile.wall_s"], _ = timed(reconcile, spark, out, cfg)
        # stream + reconcile == dedup_pipeline on the same corpus: the
        # batch result's fingerprint is pinned for this corpus
        post = fingerprint(read_clusters(spark, out))
        outcome.record(post == want["fingerprint"], f"post-reconcile {post} != batch {want['fingerprint']}")
        got = {r["clip_id"]: r["cluster_id"] for r in read_clusters(spark, out).collect()}
        lookup_s = []
        with run.group("cluster_of"):
            for clip in sorted(got)[:: n // LOOKUPS][:LOOKUPS]:
                dt, cluster = timed(cluster_of, spark, out, clip)
                lookup_s.append(dt)
                outcome.record(cluster == got[clip], f"cluster_of({clip}) = {cluster}")
        layers["cluster_of.p50_s"] = median(lookup_s)

    def from_eventlog(jobs, layers: dict) -> None:
        from eventlog import by_group, in_window

        per_batch = [in_window(jobs, start, start + dur * 1000.0) for _, start, dur in batches[1:]]
        layers["stream.batch_jobs"] = median([t.jobs for t in per_batch])
        layers["stream.batch_tasks"] = median([t.tasks for t in per_batch])
        layers["stream.batch_shuffle_bytes"] = median([t.shuffle_write_bytes for t in per_batch])
        layers["stream.batch_output_bytes"] = median([t.output_bytes for t in per_batch])
        layers["reconcile.jobs"] = by_group(jobs)["reconcile"].jobs

    return e2e, layers, from_eventlog

