"""Batch half of the dedup workload: operators.dedup.dedup_pipeline in lazy
mode with the default DedupConfig over a parquet clips corpus, in a closed
loop with one client.

One op is the pipeline call plus its fingerprint collect (row count,
distinct clusters, bit_xor of xxhash64(clip_id, cluster_id)). The traced
run also caches and counts each stage in turn under its own job group.
"""

from __future__ import annotations

import time

import inputs
from harness import log, median, timed

MIN_OPS = 2


def fingerprint(clusters):
    from pyspark.sql import functions as F

    row = clusters.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.bit_xor(F.xxhash64("clip_id", "cluster_id")).alias("checksum"),
    ).collect()[0]
    return [row["n_rows"], row["n_clusters"], row["checksum"]]


def _unpersist(result) -> None:
    for df in (result.signatures, result.buckets, result.pairs, result.verified):
        df.unpersist()


def one_op(spark, clips, cfg):
    """(construct_s, collect_s, fingerprint) of one untraced op."""
    from go_lsh_spark.operators.dedup import dedup_pipeline

    construct_s, result = timed(dedup_pipeline, spark, clips, cfg)
    collect_s, fp = timed(fingerprint, result.clusters)
    _unpersist(result)
    return construct_s, collect_s, fp


def traced_op(run, clips, cfg, layers: dict):
    """The lazy pipeline stage by stage, each stage cached, counted and
    tagged with its own job group. Fills `layers` with wall times and row
    counts; returns the fingerprint."""
    from pyspark.sql import functions as F

    from go_lsh_spark.hyperplanes import PlaneSet
    from go_lsh_spark.operators.dedup import (
        build_buckets,
        candidate_pairs,
        cluster_assignments,
        clips_to_signatures,
        verify_pairs,
    )

    spark = run.spark
    planes = PlaneSet(cfg.lsh_config())
    spark._profiler_collector.clear_perf_profiles()
    with run.group("signatures"):
        t0 = time.perf_counter()
        sigs = clips_to_signatures(clips, cfg, planes).cache()
        n = sigs.count()
        layers["signatures.wall_s"] = time.perf_counter() - t0
    layers["signatures.udf_s"] = sum(
        st.total_tt for st in spark._profiler_collector._perf_profile_results.values() if st
    )
    with run.group("buckets"):
        t0 = time.perf_counter()
        buckets = build_buckets(sigs, cfg).cache()
        layers["buckets.rows"] = buckets.count()
        layers["buckets.wall_s"] = time.perf_counter() - t0
    with run.group("candidate_pairs"):
        t0 = time.perf_counter()
        pairs = candidate_pairs(buckets, cfg, n_clips=n).cache()
        layers["candidate_pairs.rows"] = pairs.count()
        layers["candidate_pairs.wall_s"] = time.perf_counter() - t0
    with run.group("verify"):
        t0 = time.perf_counter()
        verified = verify_pairs(pairs, sigs, cfg, n_clips=n).cache()
        row = verified.agg(
            F.count(F.lit(1)).alias("rows"), F.count("lcs_len").alias("lcs_rows")
        ).collect()[0]
        layers["verify.wall_s"] = time.perf_counter() - t0
    layers["verify.rows"] = row["rows"]
    layers["verify.lcs_rows"] = row["lcs_rows"]
    layers["verify.pass_ratio"] = row["rows"] / max(layers["candidate_pairs.rows"], 1)
    layers["clusters.edges"] = row["rows"]
    with run.group("clusters"):
        t0 = time.perf_counter()
        fp = fingerprint(cluster_assignments(clips, verified, cfg))
        layers["clusters.wall_s"] = time.perf_counter() - t0
    for df in (sigs, buckets, pairs, verified):
        df.unpersist()
    return fp


def run_batch(run, args, outcome, expected):
    from go_lsh_spark.config import DedupConfig

    spark = run.start_spark()
    cfg = DedupConfig()
    path = run.path("clips")
    inputs.write_batch_corpus(path, args.seed, files=2 * spark.sparkContext.defaultParallelism)
    clips = spark.read.parquet(path)
    log(f"inputs written {time.perf_counter() - run.t_start:.2f}s")
    want = expected["batch_dedup"]["fingerprint"]

    def check(fp, what):
        outcome.record(fp == want, f"{what}: fingerprint {fp} != {want}")

    check(one_op(spark, clips, cfg)[2], "warm-up op")
    setup_s = time.perf_counter() - run.t_start
    log(f"setup {setup_s:.2f}s")

    walls, constructs, collects = [], [], []
    t_end = time.perf_counter() + args.seconds
    while len(walls) < MIN_OPS or time.perf_counter() < t_end:
        construct_s, collect_s, fp = one_op(spark, clips, cfg)
        check(fp, f"op {len(walls)}")
        constructs.append(construct_s)
        collects.append(collect_s)
        walls.append(construct_s + collect_s)
        log(f"op {len(walls)}: {walls[-1]:.3f}s")
    op_s = median(walls)
    e2e = {"setup_s": setup_s, "op_p50_s": op_s}
    layers: dict = {}
    if run.trace:
        layers["dedup.construct_s"] = median(constructs)
        layers["dedup.collect_s"] = median(collects)
        t0 = time.perf_counter()
        check(traced_op(run, clips, cfg, layers), "traced op")
        layers["dedup.trace_overhead_s"] = time.perf_counter() - t0 - op_s
    return e2e, layers, layers_from_eventlog


def layers_from_eventlog(jobs, layers: dict) -> None:
    from eventlog import by_group

    groups = by_group(jobs)
    layers["signatures.cpu_s"] = groups["signatures"].cpu_ns / 1e9
    for name in ("candidate_pairs", "verify", "clusters"):
        layers[f"{name}.jobs"] = groups[name].jobs
    for name in ("candidate_pairs", "verify"):
        layers[f"{name}.shuffle_bytes"] = groups[name].shuffle_write_bytes
    layers["candidate_pairs.tasks"] = groups["candidate_pairs"].tasks
