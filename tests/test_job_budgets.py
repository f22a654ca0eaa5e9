"""Spark job budgets per public entry point.

Wall time cannot gate a shared host, but the number of Spark jobs an entry
point runs does not depend on host speed and tracks its latency (each job
is a driver round trip plus its stage scheduling). Each test runs one entry
point at toy scale under its own job group and pins an upper bound on
len(statusTracker().getJobIdsForGroup(group)). A change that lowers a count
lowers its pin; raising a pin needs a stated reason.
"""

from pyspark.sql import functions as F

from go_lsh_spark.config import DedupConfig
from go_lsh_spark.operators.dedup import dedup_pipeline
from go_lsh_spark.sources.synth import clips_to_spark, synth_clips


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_batch_dedup_job_budget(spark):
    """Lazy dedup_pipeline plus the clusters fingerprint collect on the
    tests/test_dedup.py corpus (120 clips): 18 jobs, as at benchmark scale
    (400 clips). 12 run inside the call -- the signature count, then the
    query stages and broadcasts of candidate_pairs and verify_pairs under
    the driver connected-components collect -- and 6 in the collect."""
    clips, _ = clips_to_spark(spark, synth_clips(n_clips=120, seed=42))

    def op():
        res = dedup_pipeline(spark, clips, DedupConfig())
        row = res.clusters.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("cluster_id").alias("k"),
            F.bit_xor(F.xxhash64("clip_id", "cluster_id")).alias("x"),
        ).first()
        for df in (res.signatures, res.buckets, res.pairs, res.verified):
            df.unpersist()
        return list(row)

    fingerprint, jobs = _jobs_in_group(spark, "budget-batch-dedup", op)
    assert fingerprint == [120, 24, -8328172168237711242]
    assert jobs <= 18, jobs
