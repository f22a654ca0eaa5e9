"""Spark job budgets per public entry point.

Wall time cannot gate a shared host, but the number of Spark jobs an entry
point runs does not depend on host speed and tracks its latency (each job
is a driver round trip plus its stage scheduling). Each test runs one entry
point at toy scale under its own job group and pins an upper bound on
len(statusTracker().getJobIdsForGroup(group)). A change that lowers a count
lowers its pin; raising a pin needs a stated reason.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from go_lsh_spark.config import DedupConfig, LSHConfig, SearchOptions
from go_lsh_spark.engine import SparkLSH
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


LSH_CFG = LSHConfig(num_hyperplanes=4, num_tables=16, vector_length=8, seed=99)
LSH_OPTS = SearchOptions(num_to_return=5, threshold=0.3)


@pytest.fixture(scope="module")
def lsh_index(spark):
    """SparkLSH.index on 48 random documents over three row partitions,
    then a count of both cached tables (as perfbench's index layer does):
    (engine, vectors, jobs)."""
    vecs = np.random.default_rng(5).normal(size=(48, 8))
    docs = spark.createDataFrame(
        [(i, (i % 3) * 7200, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "uid long, index long, vector array<double>",
    )

    def op():
        eng = SparkLSH(spark, LSH_CFG).index(docs)
        return eng, eng.buckets.count(), eng.forward.count()

    (eng, n_buckets, n_forward), jobs = _jobs_in_group(spark, "budget-lsh-index", op)
    assert (n_buckets, n_forward) == (48 * 16, 48)
    return eng, vecs, jobs


def test_lsh_index_job_budget(lsh_index):
    """index plus the two counts: 10 jobs. index() materializes the search
    table in 6 (the AQE query stages of its keys aggregate and of the
    forward merge and broadcast, then the local checkpoint), which fills
    the buckets and forward caches; each count then reads its cache in 2.
    The search-table fill is what makes a warm search one job."""
    assert lsh_index[2] <= 10, lsh_index[2]


def test_lsh_search_job_budget(spark, lsh_index):
    """One warm SparkLSH.search is one job: a filter and the Pearson score
    over the materialized search table, then TakeOrderedAndProject, with
    no shuffle."""
    eng, vecs, _ = lsh_index
    for i in range(2):
        (scores, num_scored), jobs = _jobs_in_group(
            spark, f"budget-lsh-search-{i}", lambda: eng.search(vecs[0], 7200, LSH_OPTS)
        )
        assert (len(scores), num_scored) == (5, 15)
    assert jobs <= 1, jobs


def test_lsh_search_df_job_budget(spark, lsh_index):
    """search_df over 4 queries plus the scores collect: 9 jobs, of which
    one is the eager min/max(index) pass over the queries."""
    eng, vecs, _ = lsh_index
    queries = spark.createDataFrame(
        [(k, 7200 * (k % 2), [float(x) for x in vecs[k]]) for k in range(4)],
        "query_id long, index long, vector array<double>",
    )
    rows, jobs = _jobs_in_group(
        spark, "budget-lsh-search-df", lambda: eng.search_df(queries, LSH_OPTS).scores.collect()
    )
    assert len(rows) == 20
    assert jobs <= 9, jobs
