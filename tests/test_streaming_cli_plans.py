"""Streaming ingest, CLI entry, and physical-plan assertions."""

import json
import re

import pytest
from pyspark.sql import functions as F

from go_lsh_spark.config import DedupConfig
from go_lsh_spark.plans.inspect import explain_str
from go_lsh_spark.sources.synth import clips_to_spark, synth_clips
from go_lsh_spark.streaming.ingest import read_clusters


def test_streaming_signature_sink(spark, tmp_path):
    from go_lsh_spark.streaming.ingest import read_clip_stream, start_signature_sink

    res = synth_clips(n_clips=20, seed=11)
    clips, _ = clips_to_spark(spark, res)
    src = str(tmp_path / "clips_in")
    clips.repartition(4).write.parquet(src)

    cfg = DedupConfig()
    stream = read_clip_stream(spark, src, max_files=2)
    assert stream.isStreaming
    q = start_signature_sink(stream, cfg, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    sigs = spark.read.parquet(str(tmp_path / "out" / "signatures"))
    buckets = spark.read.parquet(str(tmp_path / "out" / "buckets"))
    assert sigs.count() == 20
    assert sigs.select("clip_id").distinct().count() == 20
    # multiple microbatches actually happened (incremental, not one big batch)
    assert sigs.select("_batch_id").distinct().count() >= 2
    by_src = {r.src: r.n for r in buckets.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert by_src["simhash"] == 20 * cfg.num_bands
    assert by_src["minhash"] == 20 * cfg.minhash_bands
    assert by_src.get("winnow", 0) > 0


@pytest.mark.slow
def test_cli_stream_dedup_and_reconcile(spark, tmp_path, capsys):
    """The streaming path has a production entry point: `stream-dedup`
    drains a clips directory incrementally (availableNow) and `reconcile`
    compacts the state to batch semantics."""
    from go_lsh_spark import cli

    res = synth_clips(n_clips=16, seed=21)
    clips, _ = clips_to_spark(spark, res)
    src = str(tmp_path / "clips_in")
    clips.repartition(3).write.parquet(src)

    # --timeout exercises the awaitTermination(timeout) branch: the drain
    # finishes well within it, the return value is checked (r4 ADVICE #5),
    # and no exception is pending
    rc = cli.main(
        ["stream-dedup", "--clips", src, "--out", str(tmp_path / "out"),
         "--checkpoint", str(tmp_path / "ck"), "--max-files", "1",
         "--timeout", "600"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["clusters_rows"] == 16

    rc = cli.main(["reconcile", "--out", str(tmp_path / "out")])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out)
    assert set(stats) == {
        "over_cap_fps", "suspect_pairs", "dropped_pairs", "reclustered_clusters"
    }
    assert spark.read.parquet(str(tmp_path / "out" / "clusters")).count() == 16


def test_cli_search_golden(spark, tmp_path, capsys):
    """`python -m go_lsh_spark.cli search` over the reference's TestLSHSearch
    fixture (lsh/lsh_test.go:29-50): POS top-3 is uids 0, 1, 2 and NEG
    finds uid 4 alone."""
    from go_lsh_spark import cli

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, 0, [0.0, 0.0, 5.0]), (1, 0, [0.0, 0.1, 3.0]), (2, 0, [0.0, 0.1, 2.0]),
         (3, 0, [0.0, 0.1, 1.0]), (4, 0, [0.0, -0.1, -4.0])],
        "uid long, index long, vector array<double>",
    ).write.parquet(docs)
    for sign, want in (("1", [0, 1, 2]), ("-1", [4])):
        assert cli.main(["search", "--docs", docs, "--vector", "0,0,0.1", "--k", "3", "--sign", sign]) == 0
        out = json.loads(capsys.readouterr().out)
        assert [s[0] for s in out["scores"]] == want, sign
        assert out["num_scored"] >= len(want)


def test_cli_stats_and_synth(tmp_path, capsys):
    from go_lsh_spark import cli

    assert cli.main(["stats"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert abs(out["false_negative_errors"][5]["probability"] - 0.018) < 1e-3


def test_scoring_plan_has_no_python_eval(spark, sf_dir):
    """The verification/scoring path must stay JVM-side (input_hint: no
    per-row Python) -- no BatchEvalPython/ArrowEvalPython in the plan."""
    from go_lsh_spark.entry_queries import q_pearson_scores

    plan = explain_str(q_pearson_scores(spark, sf_dir), "simple")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # AQE hides codegen markers until execution; check with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan2 = explain_str(q_pearson_scores(spark, sf_dir), "formatted")
        assert "codegen id" in plan2  # whole-stage codegen spans present
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_bucket_scan_prunes_with_literal_row_filter(spark, tmp_path):
    """engine.search's literal row-range prefilter must reach the parquet
    scan as partition filters when buckets are partitioned by row_index."""
    from go_lsh_spark.config import LSHConfig
    from go_lsh_spark.engine import SparkLSH

    docs = spark.createDataFrame(
        [(i, (i % 4) * 7200, [float(i), 1.0, -1.0]) for i in range(16)],
        "uid long, index long, vector array<double>",
    )
    eng = SparkLSH(spark, LSHConfig(num_tables=4)).index(docs, cache=False)
    path = str(tmp_path / "buckets")
    eng.buckets.write.partitionBy("row_index").parquet(path)
    stored = spark.read.parquet(path)

    pruned = stored.filter(F.col("row_index").between(0, 7200))
    plan = explain_str(pruned, "formatted")
    assert "PartitionFilters" in plan
    # the two retained partitions only
    assert pruned.select("row_index").distinct().count() == 2


def test_multi_query_search_prunes_bucket_partitions(spark, tmp_path):
    """A BATCH of queries with max_lag >= 0 must prune bucket partitions via
    the global [min(index)-lag, max(index)+lag] literal prefilter -- not scan
    every row partition and lag-filter post-join."""
    from go_lsh_spark.config import LSHConfig, SearchOptions
    from go_lsh_spark.engine import SparkLSH
    from go_lsh_spark.operators import search as S

    docs = spark.createDataFrame(
        [(i, (i % 8) * 7200, [float(i % 5), 1.0, -1.0]) for i in range(32)],
        "uid long, index long, vector array<double>",
    )
    eng = SparkLSH(spark, LSHConfig(num_tables=4)).index(docs, cache=False)
    path = str(tmp_path / "buckets")
    eng.buckets.write.partitionBy("row_index").parquet(path)
    stored = spark.read.parquet(path)

    queries = spark.createDataFrame(
        [(0, 0, [1.0, 1.0, -1.0]), (1, 7200, [2.0, 1.0, -1.0])],
        "query_id long, index long, vector array<double>",
    )
    res = S.search(
        queries, stored, eng.forward, eng.cfg, eng.planes,
        SearchOptions(max_lag=900, threshold=0.0),
    )
    plan = explain_str(res.candidates, "formatted")
    assert "PartitionFilters: [" in plan
    # the literal range must actually appear (not an empty pushdown list)
    assert "row_index" in plan.split("PartitionFilters")[1][:200]


def test_single_query_search_prunes_partitions_without_python(spark, tmp_path):
    """SparkLSH.search's plan (operators.search.search_vector) over a
    search table stored partitioned by row_index: the literal row range
    computed from the query index reaches the scan as PartitionFilters, the
    query is hashed on the driver -- no Arrow UDF in the plan -- and the
    plan is one scan, filter and ORDER BY .. LIMIT top-K."""
    from go_lsh_spark.config import LSHConfig, SearchOptions
    from go_lsh_spark.engine import SparkLSH
    from go_lsh_spark.operators import search as S

    docs = spark.createDataFrame(
        [(i, (i % 8) * 7200, [float(i % 5), 1.0, -1.0]) for i in range(32)],
        "uid long, index long, vector array<double>",
    )
    eng = SparkLSH(spark, LSHConfig(num_tables=4)).index(docs, merge_series=False, cache=False)
    path = str(tmp_path / "search_table")
    eng.search_table().write.partitionBy("row_index").parquet(path)
    stored = spark.read.parquet(path)

    res = S.search_vector(
        [2.0, 1.0, -1.0], 7200, stored, eng.cfg, eng.planes,
        SearchOptions(max_lag=900, threshold=0.0),
    )
    plan = explain_str(res.scores, "formatted")
    assert "PartitionFilters: [" in plan
    pruning = plan.split("PartitionFilters")[1][:200]
    # [7200 - 900, 7200 + 900] lies in row 7200 alone
    assert "row_index" in pruning and "7200" in pruning, pruning
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    # a point query: the bucket keys and the query vector are literals and
    # every candidate-side value is a table column, so there is no join, no
    # query relation and no shuffle, and top-K is ORDER BY .. LIMIT, not a
    # window
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "LocalTableScan" not in plan
    assert {r["index"] for r in res.scores.collect()} <= {7200}


def test_lsh_buckets_hash_each_document_once(spark):
    """The bucket plan evaluates the Arrow hash UDF once per document: no
    filter inferred from the explode may re-run it below the projection."""
    from go_lsh_spark.config import LSHConfig
    from go_lsh_spark.engine import SparkLSH

    docs = spark.createDataFrame(
        [(i, 0, [float(i), 1.0, -1.0]) for i in range(4)],
        "uid long, index long, vector array<double>",
    )
    eng = SparkLSH(spark, LSHConfig(num_tables=4)).index(docs, cache=False)
    plan = explain_str(eng.buckets, "formatted")
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)) == 1, plan
    assert eng.buckets.count() == 4 * 4


def test_candidate_pairs_plan_has_no_window(spark):
    """Bucket sizing must be a map-side-combined aggregate + join, never a
    window function: a window partition must fit one task, so a degenerate
    hot bucket would serialize before the salting could split it."""
    from go_lsh_spark.operators.dedup import candidate_pairs

    buckets = spark.createDataFrame(
        [("simhash", 0, i % 3, f"c{i}", i) for i in range(12)],
        "src string, band int, hash long, clip_id string, sig64 long",
    )
    plan = explain_str(candidate_pairs(buckets, DedupConfig()), "extended")
    assert "Window" not in plan
    assert "HashAggregate" in plan or "Aggregate" in plan


@pytest.mark.slow
def test_streaming_incremental_dedup(spark, tmp_path):
    """Microbatched near-dup detection must find the same cross-batch dup
    pairs the batch pipeline finds: a dup group split across microbatches
    is detected when its second member streams in."""
    from go_lsh_spark.operators.dedup import dedup_pipeline
    from go_lsh_spark.streaming.ingest import read_clip_stream, start_incremental_dedup

    res = synth_clips(n_clips=24, seed=7)
    clips, _ = clips_to_spark(spark, res)
    src = str(tmp_path / "clips_in")
    # several files -> several microbatches (maxFilesPerTrigger=1)
    clips.repartition(6).write.parquet(src)

    cfg = DedupConfig()
    stream = read_clip_stream(spark, src, max_files=1)
    q = start_incremental_dedup(stream, cfg, str(tmp_path / "out"), str(tmp_path / "ck"))
    q.awaitTermination(300)

    got = {
        tuple(sorted((r.clip_id_a, r.clip_id_b)))
        for r in spark.read.parquet(str(tmp_path / "out" / "verified_pairs"))
        .filter(F.col("audio_ok") | F.col("text_ok"))
        .collect()
    }
    batch = dedup_pipeline(spark, clips, cfg)
    expected = {
        tuple(sorted((r.clip_id_a, r.clip_id_b)))
        for r in batch.verified.filter(F.col("audio_ok") | F.col("text_ok")).collect()
    }
    assert expected, "degenerate fixture: batch pipeline found no dup pairs"
    assert got.issuperset(expected), expected - got

    # incremental cluster maintenance: after the last microbatch the
    # clusters table must equal the batch pipeline's assignments exactly
    # (same roots: the global min clip_id of each component)
    inc = {
        r.clip_id: r.cluster_id
        for r in read_clusters(spark, str(tmp_path / "out")).collect()
    }
    exp = {r.clip_id: r.cluster_id for r in batch.clusters.collect()}
    assert inc == exp

    # partition-pruned point lookup agrees (routed through read_clusters,
    # which must keep _cpart in its projection for pruning)
    from go_lsh_spark.streaming.ingest import cluster_of

    some_clip = next(iter(exp))
    assert cluster_of(spark, str(tmp_path / "out"), some_clip) == exp[some_clip]
    assert "_cpart" in read_clusters(spark, str(tmp_path / "out")).columns

    # the incremental winnow_df counts table must equal the true document
    # frequencies (one row per distinct fingerprint; winnow bucket rows are
    # unique per (hash, clip_id))
    truth = {
        r.hash: r.n
        for r in spark.read.parquet(str(tmp_path / "out" / "buckets"))
        .filter(F.col("src") == "winnow")
        .groupBy("hash")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got_df = {
        r.hash: r.df
        for r in spark.read.parquet(str(tmp_path / "out" / "winnow_df")).collect()
    }
    assert got_df == truth

    # per-batch telemetry was recorded (one line per microbatch) and the
    # per-batch reads stayed bounded by the batch's touched partitions
    metrics_path = tmp_path / "out" / "_batch_metrics.jsonl"
    records = [json.loads(line) for line in metrics_path.read_text().splitlines()]
    # in-stream compaction logs its own record without per-batch fields
    batch_records = [r for r in records if "wall_secs" in r]
    assert len(batch_records) >= 2
    assert all("touched_kparts" in r for r in batch_records)


@pytest.mark.slow
def test_streaming_incremental_dedup_at_scale(spark, tmp_path):
    """Incremental-vs-batch semantics at a size where bucket collisions and
    the winnow stop-gram cap genuinely span microbatches (r3 verdict #6):
    ~1.5k clips over 5 batches.

    The corpus-level df cap cannot be evaluated exactly online (a
    fingerprint crossing the cap in batch k already emitted pairs in
    batches < k), so the contract is two-part and both halves are pinned:
      1. live streaming state is a CO ARSENING of batch state -- every batch
         cluster sits inside exactly one streaming cluster (never split,
         never missed);
      2. reconcile() restores EXACT batch equality, and is idempotent.
    """
    from go_lsh_spark.operators.dedup import dedup_pipeline
    from go_lsh_spark.streaming.ingest import (
        read_clip_stream,
        reconcile,
        start_incremental_dedup,
    )

    res = synth_clips(n_clips=1500, seed=13)
    clips, _ = clips_to_spark(spark, res)
    src = str(tmp_path / "clips_in")
    clips.repartition(10).write.parquet(src)

    cfg = DedupConfig()
    stream = read_clip_stream(spark, src, max_files=1)
    q = start_incremental_dedup(stream, cfg, str(tmp_path / "out"), str(tmp_path / "ck"))
    q.awaitTermination(900)

    # measured per-batch cost flatness (r4 verdict #3): at fixed batch size
    # the per-batch WALL must not grow with batch index -- an O(corpus)-per-
    # batch term (the r3 scale-killer) compounds across 10 batches while the
    # pipeline's own work is constant. Shuffle/input BYTES at the sandbox
    # partition floors are not flat by design: a 150-clip batch carries
    # ~7.5k distinct bucket keys, which touch ALL 16 key partitions, so the
    # pruned state read legitimately covers the accumulated corpus here; at
    # the production derivation (key_parts from expected_corpus_rows,
    # test_partition_count_derivation) a batch touches a bounded fraction
    # and the read is O(batch keys x rows-per-partition). The byte-level
    # pruning law is pinned by test_pruned_state_read_bytes_track_fraction.
    metrics_path = tmp_path / "out" / "_batch_metrics.jsonl"
    records = sorted(
        (
            r
            for r in (
                json.loads(line)
                for line in metrics_path.read_text().splitlines()
            )
            # in-stream compaction logs its own record; the flatness claim
            # is about the per-batch processing cost
            if "wall_secs" in r
        ),
        key=lambda r: r["batch_id"],
    )
    assert len(records) >= 8
    # MIN of each window, not median: a co-tenant storm inflates walls but
    # never deflates them, so the minimum is the storm-robust estimator of
    # the true per-batch cost (the r5 in-suite flake was a median blown up
    # by a degraded window, passing in isolation)
    early = min(r["wall_secs"] for r in records[:4])
    late = min(r["wall_secs"] for r in records[-4:])
    if late > 1.6 * early:
        # a storm that starts MID-STREAM defeats even window minima (every
        # late-window batch is inflated; observed in-suite: 5.9s -> 9.6s
        # minima under a burn-0.72 window, passing isolated right after).
        # Apply the benches' protocol (r5 verdict: "gate it on the same
        # burn measurement"): measure the host burn NOW and skip the
        # flatness claim -- not the state-equality assertions below --
        # when the window is degraded. A real O(corpus) regression still
        # fails in any healthy window.
        from bench import BURN_REF_UNITS_PER_SEC, measure_host_burn

        eff = measure_host_burn() / BURN_REF_UNITS_PER_SEC
        assert eff < 0.9, (
            f"per-batch wall grew {early:.1f}s -> {late:.1f}s over "
            f"{len(records)} fixed-size batches in a HEALTHY window "
            f"(burn {eff:.2f}): "
            f"{[r['wall_secs'] for r in records]}"
        )
        import warnings

        warnings.warn(
            f"flatness assertion skipped: degraded host window "
            f"(burn {eff:.2f}); walls {[r['wall_secs'] for r in records]}",
            stacklevel=1,
        )

    batch = dedup_pipeline(spark, clips, cfg)
    exp = {r.clip_id: r.cluster_id for r in batch.clusters.collect()}
    assert len({v for v in exp.values()}) < len(exp), "degenerate: no dup groups"

    inc_live = {
        r.clip_id: r.cluster_id
        for r in read_clusters(spark, str(tmp_path / "out")).collect()
    }
    # 1. coarsening: clips the batch pipeline groups together are together
    #    in the live streaming state too (merges are a superset)
    batch_to_live = {}
    for clip, bcl in exp.items():
        live = inc_live[clip]
        assert batch_to_live.setdefault(bcl, live) == live, (
            f"batch cluster {bcl} split across live clusters"
        )

    # 2. reconcile -> exact equality, and the pass is idempotent
    stats = reconcile(spark, str(tmp_path / "out"), cfg)
    inc = {
        r.clip_id: r.cluster_id
        for r in read_clusters(spark, str(tmp_path / "out")).collect()
    }
    assert inc == exp
    stats2 = reconcile(spark, str(tmp_path / "out"), cfg)
    assert stats2["dropped_pairs"] == 0
    inc2 = {
        r.clip_id: r.cluster_id
        for r in read_clusters(spark, str(tmp_path / "out")).collect()
    }
    assert inc2 == exp

    # post-reconcile the stored pair SET equals the batch pipeline's
    got_pairs = {
        (r.clip_id_a, r.clip_id_b)
        for r in spark.read.parquet(str(tmp_path / "out" / "verified_pairs")).collect()
    }
    exp_pairs = {
        (r.clip_id_a, r.clip_id_b) for r in batch.verified.collect()
    }
    assert got_pairs == exp_pairs
    assert stats["suspect_pairs"] >= stats["dropped_pairs"]


def test_winnow_df_incremental_and_idempotent(spark, tmp_path):
    """The winnow document-frequency cap must be maintained incrementally:
    per-batch counts upsert into the winnow_df table (O(batch), partition-
    pruned) and a replayed batch must not double-count."""
    from go_lsh_spark.streaming.ingest import update_winnow_df

    out = str(tmp_path / "st")
    b1 = spark.createDataFrame([(100, 3), (200, 1)], "hash long, delta long")
    capped = update_winnow_df(spark, out, b1, 0, n_parts=8, max_df=4)
    assert capped.count() == 0
    b2 = spark.createDataFrame([(100, 2), (300, 1)], "hash long, delta long")
    capped = update_winnow_df(spark, out, b2, 1, n_parts=8, max_df=4)
    # 100 now has df 5 > 4 and is in this batch -> capped
    assert [r.hash for r in capped.collect()] == [100]
    # replay of batch 1: identical content, df must NOT double-count
    capped = update_winnow_df(spark, out, b2, 1, n_parts=8, max_df=4)
    got = {
        r.hash: r.df for r in spark.read.parquet(f"{out}/winnow_df").collect()
    }
    assert got == {100: 5, 200: 1, 300: 1}
    assert [r.hash for r in capped.collect()] == [100]


def test_streaming_state_reads_prune(spark, tmp_path):
    """Every per-batch read of accumulated state must partition-prune:
    winnow_df by _dfpart, buckets by (_batch_id, _kpart), signatures by
    _spart -- the per-batch plan reads the df table, never re-aggregates
    the accumulated buckets (r3 verdict #1)."""
    from go_lsh_spark.streaming.ingest import (
        _write_batch_partition,
        read_old_buckets,
        read_pair_signatures,
        read_winnow_partitions,
        update_winnow_df,
    )

    out = str(tmp_path / "st")
    counts = spark.createDataFrame(
        [(h, 1) for h in range(40)], "hash long, delta long"
    )
    update_winnow_df(spark, out, counts, 0, n_parts=16, max_df=4)
    plan = explain_str(read_winnow_partitions(spark, out, [3]), "formatted")
    assert "PartitionFilters: [" in plan
    assert "_dfpart" in plan.split("PartitionFilters")[1][:200]
    # the capped-set path must not touch the buckets table at all
    assert "/buckets" not in plan

    buckets = spark.createDataFrame(
        [("simhash", 0, h, f"c{h}", h, h % 4) for h in range(16)],
        "src string, band int, hash long, clip_id string, sig64 long, _kpart int",
    )
    _write_batch_partition(buckets, 0, f"{out}/buckets", extra_parts=("_kpart",))
    _write_batch_partition(buckets, 1, f"{out}/buckets", extra_parts=("_kpart",))
    old = read_old_buckets(spark, out, 1, [2])
    plan = explain_str(old, "formatted")
    frag = plan.split("PartitionFilters")[1][:300]
    assert "_kpart" in frag and "_batch_id" in frag
    # batch 1 excluded, only _kpart==2 rows of batch 0 remain
    assert old.count() == 4

    sigs = spark.createDataFrame(
        [(f"c{i}", i, i % 4) for i in range(8)],
        "clip_id string, sig64 long, _spart int",
    )
    _write_batch_partition(sigs, 0, f"{out}/signatures", extra_parts=("_spart",))
    plan = explain_str(read_pair_signatures(spark, out, [1, 2]), "formatted")
    assert "_spart" in plan.split("PartitionFilters")[1][:200]


@pytest.mark.slow
def test_winnow_df_empty_first_batch_and_empty_microbatch(spark, tmp_path):
    """Degenerate-input robustness: a first batch with NO winnow rows must
    not leave a schema-less winnow_df behind (empty partitioned writes are
    _SUCCESS-only), and a 0-row microbatch must be a no-op instead of
    writing file-less table partitions."""
    from go_lsh_spark.streaming.ingest import (
        read_clip_stream,
        start_incremental_dedup,
        update_winnow_df,
    )

    out = str(tmp_path / "st")
    empty = spark.createDataFrame([], "hash long, delta long")
    capped = update_winnow_df(spark, out, empty, 0, n_parts=8, max_df=4)
    assert capped.count() == 0
    b1 = spark.createDataFrame([(7, 2)], "hash long, delta long")
    capped = update_winnow_df(spark, out, b1, 1, n_parts=8, max_df=4)
    assert capped.count() == 0
    got = {r.hash: r.df for r in spark.read.parquet(f"{out}/winnow_df").collect()}
    assert got == {7: 2}

    # an EMPTY parquet input file -> a 0-row microbatch inside the stream
    res = synth_clips(n_clips=8, seed=3)
    clips, _ = clips_to_spark(spark, res)
    src = str(tmp_path / "clips_in")
    clips.repartition(2).write.parquet(src)
    clips.filter(F.lit(False)).coalesce(1).write.mode("append").parquet(src)

    cfg = DedupConfig()
    q = start_incremental_dedup(
        read_clip_stream(spark, src, max_files=1),
        cfg,
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    q.awaitTermination(300)
    assert (
        spark.read.parquet(str(tmp_path / "out" / "clusters")).count() == 8
    )


@pytest.mark.slow
def test_cluster_update_replay_after_partial_crash(spark, tmp_path):
    """The cluster_index is written BEFORE the clusters table so a crash
    between the two leaves the index a harmless superset. Simulate exactly
    that state (index updated, clusters rolled back) and replay: the batch
    must converge to the same assignments as the uninterrupted run."""
    import shutil

    from go_lsh_spark.streaming.ingest import _update_clusters

    root = str(tmp_path / "st")
    clips1 = spark.createDataFrame([(c,) for c in "abcd"], "clip_id string")
    edges1 = spark.createDataFrame([("a", "b")], "clip_id_a string, clip_id_b string")
    _update_clusters(spark, root, clips1, edges1, 0)

    # snapshot state before batch 2
    shutil.copytree(f"{root}/clusters", str(tmp_path / "clusters_pre"))
    clips2 = spark.createDataFrame([("e",)], "clip_id string")
    edges2 = spark.createDataFrame(
        [("b", "c"), ("d", "e")], "clip_id_a string, clip_id_b string"
    )
    _update_clusters(spark, root, clips2, edges2, 1)
    expected = {
        r.clip_id: r.cluster_id
        for r in read_clusters(spark, root).collect()
    }
    assert expected == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}

    # crash simulation: clusters rolled back to pre-batch-2, index KEEPS the
    # batch-2 update (the order the code writes them in)
    shutil.rmtree(f"{root}/clusters")
    shutil.copytree(str(tmp_path / "clusters_pre"), f"{root}/clusters")
    _update_clusters(spark, root, clips2, edges2, 1)  # replay
    got = {
        r.clip_id: r.cluster_id
        for r in read_clusters(spark, root).collect()
    }
    assert got == expected
    # index facts cover every (cluster, partition) that holds rows
    truth = {
        (r.cluster_id, r._cpart)
        for r in spark.read.parquet(f"{root}/clusters").collect()
    }
    idx = {
        (r.cluster_id, r.cpart)
        for r in spark.read.parquet(f"{root}/cluster_index").collect()
    }
    assert truth <= idx


def test_reconcile_without_verified_pairs_is_noop(spark, tmp_path):
    """reconcile on streaming state that never verified a pair (or never saw
    a winnow row) must return zeros, not crash on schema-less tables."""
    from go_lsh_spark.streaming.ingest import ensure_state_meta, reconcile

    out = str(tmp_path / "st")
    cfg = DedupConfig()
    ensure_state_meta(out, cfg)
    stats = reconcile(spark, out, cfg)
    assert stats == {
        "over_cap_fps": 0, "suspect_pairs": 0, "dropped_pairs": 0,
        "reclustered_clusters": 0,
    }


@pytest.mark.slow
def test_compact_appends_preserves_state_and_stream_resumes(spark, tmp_path):
    """LSM compaction of the per-batch append sinks: folding committed
    batches into one generation must (a) preserve the live row set exactly,
    (b) cut the file count, (c) leave superseded directories harmless
    (readers filter by generation, cleanup is lazy), and (d) let the stream
    RESUME on top of compacted state and still match the batch pipeline."""
    import shutil

    from go_lsh_spark.operators.dedup import dedup_pipeline
    from go_lsh_spark.streaming.ingest import (
        _live_rows,
        compact_appends,
        read_clip_stream,
        start_incremental_dedup,
    )

    res = synth_clips(n_clips=24, seed=7)
    clips, _ = clips_to_spark(spark, res)
    src = str(tmp_path / "clips_in")
    first, second = clips.filter(F.col("clip_id") < "clip_000016"), clips.filter(
        F.col("clip_id") >= "clip_000016"
    )
    first.repartition(4).write.parquet(src)

    cfg = DedupConfig()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_incremental_dedup(read_clip_stream(spark, src, 1), cfg, out, ck)
    q.awaitTermination(300)

    bpath = f"{out}/buckets"
    pre = {
        r: spark.read.parquet(f"{out}/{r}").filter(_live_rows(f"{out}/{r}")).count()
        for r in ("buckets", "signatures")
    }
    through = (
        spark.read.parquet(bpath).agg(F.max("_batch_id")).collect()[0][0]
    )
    # keep one batch dir aside to simulate lazy-cleanup garbage surviving.
    # Must be a NON-NEGATIVE batch partition: with in-stream compaction on
    # by default (stream_compact_every=4) the listing also contains live
    # generation dirs (_batch_id=-g) that sort first, survive the compact
    # below as merged tiers, and would make the copy-back collide -- the
    # garbage this simulates is a superseded *batch* dir, which compaction
    # always removes
    some_dir = next(
        d
        for d in sorted(__import__("os").listdir(bpath))
        if d.startswith("_batch_id=") and not d.startswith("_batch_id=-")
    )
    shutil.copytree(f"{bpath}/{some_dir}", str(tmp_path / "garbage"))

    stats = compact_appends(spark, out, int(through))
    assert stats["buckets"]["rows"] == pre["buckets"]
    assert stats["signatures"]["rows"] == pre["signatures"]

    # superseded dir restored after commit = crash-before-cleanup garbage;
    # the generation filter must keep it invisible
    shutil.copytree(str(tmp_path / "garbage"), f"{bpath}/{some_dir}")
    assert (
        spark.read.parquet(bpath).filter(_live_rows(bpath)).count()
        == pre["buckets"]
    )

    # stream resumes over the compacted state: later dups against
    # already-compacted clips must still be found
    second.repartition(2).write.mode("append").parquet(src)
    q = start_incremental_dedup(read_clip_stream(spark, src, 1), cfg, out, ck)
    q.awaitTermination(300)
    inc = {
        r.clip_id: r.cluster_id
        for r in read_clusters(spark, out).collect()
    }
    batch = dedup_pipeline(spark, clips, cfg)
    exp = {r.clip_id: r.cluster_id for r in batch.clusters.collect()}
    assert inc == exp


def test_state_meta_partition_mismatch_fails_loudly(spark, tmp_path):
    """Partition counts are baked into the on-disk layout: reopening an
    existing streaming output with different counts must raise, not
    silently mix pmod layouts (r3 verdict #4)."""
    import pytest as _pytest

    from go_lsh_spark.streaming.ingest import ensure_state_meta

    out = str(tmp_path / "st")
    ensure_state_meta(out, DedupConfig())
    ensure_state_meta(out, DedupConfig())  # same config: fine
    with _pytest.raises(ValueError, match="partition-count mismatch"):
        ensure_state_meta(out, DedupConfig(n_cluster_parts=32))


def test_partition_count_derivation():
    """0 = derive from expected_corpus_rows (power of two, floored for the
    sandbox); explicit knobs win."""
    cfg = DedupConfig()
    assert (cfg.cluster_parts, cfg.df_parts) == (64, 32)
    big = DedupConfig(expected_corpus_rows=10**12)
    assert big.cluster_parts == 1 << 14  # 10^12 clips / 10^8 rows per part
    assert big.cluster_parts * 100_000_000 >= 10**12
    explicit = DedupConfig(n_cluster_parts=128, expected_corpus_rows=10**12)
    assert explicit.cluster_parts == 128


@pytest.mark.slow
def test_streaming_replay_idempotent(spark, tmp_path):
    """A replayed microbatch (same _batch_id) must not duplicate rows in the
    append sinks, and re-applying a cluster merge must be a no-op."""
    from go_lsh_spark.streaming.ingest import _update_clusters, _write_batch_partition

    df = spark.createDataFrame([(i, f"c{i}") for i in range(8)], "v long, clip_id string")
    out = str(tmp_path / "tbl")
    _write_batch_partition(df, 3, out)
    _write_batch_partition(df, 3, out)  # replay: overwrites its own partition
    assert spark.read.parquet(out).count() == 8
    _write_batch_partition(df, 4, out)  # a new batch appends
    assert spark.read.parquet(out).count() == 16

    clips1 = spark.createDataFrame([("a",), ("b",), ("c",)], "clip_id string")
    edges1 = spark.createDataFrame([("a", "b")], "clip_id_a string, clip_id_b string")
    root = str(tmp_path / "st")
    _update_clusters(spark, root, clips1, edges1, 0)
    clips2 = spark.createDataFrame([("d",)], "clip_id string")
    edges2 = spark.createDataFrame([("b", "c"), ("c", "d")], "clip_id_a string, clip_id_b string")
    for _ in range(2):  # second application = replay, must converge identically
        _update_clusters(spark, root, clips2, edges2, 1)
        got = {
        r.clip_id: r.cluster_id
        for r in read_clusters(spark, root).collect()
    }
        assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def _build_reconcile_state(spark, out, cfg, with_survivor_batch):
    """Hand-built streaming state where batch 0's ONLY verified pair is
    stop-gram-induced: fingerprint H is over the final df cap, the pair's
    recomputed winnow evidence vanishes, and reconcile must drop it AND
    clear the now-empty _batch_id=0 partition (dynamic overwrite alone
    rewrites only partitions present in the output -- r4 ADVICE high)."""
    from go_lsh_spark.streaming.ingest import (
        _hash_part,
        _update_clusters,
        _write_batch_partition,
        ensure_state_meta,
        update_winnow_df,
    )

    ensure_state_meta(out, cfg)
    H = 12345
    counts = spark.createDataFrame(
        [(H, cfg.winnow_max_df + 1)], "hash long, delta long"
    )
    update_winnow_df(
        spark, out, counts, 0, n_parts=cfg.df_parts, max_df=cfg.winnow_max_df
    )
    buckets = spark.createDataFrame(
        [("winnow", 0, H, "x", 0), ("winnow", 0, H, "y", 0)],
        "src string, band int, hash long, clip_id string, sig64 long",
    ).withColumn(
        "_kpart", _hash_part(F.xxhash64("src", "band", "hash"), cfg.key_parts)
    )
    _write_batch_partition(buckets, 0, f"{out}/buckets", extra_parts=("_kpart",))
    sig_rows = [("x", [H]), ("y", [H])]
    if with_survivor_batch:
        sig_rows += [("p", []), ("q", [])]
    sigs = spark.createDataFrame(
        sig_rows, "clip_id string, winnow array<long>"
    ).withColumn("_spart", _hash_part(F.col("clip_id"), cfg.sig_parts))
    _write_batch_partition(sigs, 0, f"{out}/signatures", extra_parts=("_spart",))
    vp_schema = (
        "clip_id_a string, clip_id_b string, from_simhash int, from_minhash int, "
        "from_winnow int, hamming int, score double, jaccard_est double, "
        "audio_ok boolean, text_ok boolean, lcs_len int"
    )
    vp0 = spark.createDataFrame(
        [("x", "y", 0, 0, 1, None, None, None, False, False, 40)], vp_schema
    )
    _write_batch_partition(vp0, 0, f"{out}/verified_pairs")
    clips = [("x",), ("y",)]
    edges = [("x", "y")]
    if with_survivor_batch:
        vp1 = spark.createDataFrame(
            [("p", "q", 1, 0, 0, 0, 0.99, None, True, False, None)], vp_schema
        )
        _write_batch_partition(vp1, 1, f"{out}/verified_pairs")
        clips += [("p",), ("q",)]
        edges += [("p", "q")]
    _update_clusters(
        spark,
        out,
        spark.createDataFrame(clips, "clip_id string"),
        spark.createDataFrame(edges, "clip_id_a string, clip_id_b string"),
        1,
        n_parts=cfg.cluster_parts,
    )


def test_reconcile_clears_batch_partition_with_no_survivors(spark, tmp_path):
    """A microbatch whose EVERY verified pair is stop-gram-induced: reconcile
    must physically clear its verified_pairs partition (a dynamic overwrite
    with zero surviving rows never rewrites it), so the re-cluster actually
    splits the merged cluster instead of re-reading the dropped pair."""
    import os

    from go_lsh_spark.streaming.ingest import reconcile

    out = str(tmp_path / "st")
    cfg = DedupConfig()
    _build_reconcile_state(spark, out, cfg, with_survivor_batch=True)

    stats = reconcile(spark, out, cfg)
    assert stats["dropped_pairs"] == 1
    assert stats["reclustered_clusters"] == 1
    # the survivor-less batch partition is gone from disk
    assert not os.path.exists(f"{out}/verified_pairs/_batch_id=0")
    vp = spark.read.parquet(f"{out}/verified_pairs")
    assert [(r.clip_id_a, r.clip_id_b) for r in vp.collect()] == [("p", "q")]
    # the stop-gram merge is actually undone
    got = {
        r.clip_id: r.cluster_id
        for r in read_clusters(spark, out).collect()
    }
    assert got == {"x": "x", "y": "y", "p": "p", "q": "p"}
    # idempotent
    stats2 = reconcile(spark, out, cfg)
    assert stats2["dropped_pairs"] == 0
    got2 = {
        r.clip_id: r.cluster_id
        for r in read_clusters(spark, out).collect()
    }
    assert got2 == got


def test_reconcile_when_every_stored_pair_drops(spark, tmp_path):
    """Degenerate blast radius: the ONLY pair in the whole verified_pairs
    table drops -> the table ends file-less; the re-cluster must still run
    (empty edge set) and a second reconcile must be a clean no-op."""
    from go_lsh_spark.streaming.ingest import _has_parquet, reconcile

    out = str(tmp_path / "st")
    cfg = DedupConfig()
    _build_reconcile_state(spark, out, cfg, with_survivor_batch=False)

    stats = reconcile(spark, out, cfg)
    assert stats["dropped_pairs"] == 1
    assert not _has_parquet(f"{out}/verified_pairs")
    got = {
        r.clip_id: r.cluster_id
        for r in read_clusters(spark, out).collect()
    }
    assert got == {"x": "x", "y": "y"}
    stats2 = reconcile(spark, out, cfg)
    assert stats2["dropped_pairs"] == 0


def test_update_clusters_creation_crash_and_missing_index(spark, tmp_path):
    """Creation-branch crash safety (r4 ADVICE #2): the index is written
    BEFORE the clusters table and the branch gates on a COMMITTED clusters
    table, so (a) a crash between the two writes replays through the
    creation branch, (b) a partial clusters write (no _SUCCESS) does too,
    and (c) a clusters table missing its index (legacy order) rebuilds the
    index instead of wedging the incremental branch."""
    import os
    import shutil

    from go_lsh_spark.streaming.ingest import _update_clusters

    root = str(tmp_path / "st")
    clips1 = spark.createDataFrame([(c,) for c in "abcd"], "clip_id string")
    edges1 = spark.createDataFrame(
        [("a", "b")], "clip_id_a string, clip_id_b string"
    )
    _update_clusters(spark, root, clips1, edges1, 0)
    expected1 = {"a": "a", "b": "a", "c": "c", "d": "d"}

    # (a) crash between index write and clusters write: index committed,
    # clusters directory exists but is empty (Spark creates it at start)
    shutil.rmtree(f"{root}/clusters")
    os.makedirs(f"{root}/clusters")
    _update_clusters(spark, root, clips1, edges1, 0)
    got = {
        r.clip_id: r.cluster_id
        for r in read_clusters(spark, root).collect()
    }
    assert got == expected1

    # (b) partial clusters write: data files present but no _SUCCESS
    os.remove(f"{root}/clusters/_SUCCESS")
    _update_clusters(spark, root, clips1, edges1, 0)
    got = {
        r.clip_id: r.cluster_id
        for r in read_clusters(spark, root).collect()
    }
    assert got == expected1

    # (c) committed clusters, missing index -> rebuild fallback, then the
    # incremental merge proceeds normally
    shutil.rmtree(f"{root}/cluster_index")
    clips2 = spark.createDataFrame([("e",)], "clip_id string")
    edges2 = spark.createDataFrame(
        [("b", "c")], "clip_id_a string, clip_id_b string"
    )
    _update_clusters(spark, root, clips2, edges2, 1)
    got = {
        r.clip_id: r.cluster_id
        for r in read_clusters(spark, root).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "e"}
    truth = {
        (r.cluster_id, r._cpart)
        for r in spark.read.parquet(f"{root}/clusters").collect()
    }
    idx = {
        (r.cluster_id, r.cpart)
        for r in spark.read.parquet(f"{root}/cluster_index").collect()
    }
    assert truth <= idx


def test_cli_compact_watermark_safety(spark, tmp_path, capsys):
    """`compact --through-batch -1` derivation (r4 ADVICE #3): no-op on an
    empty table (not int(None) TypeError), never derives a regressing
    watermark from generation ids after cleanup, and an explicit regressing
    through_batch is rejected loudly."""
    from go_lsh_spark import cli
    from go_lsh_spark.streaming.ingest import (
        _read_compaction,
        _write_batch_partition,
        compact_appends,
    )

    out = str(tmp_path / "st")
    rc = cli.main(["compact", "--out", out])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {}

    df = spark.createDataFrame(
        [(i, f"c{i}", i % 4) for i in range(8)],
        "v long, clip_id string, _kpart int",
    )
    _write_batch_partition(df, 0, f"{out}/buckets", extra_parts=("_kpart",))
    _write_batch_partition(df, 1, f"{out}/buckets", extra_parts=("_kpart",))
    stats = compact_appends(spark, out, 1)
    assert stats["buckets"]["rows"] == 16

    # only the generation dir remains now: auto-derivation must hold the
    # watermark at 1, not regress it to max(_batch_id) = -1
    rc = cli.main(["compact", "--out", out])
    assert rc == 0
    capsys.readouterr()
    assert _read_compaction(f"{out}/buckets")["compacted_through"] == 1
    from pyspark.sql import functions as _F
    from go_lsh_spark.streaming.ingest import _live_rows

    live = spark.read.parquet(f"{out}/buckets").filter(
        _live_rows(f"{out}/buckets")
    )
    assert live.count() == 16

    with pytest.raises(ValueError, match="watermark regression"):
        compact_appends(spark, out, 0)


def test_tiered_compaction_bounds_write_amplification(spark, tmp_path):
    """Size-tiered compaction (r4 verdict #2): when the newly arrived data
    is small relative to the existing generation, a compaction run must
    rewrite ONLY the small tier -- bytes rewritten a small fraction of the
    table -- and absorb tiers only when they are size-comparable. The live
    row set is preserved across every fold."""
    from go_lsh_spark.streaming.ingest import (
        _live_rows,
        _write_batch_partition,
        compact_appends,
    )

    out = str(tmp_path / "st")
    bpath = f"{out}/buckets"

    def rows(batch, n, start=0):
        df = spark.createDataFrame(
            [(start + i, f"c{start + i}", (start + i) % 4) for i in range(n)],
            "v long, clip_id string, _kpart int",
        )
        _write_batch_partition(df, batch, bpath, extra_parts=("_kpart",))

    def live_set():
        return {
            r.v
            for r in spark.read.parquet(bpath).filter(_live_rows(bpath)).collect()
        }

    # big first tier: 2000 rows over batches 0-3
    for b in range(4):
        rows(b, 500, start=b * 500)
    s1 = compact_appends(spark, out, 3)["buckets"]
    assert s1["rows"] == 2000
    assert s1["rewritten_rows"] == 2000
    assert s1["generations"] == [1]

    # small second tier: 20 rows -> must NOT rewrite the 2000-row generation
    rows(4, 20, start=10_000)
    s2 = compact_appends(spark, out, 4)["buckets"]
    assert s2["rows"] == 2020
    assert s2["rewritten_rows"] == 20
    assert s2["generations"] == [1, 2]
    assert s2["rewritten_bytes"] < 0.5 * s2["total_bytes"], s2
    assert live_set() == set(range(2000)) | {10_000 + i for i in range(20)}

    # another small tier: absorbs the size-comparable gen 2 (20 <= 3x20)
    # but still not the big gen 1 (2000 > 3x40)
    rows(5, 20, start=20_000)
    s3 = compact_appends(spark, out, 5)["buckets"]
    assert s3["rows"] == 2040
    assert s3["rewritten_rows"] == 40
    assert sorted(s3["generations"]) == [1, 3]
    assert live_set() == (
        set(range(2000))
        | {10_000 + i for i in range(20)}
        | {20_000 + i for i in range(20)}
    )

    # re-run at the same watermark: nothing new -> pure no-op, watermark holds
    s4 = compact_appends(spark, out, 5)["buckets"]
    assert s4["rewritten_rows"] == 0
    assert sorted(s4["generations"]) == [1, 3]
    assert live_set() == (
        set(range(2000))
        | {10_000 + i for i in range(20)}
        | {20_000 + i for i in range(20)}
    )


def test_tiered_compaction_generation_cap(spark, tmp_path):
    """The live-generation count is capped: tiers too large for the ratio
    rule still fold (smallest first) once max_generations would be
    exceeded, bounding read amplification."""
    from go_lsh_spark.streaming.ingest import (
        _live_rows,
        _write_batch_partition,
        compact_appends,
    )

    out = str(tmp_path / "st")
    bpath = f"{out}/buckets"
    total = set()
    # geometric-ish tiers that the ratio rule would keep separate forever
    sizes = [640, 160, 40, 10, 10]
    start = 0
    for b, n in enumerate(sizes):
        df = spark.createDataFrame(
            [(start + i, f"c{start + i}", (start + i) % 4) for i in range(n)],
            "v long, clip_id string, _kpart int",
        )
        _write_batch_partition(df, b, bpath, extra_parts=("_kpart",))
        total |= {start + i for i in range(n)}
        start += 10_000
        stats = compact_appends(
            spark, out, b, merge_ratio=1.01, max_generations=3
        )["buckets"]
        assert len(stats["generations"]) <= 3
    got = {
        r.v for r in spark.read.parquet(bpath).filter(_live_rows(bpath)).collect()
    }
    assert got == total


def test_pruned_state_read_bytes_track_fraction(spark, tmp_path):
    """The load-bearing streaming cost law, MEASURED at the I/O level (not
    just plan-asserted): reading the accumulated buckets sink pruned to a
    small set of key partitions must scan proportionally fewer bytes than a
    full read -- the term that makes per-batch cost O(batch keys x
    rows-per-partition) instead of O(corpus) once partition counts are
    derived from the corpus size."""
    from go_lsh_spark.sources.catalog import _shuffle_totals
    from go_lsh_spark.streaming.ingest import _write_batch_partition, read_old_buckets

    out = str(tmp_path / "st")
    n_parts = 64
    rows = [
        ("simhash", 0, h, f"c{h}", h, h % n_parts) for h in range(20_000)
    ]
    df = spark.createDataFrame(
        rows, "src string, band int, hash long, clip_id string, sig64 long, _kpart int"
    )
    for b in range(3):
        _write_batch_partition(df, b, f"{out}/buckets", extra_parts=("_kpart",))

    def scan_bytes(reader):
        # force every column through the action (count() would let the scan
        # prune payload columns and zero out the signal)
        before = _shuffle_totals(spark, max_stages=None)
        reader.agg(
            F.bit_xor(F.xxhash64(*reader.columns)).alias("x")
        ).collect()
        after = _shuffle_totals(spark, max_stages=None)
        if not (before and after):
            pytest.skip("AppStatusStore metrics unavailable")
        return after["input_bytes"] - before["input_bytes"]

    full = scan_bytes(read_old_buckets(spark, out, 99, list(range(n_parts))))
    pruned = scan_bytes(read_old_buckets(spark, out, 99, [3, 17, 41, 60]))
    assert full > 0
    # 4/64 partitions = 6.25% of the data; allow generous per-file overhead
    assert pruned <= 0.25 * full, (pruned, full)


def test_in_stream_periodic_compaction(spark, tmp_path):
    """compact_every=N folds the append sinks mid-stream (through the
    previous, committed batch): generations must exist after the drain, the
    live row set must be exactly the corpus's, and the final clusters must
    still match the batch pipeline."""
    from go_lsh_spark.operators.dedup import dedup_pipeline
    from go_lsh_spark.streaming.ingest import (
        _live_rows,
        _read_compaction,
        read_clip_stream,
        start_incremental_dedup,
    )

    res = synth_clips(n_clips=24, seed=7)
    clips, _ = clips_to_spark(spark, res)
    src = str(tmp_path / "clips_in")
    clips.repartition(6).write.parquet(src)

    cfg = DedupConfig()
    out = str(tmp_path / "out")
    q = start_incremental_dedup(
        read_clip_stream(spark, src, 1), cfg, out, str(tmp_path / "ck"),
        compact_every=2,
    )
    q.awaitTermination(600)

    comp = _read_compaction(f"{out}/buckets")
    assert comp is not None and comp["generations"], comp
    # folded through the batch before the last compaction trigger
    assert comp["compacted_through"] >= 2
    sigs = spark.read.parquet(f"{out}/signatures").filter(
        _live_rows(f"{out}/signatures")
    )
    assert sigs.select("clip_id").distinct().count() == 24

    inc = {
        r.clip_id: r.cluster_id
        for r in read_clusters(spark, out).collect()
    }
    exp = {
        r.clip_id: r.cluster_id
        for r in dedup_pipeline(spark, clips, cfg).clusters.collect()
    }
    assert inc == exp
    # the compaction telemetry made it into the batch metrics
    lines = [
        json.loads(line)
        for line in (tmp_path / "out" / "_batch_metrics.jsonl").read_text().splitlines()
    ]
    assert any("compaction" in r for r in lines)


def _cell_files(root):
    """{relative parquet path: mtime} for every data file under a table."""
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(dirpath, fn)
                out[os.path.relpath(p, root)] = os.path.getmtime(p)
    return out


def test_cluster_cells_append_only_and_pruned_lookup(spark, tmp_path):
    """The clusters table is cell-partitioned (_cpart x _batch_id): a batch
    with no cross-batch merges APPENDS its own cells and leaves every prior
    cell file byte-identical on disk (the O(batch) claim at the filesystem
    level -- the previous layout rewrote every partition the batch's clip
    hashes touched, i.e. all of them). Cross-batch merges rewrite ONLY
    cells inside the index-derived rectangle plus the batch's own cells.
    The endpoint lookup partition-prunes by _cpart AND pushes an
    In(clip_id) literal into the parquet scan."""
    from go_lsh_spark.streaming.ingest import (
        _lookup_assignments,
        _update_clusters,
    )

    root = str(tmp_path / "st")
    clips0 = spark.createDataFrame([(c,) for c in "abcd"], "clip_id string")
    edges0 = spark.createDataFrame([("a", "b")], "clip_id_a string, clip_id_b string")
    _update_clusters(spark, root, clips0, edges0, 0)
    pre = _cell_files(f"{root}/clusters")

    # batch 1: no cross-batch merge -> pure append
    clips1 = spark.createDataFrame([(c,) for c in "efgh"], "clip_id string")
    edges1 = spark.createDataFrame([("e", "f")], "clip_id_a string, clip_id_b string")
    _update_clusters(spark, root, clips1, edges1, 1)
    post = _cell_files(f"{root}/clusters")
    assert all(post[p] == m for p, m in pre.items()), "prior cells were rewritten"
    assert any("_batch_id=1" in p for p in post), "batch 1 cells missing"

    # pruned point lookup: partition filter on _cpart, In(clip_id) pushed
    keys = spark.createDataFrame([("b",), ("e",)], "clip_id string")
    got = {
        r.clip_id: r.cluster_id
        for r in _lookup_assignments(spark, f"{root}/clusters", keys, 64).collect()
    }
    assert got == {"b": "a", "e": "e"}
    plan = explain_str(_lookup_assignments(spark, f"{root}/clusters", keys, 64), "formatted")
    frag = plan.split("PartitionFilters")[1][:300]
    assert "_cpart" in frag
    assert "clip_id" in plan.split("PushedFilters")[1][:300]

    # batch 2: merge across batches (b in cluster a, e in cluster e) -- the
    # only prior cells allowed to change are those the index lists for the
    # merging ids (rectangle), everything else stays byte-identical
    from go_lsh_spark.streaming.ingest import _cpart as cpart_col

    idx = spark.read.parquet(f"{root}/cluster_index")
    cells = {
        (r.cpart, r._batch_id)
        for r in idx.filter(F.col("cluster_id").isin(["a", "e"])).collect()
    }
    cps = {c for c, _b in cells}
    bps = {b for _c, b in cells}
    pre2 = _cell_files(f"{root}/clusters")
    clips2 = spark.createDataFrame([("i",)], "clip_id string")
    edges2 = spark.createDataFrame([("b", "e")], "clip_id_a string, clip_id_b string")
    _update_clusters(spark, root, clips2, edges2, 2)
    post2 = _cell_files(f"{root}/clusters")
    for p, m in pre2.items():
        if p in post2 and post2[p] != m:
            import re as _re

            cp = int(_re.search(r"_cpart=(\d+)", p).group(1))
            bp = int(_re.search(r"_batch_id=(-?\d+)", p).group(1))
            assert cp in cps and bp in bps, f"cell outside merge rectangle rewritten: {p}"
    got = {
        r.clip_id: r.cluster_id
        for r in read_clusters(spark, root).collect()
    }
    assert got == {
        "a": "a", "b": "a", "c": "c", "d": "d",
        "e": "a", "f": "a", "g": "g", "h": "h", "i": "i",
    }


@pytest.mark.slow
def test_compact_clusters_folds_cells_and_index_in_lockstep(spark, tmp_path):
    """compact_clusters folds committed cluster cells into a generation and
    regenerates the index facts from the folded rows: live assignments are
    exactly preserved, facts reference the generation cells, superseded
    dirs are cleaned, and a LATER merge touching a folded cluster finds and
    rewrites the generation cell through the index."""
    from go_lsh_spark.streaming.ingest import (
        _update_clusters,
        compact_clusters,
        ensure_state_meta,
        read_clusters,
    )

    root = str(tmp_path / "st")
    ensure_state_meta(root, DedupConfig())
    for b, (clips, edges) in enumerate([
        ("abcd", [("a", "b")]),
        ("efgh", [("e", "f"), ("b", "c")]),
        ("ijkl", [("i", "j")]),
    ]):
        _update_clusters(
            spark,
            root,
            spark.createDataFrame([(c,) for c in clips], "clip_id string"),
            spark.createDataFrame(edges, "clip_id_a string, clip_id_b string"),
            b,
        )
    before = {r.clip_id: r.cluster_id for r in read_clusters(spark, root).collect()}
    stats = compact_clusters(spark, root, 2)
    assert stats["clusters"]["generations"] == [1]
    after = {r.clip_id: r.cluster_id for r in read_clusters(spark, root).collect()}
    assert after == before
    # every live fact references the generation cell; batch dirs are gone
    idx = spark.read.parquet(f"{root}/cluster_index")
    assert {r._batch_id for r in idx.collect()} == {-1}
    assert all("_batch_id=-1" in p for p in _cell_files(f"{root}/clusters"))

    # a later merge joining the FOLDED e-cluster to the a-cluster: the index
    # must route the rewrite to the generation cell holding e/f's rows
    _update_clusters(
        spark,
        root,
        spark.createDataFrame([("m",)], "clip_id string"),
        spark.createDataFrame(
            [("m", "e"), ("m", "b")], "clip_id_a string, clip_id_b string"
        ),
        3,
    )
    got = {r.clip_id: r.cluster_id for r in read_clusters(spark, root).collect()}
    exp = dict(before, m="a")
    exp["e"] = "a"
    exp["f"] = "a"
    assert got == exp

    # second compaction with a tiny new tier and merge_ratio below the
    # absorb threshold: the big generation must NOT be rewritten (bounded
    # write amplification), leaving two live generations
    pre = _cell_files(f"{root}/clusters")
    gen1_files = {p: m for p, m in pre.items() if "_batch_id=-1" in p}
    stats2 = compact_clusters(spark, root, 3, merge_ratio=0.5)
    assert sorted(stats2["clusters"]["generations"]) == [1, 2]
    post = _cell_files(f"{root}/clusters")
    changed_gen1 = [p for p, m in gen1_files.items() if post.get(p) != m]
    assert changed_gen1 == [], f"generation 1 rewritten: {changed_gen1}"
    got2 = {r.clip_id: r.cluster_id for r in read_clusters(spark, root).collect()}
    assert got2 == exp
