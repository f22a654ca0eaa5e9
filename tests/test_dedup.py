"""End-to-end dedup pipeline: recall gate vs the reference-semantics oracle,
cluster correctness vs ground truth, skew path, checkpoint/resume.

The BASELINE.json gate: dup-pair recall >= 0.99 against the reference's
bucket+score semantics at identical signature config. Oracle dup-pairs =
(pairs sharing any LSH bucket under the SAME seeded planes)
∩ (|Pearson(features)| via POS >= threshold) -- computed brute-force in
numpy (go_lsh_spark.oracle). With identical planes the pipeline's bucket
join is exact, so recall must be 1.0.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from go_lsh_spark.config import DedupConfig
from go_lsh_spark.functions.audio import decode_wav, envelope_features
from go_lsh_spark.hyperplanes import PlaneSet
from go_lsh_spark.operators.dedup import dedup_pipeline
from go_lsh_spark.oracle import lsh_candidate_pairs_oracle, pearson
from go_lsh_spark.sources.catalog import Warehouse
from go_lsh_spark.sources.synth import clips_to_spark, synth_clips

N_CLIPS = 120
SEED = 42


@pytest.fixture(scope="module")
def corpus():
    return synth_clips(n_clips=N_CLIPS, seed=SEED)


@pytest.fixture(scope="module")
def cfg():
    return DedupConfig()


@pytest.fixture(scope="module")
def oracle_state(corpus, cfg):
    """Numpy-side features + reference-semantics dup pairs."""
    feats, ids = [], []
    for _, row in corpus.clips.iterrows():
        pcm, _ = decode_wav(row["bytes"])
        feats.append(envelope_features(pcm, cfg.feature_dim))
        ids.append(row["clip_id"])
    feats = np.array(feats)
    planes = PlaneSet(cfg.lsh_config())
    uids = np.arange(len(ids))
    bucket_pairs = lsh_candidate_pairs_oracle(
        cfg.lsh_config(), planes, uids, feats, center=cfg.center_features
    )
    dup_pairs = set()
    for i, j in bucket_pairs:
        s = pearson(feats[i], feats[j])
        if not np.isnan(s) and s >= cfg.threshold:  # POS predicate
            dup_pairs.add(tuple(sorted((ids[i], ids[j]))))
    return {"ids": ids, "features": feats, "dup_pairs": dup_pairs}


@pytest.fixture(scope="module")
def result(spark, corpus, cfg):
    df, _ = clips_to_spark(spark, corpus)
    return dedup_pipeline(spark, df, cfg)


def test_recall_gate(result, oracle_state, cfg):
    got = {
        tuple(sorted((r.clip_id_a, r.clip_id_b)))
        for r in result.verified.filter(
            F.col("audio_ok") & (F.col("hamming") <= cfg.max_hamming)
        ).collect()
    }
    expected = oracle_state["dup_pairs"]
    assert expected, "oracle produced no dup pairs -- fixture is degenerate"
    # hamming pre-filter can only drop pairs the oracle ALSO bucket-joins,
    # and identical sigs have hamming 0 <= max_hamming; compute recall
    missed = expected - got
    recall = 1.0 - len(missed) / len(expected)
    assert recall >= 0.99, f"recall {recall}: missed {sorted(missed)[:5]}"


def test_in_group_clips_cluster_together(result, corpus, oracle_state, cfg):
    clusters = {r.clip_id: r.cluster_id for r in result.clusters.collect()}
    assert len(clusters) == N_CLIPS
    # ground truth groups whose members are mutually Pearson-similar must
    # land in one cluster (audio path); groups are also transcript-similar
    truth = corpus.truth
    feats = {cid: f for cid, f in zip(oracle_state["ids"], oracle_state["features"])}
    for gid, grp in truth.groupby("group_id"):
        ids = list(grp.clip_id)
        if len(ids) < 2:
            continue
        base = ids[0]
        for other in ids[1:]:
            s = pearson(feats[base], feats[other])
            if s >= cfg.threshold:
                assert clusters[base] == clusters[other], (base, other, s)


def test_clusters_refine_allowed_graph(result, corpus):
    """Every pipeline cluster must stay inside one component of the
    'allowed' graph: in-group near-dup edges plus the deliberately-planted
    cross-group substring pairs (those SHOULD merge groups -- that's the
    suffix-array path working)."""

    class UF:
        def __init__(self):
            self.p = {}

        def find(self, x):
            self.p.setdefault(x, x)
            while self.p[x] != x:
                self.p[x] = self.p[self.p[x]]
                x = self.p[x]
            return x

        def union(self, a, b):
            ra, rb = self.find(a), self.find(b)
            if ra != rb:
                self.p[max(ra, rb)] = min(ra, rb)

    uf = UF()
    for _, grp in corpus.truth.groupby("group_id"):
        ids = list(grp.clip_id)
        for other in ids[1:]:
            uf.union(ids[0], other)
    for _, row in corpus.substring_pairs.iterrows():
        uf.union(row.clip_id_a, row.clip_id_b)

    clusters = {r.clip_id: r.cluster_id for r in result.clusters.collect()}
    from collections import defaultdict

    members = defaultdict(list)
    for cid, cl in clusters.items():
        members[cl].append(cid)
    for cl, ids in members.items():
        roots = {uf.find(c) for c in ids}
        assert len(roots) == 1, f"cluster {cl} spans allowed components: {ids[:6]}"


def test_substring_pairs_found(result, corpus, cfg):
    if corpus.substring_pairs.empty:
        pytest.skip("no substring pairs synthesized")
    verified = {
        tuple(sorted((r.clip_id_a, r.clip_id_b))): r
        for r in result.verified.collect()
    }
    found = 0
    for _, row in corpus.substring_pairs.iterrows():
        key = tuple(sorted((row.clip_id_a, row.clip_id_b)))
        if key in verified:
            found += 1
    # substring pairs share >= 1/3 of tokens as a contiguous run; the
    # minhash bands must surface them as candidates and the lcs or jaccard
    # evidence must verify them
    assert found >= len(corpus.substring_pairs) * 0.5, (
        found, len(corpus.substring_pairs))


@pytest.mark.slow
def test_hot_bucket_salting_preserves_pairs(spark, corpus):
    """Force every bucket through the salted triangle path and require the
    identical pair set as the plain path."""
    df, _ = clips_to_spark(spark, corpus)
    cfg_plain = DedupConfig()
    cfg_salted = DedupConfig(max_bucket_size=1, salt_factor=4)
    plain = dedup_pipeline(spark, df, cfg_plain)
    salted = dedup_pipeline(spark, df, cfg_salted)
    p = {(r.clip_id_a, r.clip_id_b) for r in plain.pairs.collect()}
    s = {(r.clip_id_a, r.clip_id_b) for r in salted.pairs.collect()}
    assert p == s


def test_empty_transcripts_carry_no_text_evidence(spark, corpus, cfg):
    """Clips with missing transcripts must NOT collide in MinHash buckets or
    pass text verification: the empty-shingle sentinel signature would
    otherwise put every transcript-less clip in one bucket with
    jaccard_estimate == 1.0 (round-1 ADVICE finding)."""
    df, _ = clips_to_spark(spark, corpus)
    blank = df.withColumn("transcript", F.lit(""))
    res = dedup_pipeline(spark, blank, cfg)
    assert res.pairs.filter(F.col("from_minhash") == 1).count() == 0
    assert res.verified.filter(F.col("text_ok")).count() == 0


@pytest.mark.slow
def test_warehouse_invalidates_on_new_input(spark, corpus, cfg, tmp_path):
    """Same warehouse, different input identity -> stages must NOT resume."""
    df, _ = clips_to_spark(spark, corpus)
    root = str(tmp_path / "wh_inp")
    wh1 = Warehouse(spark, root)
    dedup_pipeline(spark, df, cfg, warehouse=wh1, input_id="corpus-v1")
    wh2 = Warehouse(spark, root)
    dedup_pipeline(spark, df, cfg, warehouse=wh2, input_id="corpus-v2")
    assert all(not v["resumed"] for v in wh2.metrics().values()), wh2.metrics()


@pytest.mark.slow
def test_warehouse_checkpoint_resume(spark, corpus, cfg, tmp_path):
    df, _ = clips_to_spark(spark, corpus)
    wh1 = Warehouse(spark, str(tmp_path / "wh"))
    r1 = dedup_pipeline(spark, df, cfg, warehouse=wh1)
    n_clusters_1 = r1.clusters.count()
    m1 = wh1.metrics()
    assert all(not v["resumed"] for v in m1.values())
    assert m1["signatures"]["rows"] == N_CLIPS

    # second run over the same warehouse resumes every stage
    wh2 = Warehouse(spark, str(tmp_path / "wh"))
    r2 = dedup_pipeline(spark, df, cfg, warehouse=wh2)
    m2 = wh2.metrics()
    assert all(v["resumed"] for v in m2.values()), m2
    assert r2.clusters.count() == n_clusters_1


def test_winnow_stopgram_cap_in_size_pass(spark):
    """A fingerprint shared by more than winnow_max_df clips must produce NO
    winnow pairs (stop-gram), while rare fingerprints still pair -- the df
    cap now folds into candidate_pairs' bucket-size pass."""
    from go_lsh_spark.operators.dedup import candidate_pairs

    cfg = DedupConfig(winnow_max_df=3, winnow_min_matches=1)
    rows = []
    # stop-gram: fingerprint 111 in 5 clips (> max_df 3)
    for i in range(5):
        rows.append(("winnow", 0, 111, f"c{i}", 0))
    # rare: fingerprints 222, 223 shared by exactly 2 clips
    for h in (222, 223):
        rows.append(("winnow", 0, h, "r0", 0))
        rows.append(("winnow", 0, h, "r1", 0))
    buckets = spark.createDataFrame(
        rows, "src string, band int, hash long, clip_id string, sig64 long"
    )
    pairs = candidate_pairs(buckets, cfg).collect()
    got = {(r.clip_id_a, r.clip_id_b) for r in pairs}
    assert got == {("r0", "r1")}


def test_deferred_transcript_join_narrows_verify_shuffle(spark, corpus, cfg):
    """Pin the deferred-transcript-join shuffle-width win as a regression
    test, not prose (r3 verdict #7): the wide verify join hauls only
    features+minhash per pair side; hauling transcripts through the same
    join (what verify_pairs deliberately does NOT do -- they join later,
    onto the needs-LCS subset only) must measurably widen the shuffle.
    Measured with the same JVM AppStatusStore deltas the Warehouse records."""
    from go_lsh_spark.hyperplanes import PlaneSet
    from go_lsh_spark.operators.dedup import (
        build_buckets,
        candidate_pairs,
        clips_to_signatures,
    )
    from go_lsh_spark.sources.catalog import _shuffle_totals

    df, _ = clips_to_spark(spark, corpus)
    sigs = clips_to_signatures(df, cfg, PlaneSet(cfg.lsh_config())).persist()
    pairs = candidate_pairs(build_buckets(sigs, cfg), cfg).persist()
    assert pairs.count() > 0

    def shuffle_write(with_transcript: bool) -> int:
        cols = ["features", "minhash"] + (["transcript"] if with_transcript else [])
        sig_a = sigs.select(
            F.col("clip_id").alias("clip_id_a"),
            *[F.col(c).alias(f"{c}_a") for c in cols],
        )
        sig_b = sigs.select(
            F.col("clip_id").alias("clip_id_b"),
            *[F.col(c).alias(f"{c}_b") for c in cols],
        )
        j = pairs.join(sig_a.hint("shuffle_hash"), "clip_id_a").join(
            sig_b.hint("shuffle_hash"), "clip_id_b"
        )
        # consume every column post-join: a bare count() would let Catalyst
        # prune the payload columns before the shuffle and both variants
        # would measure identical (keys-only) shuffles
        probe = j.agg(
            F.bit_xor(F.xxhash64(*j.columns)).alias("h")
        )
        s0 = _shuffle_totals(spark, max_stages=None)
        probe.collect()
        s1 = _shuffle_totals(spark, max_stages=None)
        assert s0 and s1, "AppStatusStore metrics unavailable"
        return s1["shuffle_write_bytes"] - s0["shuffle_write_bytes"]

    # at toy scale AQE would broadcast the signatures side and transcripts
    # would ride a broadcast, not a shuffle; force the shuffle join the hint
    # asks for so the width difference is measurable (at real scale the
    # signatures side is never broadcastable)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        narrow = shuffle_write(False)
        wide = shuffle_write(True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    pairs.unpersist()
    sigs.unpersist()
    if narrow < 0 or wide < 0:
        # the AppStatusStore trimmed stages between the two samples (the
        # exact hazard ingest.py's metrics path already guards against:
        # cumulative totals go backwards) -- the delta is garbage, not
        # evidence against the plan; conftest raises retainedStages to make
        # this unreachable in practice
        pytest.skip(f"AppStatusStore trimmed stages mid-measurement: {(narrow, wide)}")
    assert 0 < narrow < wide, (narrow, wide)


def test_sizing_plans_produce_identical_pairs(spark):
    """candidate_pairs has two physically different sizing plans (single
    sizes join below cfg.sizing_join_max_clips, exception-sets above); both
    must emit the IDENTICAL pair set across cold buckets, salted hot
    buckets, and df-capped winnow fingerprints."""
    from go_lsh_spark.operators.dedup import candidate_pairs

    cfg = DedupConfig(
        winnow_max_df=3, winnow_min_matches=1, max_bucket_size=4, salt_factor=3
    )
    rows = []
    # hot simhash bucket: 7 members (> max_bucket_size 4) -> salted path
    for i in range(7):
        rows.append(("simhash", 1, 99, f"h{i}", 0))
    # cold simhash bucket: 3 members
    for i in range(3):
        rows.append(("simhash", 2, 50, f"k{i}", 0))
    # stop-gram winnow fp in 5 clips (> max_df 3): no pairs
    for i in range(5):
        rows.append(("winnow", 0, 111, f"c{i}", 0))
    # rare winnow fps shared by 2 clips: pairs
    for h in (222, 223):
        rows.append(("winnow", 0, h, "r0", 0))
        rows.append(("winnow", 0, h, "r1", 0))
    buckets = spark.createDataFrame(
        rows, "src string, band int, hash long, clip_id string, sig64 long"
    )

    def norm(df):
        return sorted(tuple(r) for r in df.collect())

    small = candidate_pairs(buckets, cfg, n_clips=10)  # broadcast tier
    mid = candidate_pairs(buckets, cfg, n_clips=30_000)  # sizes join + shuffle_hash
    large = candidate_pairs(buckets, cfg, n_clips=10**9)
    default = candidate_pairs(buckets, cfg)  # unknown count -> large plan
    assert norm(small) == norm(mid) == norm(large) == norm(default)
    # and the hot bucket actually produced its full pair set
    got = {(r.clip_id_a, r.clip_id_b) for r in small.collect()}
    assert {("h0", "h1"), ("h5", "h6"), ("r0", "r1"), ("k0", "k2")} <= got
    assert not any(a.startswith("c") for a, _ in got)


def test_build_buckets_single_pass_matches_union_form(spark, corpus, cfg):
    """build_buckets now emits all three bucket families from ONE inline
    explode instead of a three-branch union; the row MULTISET must be
    identical to the union form it replaced (per-family counts + content
    checksum, including the sentinel-minhash suppression)."""
    from go_lsh_spark.functions import text as T
    from go_lsh_spark.functions import vector as Vf
    from go_lsh_spark.operators.dedup import _I64_MAX, build_buckets, clips_to_signatures
    from go_lsh_spark.sources.synth import clips_to_spark

    df, _ = clips_to_spark(spark, corpus)
    sigs = clips_to_signatures(df, cfg, PlaneSet(cfg.lsh_config())).persist()
    got = build_buckets(sigs, cfg)

    # reference: the r5 three-branch union form, inlined
    cols = ["src", "band", "hash", "clip_id", "sig64"]
    audio = sigs.select(
        F.lit("simhash").alias("src"),
        F.posexplode(
            Vf.band_hashes("sig64", cfg.num_bands, cfg.rows_per_band)
        ).alias("band", "hash"),
        "clip_id",
        "sig64",
    ).select(*cols)
    text = sigs.filter(F.element_at("minhash", 1) != F.lit(_I64_MAX)).select(
        F.lit("minhash").alias("src"),
        F.posexplode(
            F.array(
                *[
                    T.minhash_band_hash("minhash", b, cfg.minhash_rows)
                    for b in range(cfg.minhash_bands)
                ]
            )
        ).alias("band", "hash"),
        "clip_id",
        "sig64",
    ).select(*cols)
    winnow = sigs.select(
        F.lit("winnow").alias("src"),
        F.lit(0).alias("band"),
        F.explode("winnow").alias("hash"),
        "clip_id",
        "sig64",
    ).select(*cols)
    want = audio.unionByName(text).unionByName(winnow)

    def fingerprint(b):
        return {
            tuple(r)
            for r in b.groupBy("src")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(
                    F.xxhash64("src", "band", "hash", "clip_id", "sig64")
                ).alias("cs"),
            )
            .collect()
        }

    assert fingerprint(got) == fingerprint(want)
    # names + types must match exactly; nullability may differ (the inline
    # struct fields are nullable where the union's literals were not --
    # parquet round-trips erase that distinction anyway)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    sigs.unpersist()


def test_verify_broadcast_tier_produces_identical_rows(spark, corpus, cfg):
    """verify_pairs' broadcast tier (n_clips <= broadcast_join_max_clips
    swaps the shuffle_hash hints for broadcast ones) must emit the
    IDENTICAL verified-pair rows as the at-scale shuffled plan -- the join
    strategy is a cost decision, never a semantic one."""
    from go_lsh_spark.hyperplanes import PlaneSet
    from go_lsh_spark.operators.dedup import (
        build_buckets,
        candidate_pairs,
        clips_to_signatures,
        verify_pairs,
    )
    from go_lsh_spark.sources.synth import clips_to_spark

    df, _ = clips_to_spark(spark, corpus)
    sigs = clips_to_signatures(df, cfg, PlaneSet(cfg.lsh_config())).persist()
    pairs = candidate_pairs(build_buckets(sigs, cfg), cfg).persist()

    def norm(vdf):
        return sorted(tuple(r) for r in vdf.collect())

    tiny = verify_pairs(pairs, sigs, cfg, n_clips=10)
    scale = verify_pairs(pairs, sigs, cfg, n_clips=10**9)
    default = verify_pairs(pairs, sigs, cfg)  # unknown count -> scale plan
    assert norm(tiny) == norm(scale) == norm(default)
    assert len(norm(tiny)) > 0
    pairs.unpersist()
    sigs.unpersist()


def test_early_hamming_filter_equals_verify_semantics(spark, corpus, cfg):
    """Pushing the Hamming budget into pair generation must not change the
    verified output: every verified audio pair still satisfies the budget,
    and pairs carried by text evidence survive regardless of hamming."""
    df, _ = clips_to_spark(spark, corpus)
    res = dedup_pipeline(spark, df, cfg)
    bad = res.verified.filter(
        F.col("audio_ok") & (F.col("hamming") > cfg.max_hamming)
    ).count()
    assert bad == 0


def test_pipeline_matches_independent_oracle_exactly(spark):
    """The full pipeline's cluster assignments at 150 clips must equal the
    independent python oracle (tools/gen_cluster_golden.py: band-tuple
    comparison + union-find + DP LCS -- no shared mechanism with the Spark
    implementation)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "gen_cluster_golden",
        os.path.join(os.path.dirname(__file__), "..", "tools", "gen_cluster_golden.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    expected = set(mod.compute_clusters(n_clips=150, seed=42))

    res = synth_clips(n_clips=150, seed=42)
    df, _ = clips_to_spark(spark, res)
    got = {
        (r.clip_id, r.cluster_id)
        for r in dedup_pipeline(spark, df, DedupConfig()).clusters.collect()
    }
    assert got == expected


def test_cached_trees_key_on_whole_config(spark):
    """The memoized expression trees are keyed on the whole frozen
    DedupConfig: one config reuses its trees, and configs that differ in one
    field a tree reads (max_hamming, rows_per_band) get different trees and
    different candidate pairs."""
    from go_lsh_spark.operators.dedup import (
        _I64_MAX,
        _bucket_entries_col,
        _cold_pairs_col,
        _verify_exprs,
        build_buckets,
        candidate_pairs,
    )

    base = DedupConfig()
    tight = DedupConfig(max_hamming=4)
    narrow = DedupConfig(rows_per_band=8)
    assert _cold_pairs_col(base) is _cold_pairs_col(DedupConfig())
    assert _cold_pairs_col(tight) is not _cold_pairs_col(base)
    assert _verify_exprs(tight) is not _verify_exprs(base)
    assert _bucket_entries_col(narrow) is not _bucket_entries_col(base)

    # b differs from a by one bit in each of the top four bytes (hamming 4):
    # 16-bit bands 2 and 3 collide, no 8-bit band over the top 32 bits does.
    # c differs from a in its five lowest bits (hamming 5): every 8-bit band
    # and all 16-bit bands but the last collide. b and c share 16-bit band 2
    # at hamming 9.
    b = (1 << 56) | (1 << 48) | (1 << 40) | (1 << 32)
    sigs = spark.createDataFrame(
        [(cid, sig, [_I64_MAX], []) for cid, sig in (("a", 0), ("b", b), ("c", 31))],
        "clip_id string, sig64 long, minhash array<long>, winnow array<long>",
    )

    def pairs(cfg):
        got = candidate_pairs(build_buckets(sigs, cfg), cfg, n_clips=3).collect()
        return {(r.clip_id_a, r.clip_id_b) for r in got}

    assert pairs(base) == {("a", "b"), ("a", "c")}
    assert pairs(tight) == {("a", "b")}
    assert pairs(narrow) == {("a", "c")}


def test_hot_branch_switch_sides_give_identical_rows(spark, corpus, cfg):
    """candidate_pairs builds the salted hot branch only when a bucket can
    exceed max_bucket_size (a bucket holds at most one row per clip). Both
    sides of that switch -- skipped (cap = n_clips), built but empty (cap =
    n_clips - 1) and built with hot buckets (cap = 3) -- give identical pairs
    and verified rows, and lcs_len is set exactly on the rows that passed by
    the suffix-array LCS alone."""
    from dataclasses import replace

    from go_lsh_spark.operators.dedup import (
        build_buckets,
        candidate_pairs,
        clips_to_signatures,
        verify_pairs,
    )
    from go_lsh_spark.plans.inspect import explain_str

    df, _ = clips_to_spark(spark, corpus)
    sigs = clips_to_signatures(df, cfg, PlaneSet(cfg.lsh_config())).persist()
    buckets = build_buckets(sigs, cfg).persist()
    sizes = buckets.groupBy("src", "band", "hash").count()
    assert sizes.filter(F.col("src") != "winnow").agg(F.max("count")).first()[0] > 3
    assert sizes.agg(F.max("count")).first()[0] <= N_CLIPS - 1

    def norm(rows_df):
        return sorted(tuple(r) for r in rows_df.collect())

    results = []
    for cap in (N_CLIPS, N_CLIPS - 1, 3):
        c = replace(cfg, max_bucket_size=cap)
        pairs = candidate_pairs(buckets, c, n_clips=N_CLIPS)
        assert ("salt" in explain_str(pairs, "simple")) == (cap < N_CLIPS), cap
        verified = verify_pairs(pairs, sigs, c, n_clips=N_CLIPS)
        results.append((norm(pairs), norm(verified)))
    assert results[0] == results[1] == results[2]

    rows = [dict(zip(verified.columns, r)) for r in results[0][1]]
    by_lcs = [r for r in rows if not (r["audio_ok"] or r["text_ok"])]
    assert by_lcs, "fixture has no LCS-only pairs"
    assert all(r["lcs_len"] >= cfg.min_common_substring for r in by_lcs)
    assert sum(r["lcs_len"] is not None for r in rows) == len(by_lcs)
    buckets.unpersist()
    sigs.unpersist()
