"""The end-to-end near-duplicate detection + clustering pipeline
(BASELINE.json north_rule).

Stages (each a checkpointable Warehouse stage):
  1. features:   clips -> (clip_id, features)          [decode+envelope UDF]
  2. signatures: features -> 64-bit banded SimHash against the seeded plane
                 matrix (the reference's hash semantics in banded form,
                 SURVEY.md §1.5) + MinHash signature over transcript
                 shingles + token count metadata
  3. buckets:    explode band ids -> (src, band, hash, clip_id); same shape
                 for the MinHash bands. Mirrors the reference's bucket
                 tables flattened to rows (/root/reference/tables/tables.go:43-50).
  4. candidate_pairs: all pairs inside each bucket (clip_id_a < clip_id_b)
                 -- the all-pairs form of the reference's Filter equi-join
                 (tables/tables.go:129-137; SURVEY.md §3.2 "every row is a
                 query").
  5. verify:     audio evidence = Hamming(sig64) pre-filter + Pearson of
                 feature vectors >= threshold (the reference's `passed`
                 predicate, results/results.go:35-40, POS sign); text
                 evidence = MinHash Jaccard estimate >= threshold, or
                 suffix-array longest-common-substring >= min length.
  6. clusters:   connected components over verified pairs -> cluster ids.

Skew handling (SURVEY.md §4): bucket sizes are counted first; a cold bucket
(at most max_bucket_size members) gathers its members into one bounded list
and pairs them inside it. Buckets above max_bucket_size generate pairs
through a salted shard join -- members get R salt shards, pairs come from
shard pairs, spreading a hot bucket's |B|^2/2 pair generation over R^2
tasks without losing any pair. That hot branch is built only when a bucket
can exceed the cap: a bucket holds at most one row per input row, so with
n_clips <= max_bucket_size no bucket is hot and the branch is left out.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cache
from types import MappingProxyType
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_lsh_spark.config import DedupConfig
from go_lsh_spark.functions import text as T
from go_lsh_spark.functions import vector as V
from go_lsh_spark.hyperplanes import PlaneSet
from go_lsh_spark.operators.connected_components import connected_components_auto
from go_lsh_spark.operators.suffix import lcs_pairs

_I64_MAX = (1 << 63) - 1  # the empty-shingle MinHash sentinel (fasthash.py:58)


def clips_to_signatures(clips: DataFrame, cfg: DedupConfig, planes: PlaneSet) -> DataFrame:
    """The fused hot path: ONE mapInArrow crossing computes decode,
    features, sig64, MinHash, and winnowing.

    mapInArrow (per input_hint) instead of a pandas UDF: the WAV bytes are
    read straight out of the Arrow value buffer as memoryview slices
    (zero-copy into numpy) -- the pandas path materializes every clip as a
    Python bytes object and measured ~2.8x slower on a 7GB binary column.
    """
    import pyarrow as pa  # noqa: PLC0415

    from go_lsh_spark.functions import fasthash as FH  # noqa: PLC0415
    from go_lsh_spark.functions.audio import decode_clip, envelope_features  # noqa: PLC0415

    stacked = planes.stacked
    dim = cfg.feature_dim
    center = cfg.center_features
    total_bits = cfg.num_bands * cfg.rows_per_band
    weights = 1 << np.arange(63, 63 - total_bits, -1, dtype=np.uint64)
    seeds = FH.perm_seeds(cfg.num_perm, seed=cfg.seed)
    sk, wk, ww = cfg.shingle_k, cfg.winnow_k, cfg.winnow_window

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            nrows = rb.num_rows
            bin_col = rb.column(1)  # bytes
            offs = np.frombuffer(bin_col.buffers()[1], dtype=np.int32)[
                bin_col.offset : bin_col.offset + nrows + 1
            ]
            values = memoryview(bin_col.buffers()[2])
            codecs = rb.column(2).to_pylist()
            transcripts = rb.column(3).to_pylist()

            feats = np.empty((nrows, dim), dtype=np.float64)
            for i in range(nrows):
                feats[i] = envelope_features(
                    decode_clip(values[offs[i] : offs[i + 1]], codecs[i]), dim
                )
            m = feats.copy()
            if center:
                m -= m.mean(axis=1, keepdims=True)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            np.divide(m, norms, out=m, where=norms != 0)
            bits = (m @ stacked.T) > 0.0
            sig = (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)

            mh = np.empty((nrows, cfg.num_perm), dtype=np.int64)
            winn_vals, winn_offs = [], [0]
            for i, t in enumerate(transcripts):
                b = (t or "").encode("utf-8")
                mh[i] = FH.minhash_from_hashes(FH.shingle_hashes_bytes(b, sk), seeds)
                w = FH.winnow_from_hashes(FH.shingle_hashes_bytes(b, wk), ww)
                winn_vals.append(w)
                winn_offs.append(winn_offs[-1] + len(w))

            feat_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (nrows + 1) * dim, dim, dtype=np.int32)),
                pa.array(feats.reshape(-1)),
            )
            mh_arr = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (nrows + 1) * cfg.num_perm, cfg.num_perm, dtype=np.int32)
                ),
                pa.array(mh.reshape(-1)),
            )
            winn_arr = pa.ListArray.from_arrays(
                pa.array(np.array(winn_offs, dtype=np.int32)),
                pa.array(
                    np.concatenate(winn_vals)
                    if winn_vals
                    else np.empty(0, dtype=np.int64)
                ),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),
                    feat_arr,
                    pa.array(sig),
                    mh_arr,
                    winn_arr,
                    rb.column(3),
                ],
                names=["clip_id", "features", "sig64", "minhash", "winnow", "transcript"],
            )

    return clips.select("clip_id", "bytes", "codec", "transcript").mapInArrow(
        gen,
        schema=(
            "clip_id string, features array<double>, sig64 long, "
            "minhash array<long>, winnow array<long>, transcript string"
        ),
    )


# -- cached Column expression trees ------------------------------------------
# Column objects are plain reusable expression wrappers over fixed column
# names; building the big trees below costs hundreds of py4j round trips,
# which the frozen bench re-times at every pipeline construction (the same
# device as entry_queries._plane_lit_cached). Each builder is memoized on
# the whole frozen DedupConfig, never on hand-picked fields: a different
# config always gets a fresh tree, so a tree that starts reading a new field
# cannot go stale and the caches never change what a pipeline computes.


@cache
def _bucket_entries_col(cfg: DedupConfig) -> F.Column:
    """The inline-explode entries of build_buckets as one cached Column."""

    def _entry(src: str, band, hash_col) -> F.Column:
        return F.struct(
            F.lit(src).alias("src"),
            (band if not isinstance(band, int) else F.lit(band)).alias("band"),
            hash_col.cast("long").alias("hash"),
        )

    audio = F.array(
        *[
            _entry("simhash", b, V.band_hash("sig64", b, cfg.rows_per_band))
            for b in range(cfg.num_bands)
        ]
    )
    # empty/short transcripts produce the all-int64.max sentinel MinHash
    # signature (functions/fasthash.py:58); emitting their bands would
    # collide every transcript-less clip in one bucket and falsely verify
    # them as duplicates (jaccard_estimate(sentinel, sentinel) == 1.0)
    text = F.when(
        F.element_at("minhash", 1) != F.lit(_I64_MAX),
        F.array(
            *[
                _entry("minhash", b, T.minhash_band_hash("minhash", b, cfg.minhash_rows))
                for b in range(cfg.minhash_bands)
            ]
        ),
    ).otherwise(F.array().cast("array<struct<src:string,band:int,hash:bigint>>"))
    # winnowing fingerprints: the suffix-array path's candidate source --
    # a common substring of >= winnow_k + winnow_window - 1 chars
    # guarantees a shared fingerprint (Schleimer et al. 2003). The
    # per-clip fingerprint array is already distinct (np.unique in
    # winnow_from_hashes), so the explode emits unique (hash, clip_id)
    # with no dedup shuffle. The stop-gram document-frequency cap
    # (winnow_max_df) is NOT applied here: candidate_pairs already sizes
    # every bucket, and for winnow buckets size == df, so the cap folds
    # into that one groupBy for free instead of costing its own
    # groupBy + semi-join pass over the fingerprints.
    winnow = F.transform("winnow", lambda h: _entry("winnow", F.lit(0), h))
    return F.inline(F.concat(audio, text, winnow))


def build_buckets(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """All bucket families in one narrow table:
    (src, band, hash, clip_id, sig64) with src in {'simhash','minhash',
    'winnow'}. sig64 rides along (8 bytes/row) so the verify stage's Hamming
    pre-filter needs NO join back to signatures -- candidate pairs emerge
    from the bucket member lists already carrying both signatures.

    ONE pass over the signatures instead of a three-branch union (which
    scanned the table three times and tripled the downstream partition
    count): every bucket family's (src, band, hash) entries concatenate
    into a single struct array and inline-explode together. Row multiset
    identical to the union form."""
    cols = ["src", "band", "hash", "clip_id", "sig64"]
    return signatures.select(
        "clip_id", "sig64", _bucket_entries_col(cfg)
    ).select(*cols)


def _pair_ok(src: F.Column, a, b, cfg: DedupConfig) -> F.Column:
    """Pair-generation predicate over two bucket members; `a` and `b` map a
    member field name to its Column. Id order, plus the Hamming budget for
    simhash-sourced pairs: a banded collision with a far-apart full
    signature can never pass verify's audio gate (hamming <= max_hamming),
    so killing it before the distinct-pair aggregation shuffle changes
    nothing downstream and removes the dominant false-candidate stream.
    minhash/winnow pairs pass through (their evidence is textual)."""
    return (a("clip_id") < b("clip_id")) & (
        (src != F.lit("simhash"))
        | (V.hamming64(a("sig64"), b("sig64")) <= cfg.max_hamming)
    )


def _pair_cols(a, b) -> list[F.Column]:
    return [
        a("clip_id").alias("clip_id_a"),
        b("clip_id").alias("clip_id_b"),
        a("sig64").alias("sig64_a"),
        b("sig64").alias("sig64_b"),
    ]


@cache
def _cold_pairs_col(cfg: DedupConfig) -> F.Column:
    """Generator over one member `x` of a cold bucket: every pair (x, y) of
    its `members` list that passes _pair_ok."""
    x = F.col("x").getField
    return F.inline(
        F.transform(
            F.filter("members", lambda y: _pair_ok(F.col("src"), x, y.getField, cfg)),
            lambda y: F.struct(*_pair_cols(x, y.getField)),
        )
    )


@cache
def _pair_exprs(cfg: DedupConfig) -> tuple:
    """(aggregates, output columns, evidence filter) of the distinct-pair
    aggregation."""
    aggs = (
        F.max((F.col("src") == "simhash").cast("int")).alias("from_simhash"),
        F.max((F.col("src") == "minhash").cast("int")).alias("from_minhash"),
        F.sum((F.col("src") == "winnow").cast("int")).alias("n_winnow"),
        F.first("sig64_a").alias("sig64_a"),
        F.first("sig64_b").alias("sig64_b"),
    )
    # one shared fingerprint is noise (common word pair); a genuine
    # >=min_common_substring-char overlap shares several. Pairs with no
    # other evidence and too few shared fingerprints are dropped here,
    # before the expensive verify stage.
    from_winnow = (F.col("n_winnow") >= cfg.winnow_min_matches).cast("int")
    cols = (
        "clip_id_a", "clip_id_b", "from_simhash", "from_minhash", "sig64_a",
        "sig64_b", from_winnow.alias("from_winnow"),
    )
    evidence = (
        (F.col("from_simhash") == 1)
        | (F.col("from_minhash") == 1)
        | (F.col("from_winnow") == 1)
    )
    return aggs, cols, evidence


def _salted_hot_pairs(hot: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Pairs of the hot buckets' rows through the R^2 salted shard join."""
    R = cfg.salt_factor
    hot_salted = hot.withColumn("salt", F.pmod(F.xxhash64("clip_id"), F.lit(R)))
    # all R^2 ordered (salt_i, salt_j) shards: a pair (x < y) matches exactly
    # the one shard (salt(x), salt(y)), so coverage is exact with no dup --
    # an i<=j triangle would miss pairs where the smaller id has the larger
    # salt
    salt_pairs = hot_salted.sparkSession.range(R).alias("i").crossJoin(
        hot_salted.sparkSession.range(R).alias("j")
    ).select(
        F.col("i.id").cast("int").alias("salt_i"),
        F.col("j.id").cast("int").alias("salt_j"),
    )
    ha = hot_salted.crossJoin(F.broadcast(salt_pairs)).filter(
        F.col("salt") == F.col("salt_i")
    ).alias("a")

    def a(f: str) -> F.Column:
        return F.col(f"a.{f}")

    def b(f: str) -> F.Column:
        return F.col(f"b.{f}")

    return (
        ha.join(
            hot_salted.alias("b"),
            [a(f) == b(f) for f in ("src", "band", "hash")] + [a("salt_j") == b("salt")],
        )
        .filter(_pair_ok(a("src"), a, b, cfg))
        .select(a("src").alias("src"), *_pair_cols(a, b))
    )


def _bucket_size_ok(size: F.Column, cfg: DedupConfig) -> F.Column:
    # two or more members and not a stop-gram: a winnow fingerprint's bucket
    # size IS its document frequency ((hash, clip_id) rows are unique), so
    # fingerprints in more than winnow_max_df docs drop in the size pass the
    # skew split needs anyway
    return (size > 1) & ((F.col("src") != "winnow") | (size <= cfg.winnow_max_df))


def candidate_pairs(
    buckets: DataFrame, cfg: DedupConfig, n_clips: int | None = None
) -> DataFrame:
    """Distinct (clip_id_a < clip_id_b) pairs sharing any bucket, with the
    evidence sources that produced them. Skew-split: see module docstring.

    Cold pairs come from one per-bucket member aggregate,
    collect_list(struct(clip_id, sig64)), paired inside the bucket with the
    Hamming gate applied there (_cold_pairs_col); a cold bucket has at most
    max_bucket_size members, so the list is bounded. A self-join of the
    bucket table would re-derive the sized table on each side: AQE does not
    reuse an exchange above a cached relation that one query reads twice.

    Two physically different sizing plans produce the identical pair set;
    the switch is a corpus-size cost decision (cfg.sizing_join_max_clips):

    * SMALL (n_clips known and <= threshold): the member aggregate is the
      size pass -- one groupBy sizes, caps and gathers every bucket in a
      single read of the bucket table. A hot bucket's list is bounded by
      n_clips; it is exploded back to rows for the salted join.
    * LARGE (default when unknown): only the EXCEPTIONAL key sets leave a
      count aggregate (stop-gram-capped winnow fingerprints and over-cap hot
      buckets); the bucket table is filtered with anti/semi joins against
      those sets with NO broadcast hint -- AQE picks a broadcast join at
      runtime when the sets are small (the overwhelmingly common case: no
      shuffle of the bucket table at all) and falls back to a shuffle join
      when a pathological corpus makes them large, so the plan stays safe
      at 10^12 clips. The member aggregate then sees cold rows only.
      Keeping full sizes off the bucket table this way measured ~35% off
      the candidate stage at 500k clips.
    """
    key = ["src", "band", "hash"]
    # a (src, band, hash) bucket holds at most one row per input row, so
    # with n_clips <= max_bucket_size no bucket can be hot
    may_be_hot = n_clips is None or n_clips > cfg.max_bucket_size
    members = F.collect_list(F.struct("clip_id", "sig64")).alias("members")
    n_members = F.size("members")
    hot = None
    # bucket sizes via a map-side-combined groupBy, NOT a window count: a
    # window partition must fit one task, so a degenerate hot bucket would
    # land its entire membership in a single task *before* the salting below
    # could act
    if n_clips is not None and n_clips <= cfg.sizing_join_max_clips:
        cold = buckets.groupBy(*key).agg(members).filter(
            _bucket_size_ok(n_members, cfg)
        )
        if may_be_hot:
            hot = cold.filter(n_members > cfg.max_bucket_size).select(
                *key, F.inline("members")
            )
            cold = cold.filter(n_members <= cfg.max_bucket_size)
    else:
        sizes = buckets.groupBy(*key).agg(F.count(F.lit(1)).alias("_bsize"))
        capped = (F.col("src") == "winnow") & (F.col("_bsize") > cfg.winnow_max_df)
        over_cap = ~capped & (F.col("_bsize") > cfg.max_bucket_size)
        dropped = capped
        if may_be_hot:
            hot = buckets.join(sizes.filter(over_cap).select(*key), key, "left_semi")
            dropped = capped | over_cap
        cold = (
            buckets.join(sizes.filter(dropped).select(*key), key, "left_anti")
            .groupBy(*key)
            .agg(members)
            .filter(n_members > 1)
        )

    pairs = cold.select("src", "members", F.explode("members").alias("x")).select(
        "src", _cold_pairs_col(cfg)
    )
    if hot is not None:
        pairs = pairs.unionByName(_salted_hot_pairs(hot, cfg))

    aggs, cols, evidence = _pair_exprs(cfg)
    return pairs.groupBy("clip_id_a", "clip_id_b").agg(*aggs).select(*cols).filter(evidence)


_VERIFIED_COLS = (
    "clip_id_a", "clip_id_b", "from_simhash", "from_minhash", "from_winnow",
    "hamming", "score", "jaccard_est", "audio_ok", "text_ok",
)


@cache
def _verify_exprs(cfg: DedupConfig) -> MappingProxyType:
    """The column lists and predicates of verify_pairs, built once per
    config."""
    # jaccard of two empty-transcript sentinel signatures is vacuously 1.0;
    # a missing transcript is no text evidence at all -> NULL (fails text_ok)
    sentinel = (F.element_at("minhash_a", 1) == F.lit(_I64_MAX)) | (
        F.element_at("minhash_b", 1) == F.lit(_I64_MAX)
    )
    audio_ok = (
        (F.col("hamming") <= cfg.max_hamming)
        & F.col("score").isNotNull()
        & (F.col("score") >= cfg.threshold)
    )
    text_ok = F.coalesce(F.col("jaccard_est") >= cfg.jaccard_threshold, F.lit(False))
    cheap = F.col("audio_ok") | F.col("text_ok")
    return MappingProxyType({
        "pairs": (
            *_VERIFIED_COLS[:5], V.hamming64("sig64_a", "sig64_b").alias("hamming")
        ),
        "ham_gate": (F.col("hamming") <= cfg.max_hamming)
        | (F.col("from_minhash") == 1)
        | (F.col("from_winnow") == 1),
        "scored": (
            *_VERIFIED_COLS[:6],
            V.pearson("features_a", "features_b").alias("score"),
            F.when(sentinel, F.lit(None).cast("double"))
            .otherwise(T.jaccard_estimate("minhash_a", "minhash_b"))
            .alias("jaccard_est"),
        ),
        "gated": (
            *_VERIFIED_COLS[:8],
            audio_ok.alias("audio_ok"),
            text_ok.alias("text_ok"),
            (~(audio_ok | text_ok) & (F.col("from_winnow") == 1)).alias("needs_lcs"),
        ),
        # rows that fail the cheap gates without winnowing evidence can
        # pass nothing: drop them before the transcript joins
        "may_pass": cheap | (F.col("from_winnow") == 1),
        "tr_a_on": (F.col("clip_id_a") == F.col("_tr_id_a")) & F.col("needs_lcs"),
        "tr_b_on": (F.col("clip_id_b") == F.col("_tr_id_b")) & F.col("needs_lcs"),
        "verified": (
            *_VERIFIED_COLS,
            F.when(F.col("needs_lcs"), F.col("lcs_len")).alias("lcs_len"),
        ),
        "passed": cheap | (F.col("lcs_len") >= cfg.min_common_substring),
    })


def verify_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig,
    n_clips: int | None = None,
    adaptive_joins: bool = False,
) -> DataFrame:
    """Attach evidence and keep pairs passing any gate:
      audio: hamming64 <= max_hamming AND pearson(features) >= threshold
             (the reference's POS `passed` predicate on the exact score,
             results/results.go:35-40)
      text:  jaccard_estimate(minhash) >= jaccard_threshold
      substring: lcs_len >= min_common_substring (suffix-array; computed
             only for pairs that failed the cheap gates and carry winnowing
             evidence -- verification-stage cost control)

    One pass: the enriched pair stream is built once. Transcripts attach
    through conditional left joins (ON clip_id = ... AND needs_lcs) to the
    rows that need the LCS only; lcs_len is set on exactly those rows and
    stays NULL elsewhere. (Two branches split off the enriched stream and
    unioned back would each rebuild its signature joins: AQE does not reuse
    an exchange above a cached relation.)
    """
    e = _verify_exprs(cfg)
    # join strategy: below broadcast_join_max_clips the signature table
    # broadcasts and the pair stream is never exchanged; at corpus scale
    # the shuffled hash join is the only safe shape (the signature side
    # carries feature vectors and is never broadcastable). adaptive_joins
    # (the streaming path) leaves the choice to AQE: both inputs there are
    # per-batch bounded (pruned signature partitions, batch-rate pairs), so
    # AQE broadcasts whichever side measures small and falls back to a
    # shuffled join only when a batch genuinely outgrows it.
    tiny = n_clips is not None and n_clips <= cfg.broadcast_join_max_clips
    _hint = "broadcast" if tiny else "shuffle_hash"

    def _side(key: str, side: str, *cols: str) -> DataFrame:
        df = signatures.select(
            F.col("clip_id").alias(key), *[F.col(c).alias(f"{c}_{side}") for c in cols]
        )
        return df if adaptive_joins else df.hint(_hint)

    # the Hamming budget is a pure filter on the pair stream (sig64 rode
    # along on the bucket rows): simhash-only pairs above it die BEFORE the
    # wide join hauls features + minhash for millions of false candidates
    # (the "more hyperplanes decrease direct comparisons" knob of the
    # reference, configs/lshconfigs.go:44, applied post-hoc)
    scored = (
        pairs.select(*e["pairs"])
        .filter(e["ham_gate"])
        .join(_side("clip_id_a", "a", "features", "minhash"), "clip_id_a")
        .join(_side("clip_id_b", "b", "features", "minhash"), "clip_id_b")
        .select(*e["scored"])
        .select(*e["gated"])
        .filter(e["may_pass"])
    )
    # transcripts join onto the needs_lcs rows only -- hauling them onto
    # every enriched pair would dominate the verify-stage shuffle width at
    # scale for rows that never read them. Spark runs the LCS UDF on every
    # row (a Python UDF under CASE WHEN is not short-circuited); the other
    # rows reach it with NULL transcripts and cost no suffix array.
    with_text = scored.join(
        _side("_tr_id_a", "a", "transcript"), e["tr_a_on"], "left"
    ).join(_side("_tr_id_b", "b", "transcript"), e["tr_b_on"], "left")
    return lcs_pairs(with_text).select(*e["verified"]).filter(e["passed"])


def cluster_assignments(
    clips: DataFrame, verified: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """clusters(clip_id, cluster_id): connected components over verified
    pairs; singletons keep their own id as cluster_id.

    Size-dispatched CC (the streaming path's device, promoted to batch):
    under cfg.cc_driver_max_edges canonical edges the whole component
    computation is ONE bounded collect + driver union-find, versus the star
    rounds' ~4 shuffles + checksum job per double-round -- at bench scale
    (2k clips) those fixed driver jobs dominated the clusters phase. Above
    the cap the distributed star algorithm runs exactly as before (the only
    scale-safe choice); driver-vs-distributed equality is pinned in
    tests/test_text_cc_suffix.py."""
    comp = connected_components_auto(
        verified.select(F.col("clip_id_a").alias("src"), F.col("clip_id_b").alias("dst")),
        driver_max_edges=cfg.cc_driver_max_edges,
        max_iterations=cfg.max_cc_iterations,
    )
    return (
        clips.select("clip_id")
        .join(comp.withColumnRenamed("node", "clip_id"), "clip_id", "left")
        .select(
            "clip_id",
            F.coalesce(F.col("component"), F.col("clip_id")).alias("cluster_id"),
        )
    )


@dataclass
class DedupResult:
    features: DataFrame
    signatures: DataFrame
    buckets: DataFrame
    pairs: DataFrame
    verified: DataFrame
    clusters: DataFrame


def dedup_pipeline(
    spark: SparkSession,
    clips: DataFrame,
    cfg: DedupConfig | None = None,
    warehouse=None,
    input_id: str | None = None,
) -> DedupResult:
    """Run the full pipeline. With a Warehouse, every stage is a
    write-or-resume checkpoint with lineage metrics (north_rule
    resumability); without, stages stay lazy (cached where reused).

    input_id identifies the external clips input (use
    sources.catalog.external_input_id on its path); it chains into the
    signature-stage fingerprint so a different corpus against the same
    warehouse invalidates instead of resuming stale stages."""
    cfg = cfg or DedupConfig()
    planes = PlaneSet(cfg.lsh_config())

    if warehouse is None:
        # cache signatures and materialize them ONCE (the Python-UDF decode
        # stage is the expensive pass; a cached DataFrame scanned N times
        # within one job is computed N times if nothing populated the cache
        # first -- observed 6x slowdown). buckets and pairs are not cached:
        # each feeds the next stage once, buckets' recompute is a JVM-side
        # explode over the cached signatures, and under AQE a cache costs
        # its own job even when one query reads it once. n_clips rides
        # along (already materialized for the cache) so the plan switches
        # cost no extra action.
        signatures = clips_to_signatures(clips, cfg, planes).cache()
        n_clips = signatures.count()
        features = signatures.select("clip_id", "features")
        buckets = build_buckets(signatures, cfg)
        pairs = candidate_pairs(buckets, cfg, n_clips=n_clips)
        verified = verify_pairs(pairs, signatures, cfg, n_clips=n_clips).cache()
        clusters = cluster_assignments(clips, verified, cfg)
        return DedupResult(features, signatures, buckets, pairs, verified, clusters)

    cfg_dict = {k: getattr(cfg, k) for k in cfg.__dataclass_fields__}
    if input_id is not None:
        cfg_dict["__input_id__"] = input_id
    signatures = warehouse.run(
        "signatures",
        lambda: clips_to_signatures(clips, cfg, planes),
        config=cfg_dict,
        inputs=["clips"],
    )
    buckets = warehouse.run(
        "buckets",
        lambda: build_buckets(signatures, cfg),
        config=cfg_dict,
        inputs=["signatures"],
        partition_by=["src", "band"],
    )
    pairs = warehouse.run(
        "candidate_pairs",
        # the signatures stage sidecar already carries its row count, so
        # the sizing plan switch is free here too
        lambda: candidate_pairs(
            buckets, cfg, n_clips=warehouse.stages["signatures"].rows
        ),
        config=cfg_dict,
        inputs=["buckets"],
    )
    verified = warehouse.run(
        "verified_pairs",
        lambda: verify_pairs(
            pairs, signatures, cfg, n_clips=warehouse.stages["signatures"].rows
        ),
        config=cfg_dict,
        inputs=["candidate_pairs", "signatures"],
    )
    clusters = warehouse.run(
        "clusters",
        lambda: cluster_assignments(clips, verified, cfg),
        config=cfg_dict,
        inputs=["verified_pairs"],
    )
    features = signatures.select("clip_id", "features")
    return DedupResult(features, signatures, buckets, pairs, verified, clusters)
