"""Configuration dataclasses mirroring the reference's config/options surface.

Reference parity:
  * LSHConfig      <- configs.LSHConfigs   (/root/reference/configs/lshconfigs.go:32-79)
  * SearchOptions  <- options.Search       (/root/reference/options/searchoptions.go:26-62)
  * error messages mirror the Go error values
    (configs/lshconfigs.go:15-22, options/searchoptions.go:7-11)

DedupConfig is the BASELINE.json extension (banded 64-bit SimHash +
MinHash-over-shingles + clustering knobs); it has no reference citation.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

MAX_NUM_HYPERPLANES = 16  # bucket key is uint16 in the reference (configs/lshconfigs.go:10-13)

# Sign filter values (options/searchoptions.go:19-23)
SIGN_FILTER_POS = 1
SIGN_FILTER_NEG = -1
SIGN_FILTER_ANY = 0

ALL_LAGS = -1  # options/searchoptions.go:14


@dataclass(frozen=True)
class LSHConfig:
    """LSH hyper-parameters. Defaults mirror configs/lshconfigs.go:42-51.

    In classic banding terms one table == one band with num_hyperplanes bits
    per band. ``independent_tables=True`` draws a separate plane set per table
    (bit-exact with the reference's construction, lsh/lsh.go:42-49);
    ``False`` draws num_tables*num_hyperplanes planes once and slices a single
    wide signature into disjoint bit ranges (the banded-SimHash form used by
    the dedup pipeline -- identical per-band collision probability p^r).
    """

    num_hyperplanes: int = 8
    num_tables: int = 128
    vector_length: int = 3
    sample_period: int = 60
    row_size: int = 7200
    seed: int = 42  # reference uses unseeded global rand (hyperplanes/hyperplanes.go:39); we pin
    independent_tables: bool = True
    normalize: bool = True  # TFunc = L2 normalize (configs/lshconfigs.go:26-29)

    def __post_init__(self) -> None:
        self.validate()

    def validate(self) -> None:
        """Mirror configs.Validate (configs/lshconfigs.go:54-79)."""
        if self.num_hyperplanes < 1:
            raise ValueError("invalid number of hyperplanes, must be at least 1")
        if self.num_hyperplanes > MAX_NUM_HYPERPLANES:
            raise ValueError(
                f"number of hyperplanes exceeded max of, {MAX_NUM_HYPERPLANES}"
            )
        if self.num_tables < 1:
            raise ValueError("invalid number of tables, must be at least 1")
        if self.vector_length < 1:
            raise ValueError("invalid vector length, must be at least 1")
        if self.sample_period < 1:
            raise ValueError("invalid sample period, must be at least 1")
        if self.row_size < 1:
            raise ValueError("invalid row size, must be at least 1")

    @property
    def total_bits(self) -> int:
        return self.num_hyperplanes * self.num_tables

    def with_(self, **kwargs) -> "LSHConfig":
        return replace(self, **kwargs)


@dataclass(frozen=True)
class SearchOptions:
    """Per-search options. Defaults mirror options.NewDefaultSearch
    (options/searchoptions.go:55-62)."""

    num_to_return: int = 10
    threshold: float = 0.85
    sign_filter: int = SIGN_FILTER_ANY
    max_lag: int = 900

    def validate(self) -> "SearchOptions":
        """Mirror options.Search.Validate (options/searchoptions.go:34-52).

        Note the reference *clamps* max_lag < -1 to AllLags rather than
        erroring; we preserve that by returning a clamped copy.
        """
        if self.num_to_return < 1:
            raise ValueError("invalid NumToReturn, must be at least 1")
        if self.threshold < 0 or self.threshold > 1:
            raise ValueError("invalid threshold, must be between 0 and 1 inclusive")
        if self.sign_filter not in (SIGN_FILTER_ANY, SIGN_FILTER_NEG, SIGN_FILTER_POS):
            raise ValueError("invalid sign filter, must be any, neg, or pos")
        return replace(self, max_lag=ALL_LAGS) if self.max_lag < ALL_LAGS else self


@dataclass(frozen=True)
class DedupConfig:
    """BASELINE.json extension: banded 64-bit SimHash + MinHash + clustering.

    num_bands * rows_per_band must be <= 64 (single LongType signature).
    """

    # SimHash over audio feature vectors. 4 bands x 16 rows: near-dup pairs
    # (Pearson ~1 => bit-flip prob ~0) survive all bands while moderately
    # correlated non-dups (corr ~0.5-0.8) collide ~never -- 8-bit bands let
    # corr~0.5 pairs through at ~30% and degenerate to all-pairs at scale.
    num_bands: int = 4
    rows_per_band: int = 16
    # 48 frames: at 16 the interpolated envelope has so little effective
    # dimension that sign patterns concentrate into hot buckets (observed
    # 1400-member buckets => 8.8M false candidates at 60k clips); more
    # frames spread pairwise angles and buckets thin out
    feature_dim: int = 48
    seed: int = 42
    # hash mean-centered features so bucket collision tracks the Pearson
    # verification score (see functions/vector.make_signature64_udf)
    center_features: bool = True
    # verification thresholds (reference `passed`, results/results.go:35-40,
    # applied to the cosine/Pearson of feature vectors)
    threshold: float = 0.85
    max_hamming: int = 8  # cheap pre-filter on full 64-bit signatures
    # MinHash over transcript shingles
    shingle_k: int = 5  # character shingles
    num_perm: int = 64
    minhash_bands: int = 16  # 16 bands x 4 rows
    jaccard_threshold: float = 0.7
    # suffix-array substring verification; candidates for it come from
    # winnowing fingerprints (guarantee: any common substring of length >=
    # winnow_k + winnow_window - 1 chars shares a fingerprint), capped at
    # winnow_max_df docs per fingerprint (stop-gram removal)
    min_common_substring: int = 30
    winnow_k: int = 12            # detection guarantee: k + window - 1 chars
    winnow_window: int = 16       # = 27 <= min_common_substring
    # df cap 8 (was 20): candidate volume per fingerprint bucket is
    # n(n-1)/2, and measured pre-distinct pair volume at 100k clips was 73%
    # winnow-sourced -- genuine substring pairs share RARE fingerprints
    # (df ~2), so a tight cap only sheds stop-gram noise
    winnow_max_df: int = 8        # fingerprints in more docs are stop-grams
    winnow_min_matches: int = 2   # a 30-char common run shares ~3+ fingerprints
    # skew handling
    max_bucket_size: int = 2048  # split larger buckets with triangle salting
    salt_factor: int = 8
    # candidate-sizing plan switch (operators/dedup.candidate_pairs): at or
    # below this many clips the single-pass sizes join wins (bucket table is
    # small; extra anti/semi passes cost more than they save -- measured
    # ~6% of the whole pipeline at 2k clips); above it, the exception-sets
    # plan never joins full sizes onto the bucket table (measured ~35% off
    # the candidate stage at 500k clips). The crossover is corpus-shaped;
    # 50k is a heuristic midpoint between the two measured scales.
    sizing_join_max_clips: int = 50_000
    # broadcast tier (below the sizing tier): at or below this many clips
    # the signature table fits comfortably under a broadcast, so the verify
    # signature joins use broadcast hash joins -- zero exchanges of the
    # pair stream -- instead of the shuffled hash joins that are the only
    # safe choice at corpus scale. Same rows out; at 2k clips the shuffled
    # plan's exchanges were pure fixed cost.
    broadcast_join_max_clips: int = 20_000
    # connected components
    max_cc_iterations: int = 20
    # connected components on BOUNDED edge sets run as driver union-find
    # (one Spark job instead of the star algorithm's ~10; measured ~15s ->
    # ~2s of a local[8] microbatch); above the cap, distributed CC. 200k
    # string-id edges collect to ~20MB. Used by streaming's per-batch CC on
    # the contracted graph (bounded by the batch's verified pair count) and
    # by the batch pipeline's size-dispatched cluster_assignments (falls
    # back to distributed star rounds above the cap).
    cc_driver_max_edges: int = 200_000
    # in-stream size-tiered compaction cadence (batches between folds of the
    # append sinks + cluster cells). Flat per-batch cost REQUIRES a bounded
    # live cell/file count -- without folding, every state read's file count
    # grows O(batches) even when the bytes are pruned (the LSM invariant:
    # reads are bounded by segment count, compaction bounds segment count).
    # 0 disables (callers can still compact externally via the CLI).
    stream_compact_every: int = 4
    # --- streaming state partitioning (streaming/ingest.py) ---------------
    # Hash-partition counts for the incrementally maintained state tables
    # (clusters, cluster_index, winnow_df) and the secondary bucket-key /
    # signature-id partitioning of the append sinks. 0 means "derive from
    # expected_corpus_rows" (or fall back to the sandbox floors); explicit
    # values win. Partition counts are baked into the on-disk layout
    # (pmod(xxhash64(key), N) is the partition function), so ingest
    # validates them against the table's `_state_meta.json` sidecar and
    # FAILS LOUDLY on mismatch instead of silently mixing layouts.
    expected_corpus_rows: int = 0
    n_cluster_parts: int = 0
    n_df_parts: int = 0
    n_key_parts: int = 0
    n_sig_parts: int = 0

    def __post_init__(self) -> None:
        if self.num_bands * self.rows_per_band > 64:
            raise ValueError("num_bands * rows_per_band must be <= 64")
        if self.num_perm % self.minhash_bands != 0:
            raise ValueError("num_perm must be divisible by minhash_bands")
        for k in ("expected_corpus_rows", "n_cluster_parts", "n_df_parts",
                  "n_key_parts", "n_sig_parts"):
            if getattr(self, k) < 0:
                raise ValueError(f"{k} must be >= 0")

    def _derived_parts(self, explicit: int, rows_per_part: int, floor: int) -> int:
        """Partition-count derivation: explicit knob wins; else size from the
        expected corpus so one partition targets ~rows_per_part rows (power
        of two, never below the sandbox floor). At 10^12 clips the clusters
        table derives ~2^20 partitions instead of the sandbox's 64."""
        if explicit:
            return explicit
        if self.expected_corpus_rows:
            import math  # noqa: PLC0415

            need = max(1, self.expected_corpus_rows // rows_per_part)
            return max(floor, 1 << math.ceil(math.log2(need)))
        return floor

    @property
    def cluster_parts(self) -> int:
        """clusters + cluster_index tables: one row per clip.

        Sized at ~10^8 rows per partition, NOT the 10^6 the other state
        tables use: under the celled layout a microbatch appends one file
        per touched (_cpart, batch) cell, so partition count divides the
        BATCH across files (10^4 parts x 10^6-clip batch = ~100-row cells;
        2^20 parts would mean one-row cells and a file-count explosion).
        Reads stay cheap at the coarser grain because lookups are pruned by
        In(clip_id) against per-file bloom filters/row-group stats, not by
        partition count alone. 10^12 clips -> 2^14 partitions."""
        return self._derived_parts(self.n_cluster_parts, 100_000_000, 64)

    @property
    def df_parts(self) -> int:
        """winnow_df counts table: ~one row per distinct fingerprint
        (winnowing emits ~len(transcript)/winnow_window fps per clip)."""
        return self._derived_parts(self.n_df_parts, 4_000_000, 32)

    @property
    def key_parts(self) -> int:
        """secondary bucket-key partitioning of the streaming buckets sink
        (rows per clip ~ num_bands + minhash_bands + fps)."""
        return self._derived_parts(self.n_key_parts, 8_000_000, 16)

    @property
    def sig_parts(self) -> int:
        """secondary clip-id partitioning of the streaming signatures sink."""
        return self._derived_parts(self.n_sig_parts, 500_000, 16)

    @property
    def sig_bits(self) -> int:
        return self.num_bands * self.rows_per_band

    @property
    def minhash_rows(self) -> int:
        return self.num_perm // self.minhash_bands

    def lsh_config(self, vector_length: int | None = None) -> LSHConfig:
        """The equivalent banded LSHConfig (one band == one table)."""
        return LSHConfig(
            num_hyperplanes=self.rows_per_band,
            num_tables=self.num_bands,
            vector_length=vector_length or self.feature_dim,
            seed=self.seed,
            independent_tables=False,
        )
