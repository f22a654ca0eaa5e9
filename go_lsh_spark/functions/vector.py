"""Vector kernels.

Design rule (SURVEY.md §4): anything expressible with pyspark.sql.functions
stays JVM-side inside whole-stage codegen; only the plane matmul (sign-hash)
drops to an Arrow-batched pandas UDF, because it needs the broadcast (T*H, V)
plane tensor and one BLAS matmul per batch beats any per-element expression
tree at realistic H*T.

Reference parity notes:
  * l2_normalize   <- configs.NewDefaultTransformFunc
                      (/root/reference/configs/lshconfigs.go:26-29)
  * pearson        <- gonum stat.Correlation used at lsh/lsh.go:220; scores
                      snapped to +/-1 within 1e-9 so exact-match thresholds
                      (threshold=1.0, lsh/lsh_test.go:119-128,355) behave
                      deterministically under fp reassociation.
  * sign-hash      <- hyperplanes/hyperplanes.go:103-128 bit order (MSB
                      first): plane i contributes 1 << (width-1-i).
  * window slice   <- forwardindex/inmemory.go:61-82 (zero-padded fixed
                      window at sample offset (idx - doc_index)/period).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType

from go_lsh_spark.hyperplanes import PlaneSet, hash16_tables

SNAP_EPS = 1e-9


def vector_norm(vec: Column | str) -> Column:
    vec = F.col(vec) if isinstance(vec, str) else vec
    return F.sqrt(
        F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def l2_normalize(vec: Column | str) -> Column:
    """TFunc: v / ||v||2 (configs/lshconfigs.go:26-29). Zero vectors pass
    through unchanged (they are rejected upstream by the stddev!=0 gate,
    lsh/lsh.go:68-70)."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    n = vector_norm(vec)
    return F.when(n == 0.0, vec).otherwise(
        F.transform(vec, lambda x: x / n)
    )


def sample_stddev(vec: Column | str) -> Column:
    """gonum stat.StdDev (sample stddev, ddof=1) used by the
    ErrNoVectorComplexity gate (lsh/lsh.go:68)."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    n = F.size(vec).cast("double")
    mean = F.aggregate(vec, F.lit(0.0), lambda a, x: a + x) / n
    ss = F.aggregate(vec, F.lit(0.0), lambda a, x: a + (x - mean) * (x - mean))
    return F.sqrt(ss / (n - F.lit(1.0)))


def pearson(x: Column | str, y: Column | str) -> Column:
    """Sample Pearson correlation of two equal-length array columns,
    JVM-side (zip_with + aggregate -> codegen). NULL (not NaN) when either
    side has zero variance or the correlation is NaN (NaN or inf
    components), so Spark's NaN-is-largest comparison semantics
    can never leak a degenerate candidate through `abs(score) >= threshold`
    (Go's NaN always fails that predicate, results/results.go:36)."""
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    return pearson_with_stats(
        x, y, pearson_sum(x), pearson_sum(y), pearson_var(x), pearson_var(y)
    )


def pearson_sum(vec: Column | str) -> Column:
    """Element sum, exactly as the inline pearson() computes it."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    return F.aggregate(vec, F.lit(0.0), lambda a, v: a + v)


def pearson_var(vec: Column | str) -> Column:
    """n*var term (sxx - sx*sx/n), exactly as the inline pearson()
    computes it -- per-vector, so it can be evaluated once per row in a
    materialized frame instead of once per pair per expression copy."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    n = F.size(vec).cast("double")
    s = pearson_sum(vec)
    ss = F.aggregate(vec, F.lit(0.0), lambda a, v: a + v * v)
    return ss - s * s / n


def pearson_terms(vec, normalize: bool) -> tuple[list[float], float, float]:
    """Driver-side (TFunc(vec), pearson_sum, pearson_var) of one vector,
    bit-identical to l2_normalize / pearson_sum / pearson_var evaluated by
    Spark: the same IEEE ops as plain left folds in array order, as
    `aggregate` runs them (numpy's pairwise `sum` rounds differently)."""
    xs = [float(x) for x in vec]
    if normalize:
        ss = 0.0
        for x in xs:
            ss = ss + x * x
        norm = math.sqrt(ss)
        if norm != 0.0:  # l2_normalize passes a zero vector through
            xs = [x / norm for x in xs]
    s = ss = 0.0
    for x in xs:
        s = s + x
        ss = ss + x * x
    return xs, s, ss - s * s / float(len(xs))


def pearson_with_stats(
    x: Column | str,
    y: Column | str,
    sx: Column | str,
    sy: Column | str,
    vx: Column | str,
    vy: Column | str,
) -> Column:
    """pearson(x, y) with the per-side sum and variance terms supplied as
    columns (pearson_sum / pearson_var). Bit-identical to pearson(x, y):
    the same IEEE ops in the same order, with four of the five interpreted
    aggregates hoisted out of the per-pair expression (only the cross term
    sxy depends on both sides)."""
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    sx = F.col(sx) if isinstance(sx, str) else sx
    sy = F.col(sy) if isinstance(sy, str) else sy
    vx = F.col(vx) if isinstance(vx, str) else vx
    vy = F.col(vy) if isinstance(vy, str) else vy
    n = F.size(x).cast("double")
    sxy = F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda a, v: a + v
    )
    cov = sxy - sx * sy / n
    denom = F.sqrt(vx * vy)
    # NULL for zero variance and for a NaN quotient (NaN or inf inputs):
    # Spark orders NaN above every number, so NaN would pass both
    # `denom > 0` and the +1 snap below
    raw = F.when(denom > 0.0, F.nanvl(cov / denom, F.lit(None).cast("double")))
    # snap to exact +/-1 so threshold=1.0 keeps exact matches (see module
    # doc). The snap binds the quotient to a lambda variable, so the plan
    # holds (and every row evaluates) the quotient tree once; a `when` chain
    # over `raw` itself would copy it into each of its three branches.
    snapped = F.transform(
        F.array(raw),
        lambda r: F.when(r > F.lit(1.0 - SNAP_EPS), F.lit(1.0))
        .when(r < F.lit(-1.0 + SNAP_EPS), F.lit(-1.0))
        .otherwise(r),
    )
    return snapped[0]


def cosine(x: Column | str, y: Column | str) -> Column:
    """Cosine similarity, JVM-side; NULL for zero-norm inputs."""
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    return cosine_with_norms(x, y, vector_norm(x), vector_norm(y))


def cosine_with_norms(
    x: Column | str, y: Column | str, nx: Column | str, ny: Column | str
) -> Column:
    """cosine(x, y) with the per-side norms supplied as columns. Value is
    bit-identical to cosine(x, y) when nx/ny hold vector_norm(x)/(y) --
    identical IEEE ops in identical order -- but a norm computed ONCE per
    vector (in a materialized frame) replaces its re-evaluation inside
    every per-pair expression copy: the `when` snap chain and any
    pushed-down threshold filter textually duplicate the whole tree, so
    inline norms cost 2 interpreted 64-element aggregates per copy."""
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    nx = F.col(nx) if isinstance(nx, str) else nx
    ny = F.col(ny) if isinstance(ny, str) else ny
    dot = F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda a, v: a + v
    )
    denom = nx * ny
    raw = F.when(denom > 0.0, dot / denom)
    return (
        F.when(raw > F.lit(1.0 - SNAP_EPS), F.lit(1.0))
        .when(raw < F.lit(-1.0 + SNAP_EPS), F.lit(-1.0))
        .otherwise(raw)
    )


def dot(x: Column | str, y: Column | str) -> Column:
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda a, v: a + v
    )


def window_at(
    series: Column | str,
    series_index: Column | str,
    at_index: Column | str,
    sample_period: int,
    vector_length: int,
) -> Column:
    """Zero-padded fixed-length window of a merged series at a queried index
    (forwardindex/inmemory.go:61-82). All built-ins: slice + concat + repeat.

    start_offset = (at_index - series_index) / sample_period  (integer div;
    indexes are aligned multiples in practice, matching the reference's
    truncating Go division for non-negative offsets)."""
    series = F.col(series) if isinstance(series, str) else series
    series_index = F.col(series_index) if isinstance(series_index, str) else series_index
    at_index = F.col(at_index) if isinstance(at_index, str) else at_index
    start = ((at_index - series_index) / F.lit(sample_period)).cast("long")
    sliced = F.slice(series, start + 1, vector_length)  # 1-based, clamps at end
    pad_n = (F.lit(vector_length) - F.size(sliced)).cast("int")
    padded = F.concat(
        sliced,
        F.slice(F.array_repeat(F.lit(0.0), vector_length), F.lit(1), pad_n),
    )
    # negative start => reference would slice vec[start:...] with negative
    # index and panic; our rows never query before the series anchor, but
    # guard with a fully-zero window to stay total.
    return F.when(start >= 0, padded).otherwise(
        F.array_repeat(F.lit(0.0), vector_length)
    )


def row_index(index: Column | str, row_size: int) -> Column:
    """Row bucketing: index/RowSize*RowSize with Go's truncation-toward-zero
    integer division (tables/tables.go:77). Spark's `div` on longs truncates
    toward zero exactly like Go (and unlike floor division), with no
    double-precision loss on large epoch indexes."""
    index = F.col(index) if isinstance(index, str) else index
    return _go_div(index.cast("long"), row_size) * F.lit(row_size)


def _go_div(col: Column, divisor: int) -> Column:
    """Truncating integer division (Go/Java semantics) as a Column."""
    d = F.lit(int(divisor))
    q = (col - (col % d)) / d  # col % d has the sign of col => q truncates
    return q.cast("long")


# ---------------------------------------------------------------------------
# sign-hash pandas UDFs (the only Python in the hot path; Arrow-batched)
# ---------------------------------------------------------------------------


def _as_matrix(s: pd.Series, vec_len: int) -> np.ndarray:
    """Stack an Arrow list<double> series into an (N, V) float64 matrix."""
    if len(s) == 0:
        return np.empty((0, vec_len), dtype=np.float64)
    return np.array(list(s), dtype=np.float64)


def make_hash_tables_udf(planes: PlaneSet, normalize: bool = True):
    """pandas UDF: vector -> array<int> of per-table uint16 bucket hashes.

    The plane tensor rides inside the closure (Spark pickles it once per
    task -- for T=128,H=8,V=60 that's ~500KB, broadcast-sized). Each batch is
    one hyperplanes.hash16_tables call: a single (N, V) @ (V, T*H) matmul,
    mirroring the reference's per-table Hash16 loop (tables/tables.go:72).
    """
    stacked = planes.stacked  # capture ndarray, not the PlaneSet object
    cfg = planes.cfg
    t, h, v = cfg.num_tables, cfg.num_hyperplanes, cfg.vector_length

    @F.pandas_udf(ArrayType(IntegerType()))
    def hash_tables(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            hashes = hash16_tables(stacked, t, h, _as_matrix(s, v), normalize)
            yield pd.Series(list(hashes.astype(np.int64)))

    return hash_tables


def make_signature64_udf(planes: PlaneSet, normalize: bool = True, center: bool = False):
    """pandas UDF: vector -> 64-bit banded SimHash signature (LongType).
    Band b occupies bits [63-b*H .. 64-(b+1)*H] (hyperplanes.PlaneSet
    .signature64).

    center=True subtracts the row mean before hashing: SimHash collision
    probability then tracks the *Pearson* similarity used by verification
    (lsh/lsh.go:220) instead of raw cosine. Critical for feature families
    with a large common component (log-RMS audio envelopes all sit in one
    orthant -- uncentered, every pair collides and the bucket join
    degenerates to all-pairs). The reference-parity engine path keeps
    center=False to match TFunc (configs/lshconfigs.go:26-29).
    """
    stacked = planes.stacked
    cfg = planes.cfg
    if cfg.total_bits > 64:
        raise ValueError("signature64 requires num_tables*num_hyperplanes <= 64")
    v = cfg.vector_length
    weights = 1 << np.arange(63, 63 - cfg.total_bits, -1, dtype=np.uint64)

    @F.pandas_udf(LongType())
    def signature64(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            m = _as_matrix(s, v)
            if center:
                m = m - m.mean(axis=1, keepdims=True)
            if normalize:
                norms = np.linalg.norm(m, axis=1, keepdims=True)
                np.divide(m, norms, out=m, where=norms != 0)
            bits = (m @ stacked.T) > 0.0
            sig = (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)
            yield pd.Series(sig)

    return signature64


def band_hash(sig: Column | str, band: int, rows_per_band: int) -> Column:
    """Extract band b's bucket hash from a 64-bit signature, JVM-side:
    (sig >> (64 - (b+1)*H)) & (2^H - 1), unsigned shift. `band` is static
    (callers posexplode an array of all band hashes)."""
    sig = F.col(sig) if isinstance(sig, str) else sig
    shift = 64 - (band + 1) * rows_per_band
    mask = F.lit((1 << rows_per_band) - 1)
    return F.shiftrightunsigned(sig, shift).bitwiseAND(mask)


def band_hashes(sig: Column | str, num_bands: int, rows_per_band: int) -> Column:
    """Array of all per-band bucket hashes of a 64-bit signature."""
    return F.array(*[band_hash(sig, b, rows_per_band) for b in range(num_bands)])


def hamming64(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two 64-bit signatures: bit_count(a XOR b)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.bit_count(a.bitwiseXOR(b))
