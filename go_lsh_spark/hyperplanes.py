"""Seeded random hyperplanes + the exact sign-hash kernel.

Reference parity:
  * plane generation: each component uniform(0,1)-0.5, then L2-normalize the
    plane (hyperplanes/hyperplanes.go:36-42). The reference draws from Go's
    *unseeded* global math/rand; we pin a numpy PCG64 seed so the Spark
    pipeline and the numpy oracle share one matrix (SURVEY.md §5 determinism
    note).
  * sign-hash bit order: bit for plane i is set iff dot(plane_i, v) > 0
    (strictly), packed MSB-first byte-by-byte, interpreted big-endian
    (hyperplanes/hyperplanes.go:103-128). For HashW (W in {8,16,32,64}) plane
    i therefore contributes 1 << (W-1-i).

Everything here is driver-side numpy; Spark sees the plane matrix only as a
broadcast constant inside vectorized pandas UDFs or as literal arrays in
column expressions.
"""

from __future__ import annotations

import numpy as np

from go_lsh_spark.config import LSHConfig


class Hyperplanes:
    """A (num_planes, vector_length) float64 matrix of unit-norm planes."""

    def __init__(self, planes: np.ndarray):
        planes = np.asarray(planes, dtype=np.float64)
        if planes.ndim != 2 or planes.shape[0] < 1 or planes.shape[1] < 1:
            raise ValueError("planes must be a (num_planes, vec_len) matrix")
        self.planes = planes

    @classmethod
    def generate(cls, num_planes: int, vec_len: int, seed: int) -> "Hyperplanes":
        """Seeded analogue of hyperplanes.New (hyperplanes/hyperplanes.go:25-45)."""
        if num_planes < 1:
            raise ValueError("invalid number of hyperplanes, must be at least 1")
        if vec_len < 1:
            raise ValueError("invalid vector length, must be at least 1")
        rng = np.random.default_rng(seed)
        planes = rng.random((num_planes, vec_len)) - 0.5
        planes /= np.linalg.norm(planes, axis=1, keepdims=True)
        return cls(planes)

    @property
    def num_planes(self) -> int:
        return self.planes.shape[0]

    @property
    def vec_len(self) -> int:
        return self.planes.shape[1]

    def hash_width(self, vectors: np.ndarray, width: int) -> np.ndarray:
        """Vectorized HashW over a (N, vec_len) batch -> (N,) uint64.

        Exact bit packing of hyperplanes/hyperplanes.go:103-128: plane i
        contributes 1 << (width-1-i) when dot(plane_i, v) > 0.
        """
        if self.num_planes > width:
            raise ValueError(
                "number of hyperplanes exceeds available bits to encode vector"
            )
        vectors = np.atleast_2d(np.asarray(vectors, dtype=np.float64))
        if vectors.shape[1] != self.vec_len:
            raise ValueError(
                f"vector length mismatch, has length {vectors.shape[1]} "
                f"when expecting length, {self.vec_len}"
            )
        bits = (vectors @ self.planes.T) > 0.0  # (N, H)
        weights = np.left_shift(
            np.uint64(1), np.arange(width - 1, width - 1 - self.num_planes, -1, dtype=np.uint64)
        )
        return (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)

    def hash8(self, v) -> int:
        return int(self.hash_width(v, 8)[0])

    def hash16(self, v) -> int:
        return int(self.hash_width(v, 16)[0])

    def hash32(self, v) -> int:
        return int(self.hash_width(v, 32)[0])

    def hash64(self, v) -> int:
        return int(self.hash_width(v, 64)[0])


def hash16_tables(
    stacked: np.ndarray, num_tables: int, num_hyperplanes: int, vectors,
    normalize: bool = False,
) -> np.ndarray:
    """The Hash16 kernel: (N, V) vectors -> (N, T) uint64 per-table bucket
    hashes. normalize=True applies TFunc v / ||v||2 to each row first
    (configs/lshconfigs.go:26-29); zero rows pass through unchanged.

    One matmul against the stacked (T*H, V) plane matrix, then per-table
    MSB-first packing at width 16 (tables/tables.go:72 uses Hash16). The
    index/search pandas UDF, the driver-side single-query path and the numpy
    oracle all call this function, so their hashes agree bit for bit.
    """
    m = np.atleast_2d(np.asarray(vectors, dtype=np.float64))
    if normalize:
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        m = m / np.where(norms != 0, norms, 1.0)
    bits = (m @ stacked.T) > 0.0  # (N, T*H)
    bits = bits.reshape(m.shape[0], num_tables, num_hyperplanes)
    weights = np.left_shift(
        np.uint64(1), np.arange(15, 15 - num_hyperplanes, -1, dtype=np.uint64)
    )
    return (bits.astype(np.uint64) * weights).sum(axis=2, dtype=np.uint64)


class PlaneSet:
    """All plane matrices for an LSHConfig, as one (T, H, V) tensor.

    independent_tables=True mirrors the reference: a fresh plane set per table
    (lsh/lsh.go:42-49), seeded seed+t per table. False draws T*H planes once
    and reshapes — the banded-signature form.
    """

    def __init__(self, cfg: LSHConfig):
        self.cfg = cfg
        t, h, v = cfg.num_tables, cfg.num_hyperplanes, cfg.vector_length
        if cfg.independent_tables:
            mats = [
                Hyperplanes.generate(h, v, cfg.seed + ti).planes for ti in range(t)
            ]
            self.tensor = np.stack(mats)  # (T, H, V)
        else:
            flat = Hyperplanes.generate(t * h, v, cfg.seed).planes
            self.tensor = flat.reshape(t, h, v)
        # (T*H, V) for a single matmul in the hashing hot path
        self.stacked = np.ascontiguousarray(self.tensor.reshape(t * h, v))

    def hash_tables(self, vectors: np.ndarray, normalize: bool = False) -> np.ndarray:
        """Per-table uint16 bucket hashes for a batch: (N, V) -> (N, T) uint64.
        See hash16_tables."""
        cfg = self.cfg
        return hash16_tables(
            self.stacked, cfg.num_tables, cfg.num_hyperplanes, vectors, normalize
        )

    def signature64(self, vectors: np.ndarray) -> np.ndarray:
        """Banded 64-bit signature: (N, V) -> (N,) int64 (bit i = plane i,
        MSB-first across the whole T*H <= 64 bit budget). Only valid for
        total_bits <= 64. Band b occupies bits [63-b*H .. 64-(b+1)*H]."""
        cfg = self.cfg
        if cfg.total_bits > 64:
            raise ValueError("signature64 requires num_tables*num_hyperplanes <= 64")
        vectors = np.atleast_2d(np.asarray(vectors, dtype=np.float64))
        bits = (vectors @ self.stacked.T) > 0.0  # (N, T*H)
        weights = np.left_shift(
            np.uint64(1), np.arange(63, 63 - cfg.total_bits, -1, dtype=np.uint64)
        )
        return (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64).astype(np.int64)


def band_hash_from_sig64(sig: np.ndarray, num_bands: int, rows_per_band: int) -> np.ndarray:
    """Slice a 64-bit signature column into per-band bucket hashes.

    Band b of a signature packed by PlaneSet.signature64 is bits
    [63 - b*H  downto  64 - (b+1)*H]; returns (N, num_bands) uint64 in
    [0, 2^rows_per_band).
    """
    sig = np.asarray(sig, dtype=np.uint64)
    out = np.empty((sig.shape[0], num_bands), dtype=np.uint64)
    mask = np.uint64((1 << rows_per_band) - 1)
    for b in range(num_bands):
        shift = np.uint64(64 - (b + 1) * rows_per_band)
        out[:, b] = (sig >> shift) & mask
    return out
