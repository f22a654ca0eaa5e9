"""Pure-numpy oracle reproducing the reference engine's exact semantics.

This is NOT the Spark engine — it is the single-process ground truth the
pytest suite compares the Spark pipeline against (SURVEY.md §5: parity is
tested under a *seeded* plane matrix shared by oracle and pipeline, since the
reference's own RNG is unseeded).

Semantics traced from /root/reference:
  * Index: length check -> stddev!=0 check -> TFunc L2 normalize -> per-table
    Hash16 -> bucket (row_index, hash) -> doc2hash ; forward-index splice
    merge (lsh/lsh.go:62-90, tables/tables.go:68-101,
    forwardindex/inmemory.go:30-59)
  * Delete: remove uid everywhere; missing -> DocumentNotStored
    (lsh/lsh.go:93-102, tables/tables.go:157-181)
  * Search: TFunc -> pos/neg candidate union (lsh/lsh.go:132-180) ->
    per-table (row, hash) lookup with lag row enumeration + timestamp filter
    (tables/tables.go:103-155) -> Pearson scoring against zero-padded forward
    index windows (lsh/lsh.go:212-224, forwardindex/inmemory.go:61-82) ->
    threshold/sign filter (results/results.go:35-40) -> bounded top-K,
    descending |score| (results/results.go:43-69,82-101)
  * Stats: false-negative curve (lsh/lsh.go:267-287)
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from go_lsh_spark.config import (
    ALL_LAGS,
    SIGN_FILTER_ANY,
    SIGN_FILTER_NEG,
    SIGN_FILTER_POS,
    LSHConfig,
    SearchOptions,
)
from go_lsh_spark.hyperplanes import PlaneSet


class InvalidDocument(ValueError):
    """vector length does not match with the configured options (lsh/lsh.go:21)"""


class NoVectorComplexity(ValueError):
    """vector does not have enough complexity with a standard deviation of 0
    (lsh/lsh.go:23)"""


class DocumentNotStored(KeyError):
    """document id is not stored in the lsh tables (lsherrors/lsherrors.go:5-8)"""


def go_div(a: int, b: int) -> int:
    """Go integer division truncates toward zero; Python's // floors toward
    -inf. They differ exactly when the signs differ and there is a remainder
    -- shared by the oracle and any driver-side row bucketing so negative
    indexes enumerate the same rows as the reference (and as the Spark
    kernel's _go_div, functions/vector.py)."""
    q = a // b
    if a % b != 0 and (a < 0) != (b < 0):
        q += 1
    return q


def _l2_normalize(v: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(v)
    return v / n if n != 0 else v


def pearson(x: np.ndarray, y: np.ndarray) -> float:
    """gonum stat.Correlation with nil weights: sample Pearson correlation
    (lsh/lsh.go:220). Returns NaN for zero-variance inputs, like gonum."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    xc = x - x.mean()
    yc = y - y.mean()
    denom = math.sqrt((xc * xc).sum() * (yc * yc).sum())
    if denom == 0:
        return float("nan")
    r = float((xc * yc).sum() / denom)
    # snap to exact +/-1 (shared with the Spark kernel, functions/vector.py)
    # so exact-match thresholds behave deterministically under fp rounding
    if r > 1.0 - 1e-9:
        return 1.0
    if r < -1.0 + 1e-9:
        return -1.0
    return r


@dataclass
class Score:
    uid: int
    index: int
    score: float


class OracleLSH:
    """In-memory reference oracle (uid -> one spliced series, per-table
    bucket maps)."""

    def __init__(self, cfg: LSHConfig, planes: PlaneSet | None = None):
        cfg.validate()
        self.cfg = cfg
        self.planes = planes or PlaneSet(cfg)
        # per table: {row_index: {hash: set(uid)}}
        self.tables = [dict() for _ in range(cfg.num_tables)]
        # per table: {uid: {hash: [indexes]}}
        self.doc2hash = [dict() for _ in range(cfg.num_tables)]
        # forward index: uid -> (first_index, growing vector)
        self.docs: dict[int, tuple[int, np.ndarray]] = {}

    # -- ingest (lsh/lsh.go:62-90) --------------------------------------
    def index(self, uid: int, index: int, vector) -> None:
        vec = np.asarray(vector, dtype=np.float64)
        if vec.shape[0] != self.cfg.vector_length:
            raise InvalidDocument
        if np.std(vec, ddof=1) == 0:  # gonum StdDev is the sample stddev
            raise NoVectorComplexity
        hashes = self.planes.hash_tables(vec, normalize=self.cfg.normalize)[0]  # (T,)
        row_index = go_div(index, self.cfg.row_size) * self.cfg.row_size
        for t in range(self.cfg.num_tables):
            h = int(hashes[t])
            self.tables[t].setdefault(row_index, {}).setdefault(h, set()).add(uid)
            self.doc2hash[t].setdefault(uid, {}).setdefault(h, []).append(index)
        self._forward_index(uid, index, vec)

    def _forward_index(self, uid: int, index: int, vec: np.ndarray) -> None:
        """Splice-merge (forwardindex/inmemory.go:30-59): offset in samples,
        overwrite overlap, zero-pad gap, drop past-dated windows."""
        if uid in self.docs:
            cur_index, cur_vec = self.docs[uid]
            offset = go_div(index, self.cfg.sample_period) - go_div(cur_index, self.cfg.sample_period)
            if offset > 0:
                need = offset + len(vec)
                if need > len(cur_vec):
                    cur_vec = np.concatenate(
                        [cur_vec, np.zeros(need - len(cur_vec))]
                    )
                cur_vec[offset : offset + len(vec)] = vec
                self.docs[uid] = (cur_index, cur_vec)
            # offset <= 0: "not handling docs that are in the past"
        else:
            self.docs[uid] = (index, vec.copy())

    def get_vector(self, uid: int, idx: int) -> np.ndarray | None:
        """forwardindex/inmemory.go:61-82: fixed window slice, zero-padded."""
        if uid not in self.docs:
            return None
        d_index, vec = self.docs[uid]
        start = go_div(idx - d_index, self.cfg.sample_period)
        end = min(start + self.cfg.vector_length, len(vec))
        out = np.zeros(self.cfg.vector_length)
        if start < end:
            out[: end - start] = vec[start:end]
        return out

    # -- delete (lsh/lsh.go:93-102) --------------------------------------
    def delete(self, uid: int) -> None:
        missing = all(uid not in d2h for d2h in self.doc2hash)
        for t in range(self.cfg.num_tables):
            hashes = self.doc2hash[t].pop(uid, None)
            if hashes is None:
                continue
            for row in self.tables[t].values():
                for h in hashes:
                    bucket = row.get(h)
                    if bucket is not None:
                        bucket.discard(uid)
                        if not bucket:
                            del row[h]
        self.docs.pop(uid, None)
        if missing:
            raise DocumentNotStored

    # -- search (lsh/lsh.go:106-224) --------------------------------------
    def search(
        self, vector, index: int = 0, opts: SearchOptions | None = None
    ) -> tuple[list[Score], int]:
        vec = np.asarray(vector, dtype=np.float64)
        if vec.shape[0] != self.cfg.vector_length:
            raise InvalidDocument
        q = _l2_normalize(vec) if self.cfg.normalize else vec
        opts = (opts or SearchOptions()).validate()

        pos_hashes, neg_hashes = self.planes.hash_tables(
            np.stack([vec, -vec]), normalize=self.cfg.normalize
        )
        cands: dict[int, set[int]] = {}
        if opts.sign_filter in (SIGN_FILTER_ANY, SIGN_FILTER_POS):
            self._merge(cands, self._filter_by_lag(pos_hashes, index, opts.max_lag))
        if opts.sign_filter in (SIGN_FILTER_ANY, SIGN_FILTER_NEG):
            self._merge(cands, self._filter_by_lag(neg_hashes, index, opts.max_lag))

        num_scored = 0
        passed: list[Score] = []
        for uid, idxs in cands.items():
            for idx in idxs:
                cvec = self.get_vector(uid, idx)
                if cvec is None:
                    continue
                num_scored += 1
                s = pearson(q, _l2_normalize(cvec) if self.cfg.normalize else cvec)
                if not (abs(s) >= opts.threshold):  # NaN fails, like Go
                    continue
                if opts.sign_filter == SIGN_FILTER_POS and not s > 0:
                    continue
                if opts.sign_filter == SIGN_FILTER_NEG and not s < 0:
                    continue
                passed.append(Score(uid, idx, s))
        # bounded top-K by |score| desc; heap Less tie-break (results/results.go:82-101)
        passed.sort(key=lambda s: (-abs(s.score), -s.index, -s.uid))
        return passed[: opts.num_to_return], num_scored

    @staticmethod
    def _merge(into: dict[int, set[int]], frm: dict[int, set[int]]) -> None:
        for uid, idxs in frm.items():
            into.setdefault(uid, set()).update(idxs)

    def _filter_by_lag(self, hashes: np.ndarray, index: int, max_lag: int) -> dict[int, set[int]]:
        """tables/tables.go:103-155 across all tables (lsh/lsh.go:182-209),
        for one query's (T,) per-table hashes."""
        out: dict[int, set[int]] = {}
        start_idx, end_idx = 0, np.iinfo(np.int64).max
        if max_lag > ALL_LAGS:
            start_idx = index - max_lag
            end_idx = index + max_lag
        for t in range(self.cfg.num_tables):
            h = int(hashes[t])
            if max_lag > ALL_LAGS:
                start_row = go_div(start_idx, self.cfg.row_size) * self.cfg.row_size
                end_row = go_div(end_idx, self.cfg.row_size) * self.cfg.row_size
                rows = range(start_row, end_row + 1, self.cfg.row_size)
            else:
                rows = list(self.tables[t].keys())
            for row_index in rows:
                bucket = self.tables[t].get(row_index, {}).get(h)
                if not bucket:
                    continue
                for uid in bucket:
                    keep = {
                        i
                        for i in self.doc2hash[t][uid][h]
                        if start_idx <= i <= end_idx
                    }
                    if keep:
                        out.setdefault(uid, set()).update(keep)
                    else:
                        out.setdefault(uid, set())
        return out

    # -- stats (lsh/lsh.go:267-287) ----------------------------------------
    def stats(self) -> dict:
        return compute_stats(self.cfg, len(self.docs))


def compute_stats(cfg: LSHConfig, num_docs: int) -> dict:
    """False-negative probability curve (lsh/lsh.go:271-285):
    p_diff = (2/pi) acos(theta); P(miss) = (1 - (1-p_diff)^H)^T."""
    errors = []
    theta = 0.60
    while theta < 1.0 - 1e-12:
        pdiff = 2.0 / math.pi * math.acos(min(theta, 1.0))
        psame = 1.0 - pdiff
        fneg = (1.0 - psame**cfg.num_hyperplanes) ** cfg.num_tables
        errors.append({"threshold": round(theta, 2), "probability": fneg})
        theta += 0.05
    return {"num_docs": num_docs, "false_negative_errors": errors}


def brute_force_pairs(
    uids: np.ndarray, vectors: np.ndarray, threshold: float
) -> set[tuple[int, int]]:
    """All-pairs ground truth for the dedup recall gate: pairs with
    |Pearson| >= threshold (the verification predicate the pipeline applies,
    results/results.go:35-40). O(N^2) — test scale only."""
    v = np.asarray(vectors, dtype=np.float64)
    vc = v - v.mean(axis=1, keepdims=True)
    norms = np.linalg.norm(vc, axis=1)
    norms[norms == 0] = np.inf
    corr = (vc @ vc.T) / np.outer(norms, norms)
    out = set()
    n = len(uids)
    iu, ju = np.triu_indices(n, k=1)
    hit = np.abs(corr[iu, ju]) >= threshold
    for i, j in zip(iu[hit], ju[hit]):
        a, b = int(uids[i]), int(uids[j])
        out.add((min(a, b), max(a, b)))
    return out


def lsh_candidate_pairs_oracle(
    cfg: LSHConfig, planes: PlaneSet, uids: np.ndarray, vectors: np.ndarray,
    center: bool = False,
) -> set[tuple[int, int]]:
    """The exact candidate-pair set the reference's bucket structure implies:
    two docs are candidates iff they share a (table, hash) bucket. Ground
    truth for bucket-join recall (must be 1.0 at identical planes).
    center=True mirrors the dedup pipeline's mean-centered hashing."""
    v = np.asarray(vectors, dtype=np.float64)
    if center:
        v = v - v.mean(axis=1, keepdims=True)
    hashes = planes.hash_tables(v, normalize=cfg.normalize)  # (N, T)
    pairs: set[tuple[int, int]] = set()
    for t in range(cfg.num_tables):
        buckets: dict[int, list[int]] = {}
        for uid, h in zip(uids, hashes[:, t]):
            buckets.setdefault(int(h), []).append(int(uid))
        for members in buckets.values():
            members.sort()
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    pairs.add((members[i], members[j]))
    return pairs
