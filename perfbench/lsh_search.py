"""LSH search half of the search_sql workload: the reference-parity engine.

SparkLSH.index builds the bucket and forward tables for the five noisy
waveform families (vector length 60, default H=8 / T=128); single-vector
family queries go through SparkLSH.search (POS, theta 0.65) and, in a
traced run, one batch of them through SparkLSH.search_df. Every result set
is checked against the numpy brute-force POS ``corr >= theta`` set.
"""

from __future__ import annotations

import time

import numpy as np

import inputs

THETA = 0.65
BATCH_COPIES = 2  # search_df batch: every query family this many times


class LshState:
    def __init__(self, run, seed: int):
        from go_lsh_spark.config import SIGN_FILTER_POS, LSHConfig, SearchOptions

        self.uids, self.vecs = inputs.lsh_corpus(seed)
        path = run.path("lsh_docs")
        inputs.write_lsh_docs(path, self.uids, self.vecs)
        self.docs = run.spark.read.parquet(path)
        self.cfg = LSHConfig(vector_length=inputs.LSH_VEC_LEN)
        self.opts = SearchOptions(
            num_to_return=len(self.uids), threshold=THETA, sign_filter=SIGN_FILTER_POS
        )
        self.queries = inputs.query_vectors()
        self.expected = [self._brute_force(q) for q in self.queries]
        self.engine = None  # set by index()

    def _brute_force(self, q: np.ndarray) -> set[int]:
        qc = q - q.mean()
        vc = self.vecs - self.vecs.mean(axis=1, keepdims=True)
        corr = (vc @ qc) / (np.linalg.norm(vc, axis=1) * np.linalg.norm(qc))
        return {int(u) for u, c in zip(self.uids, corr) if c >= THETA}


def single_search(st: LshState, i: int, outcome):
    """One SparkLSH.search; returns (latency_s, candidates scored)."""
    t0 = time.perf_counter()
    scores, num_scored = st.engine.search(st.queries[i], 0, st.opts)
    dt = time.perf_counter() - t0
    got = {u for u, _, _ in scores}
    outcome.record(got == st.expected[i], f"search {inputs.QUERY_FAMILIES[i]}: {len(got)} != {len(st.expected[i])} brute force")
    return dt, num_scored


def batch_search(run, st: LshState, outcome) -> tuple[float, int]:
    """One search_df over every query family BATCH_COPIES times; returns
    (wall_s, queries)."""
    n = len(st.queries) * BATCH_COPIES
    q = run.spark.createDataFrame(
        [(k, 0, [float(x) for x in st.queries[k % len(st.queries)]]) for k in range(n)],
        "query_id long, index long, vector array<double>",
    )
    t0 = time.perf_counter()
    rows = st.engine.search_df(q, st.opts).scores.select("query_id", "uid").collect()
    dt = time.perf_counter() - t0
    got: dict[int, set[int]] = {k: set() for k in range(n)}
    for r in rows:
        got[r["query_id"]].add(r["uid"])
    outcome.record(
        all(got[k] == st.expected[k % len(st.queries)] for k in range(n)),
        "search_df rows differ from the single-query rows",
    )
    return dt, n


def index(run, st: LshState, layers: dict) -> None:
    """Index once (set-up): SparkLSH.index plus materializing both tables."""
    from go_lsh_spark.engine import SparkLSH

    with run.group("index"):
        t0 = time.perf_counter()
        st.engine = SparkLSH(run.spark, st.cfg).index(st.docs, merge_series=False)
        st.engine.forward.count()
        layers["index.bucket_rows"] = st.engine.buckets.count()
        layers["index.wall_s"] = time.perf_counter() - t0


def warm(run, st: LshState, outcome) -> None:
    """One untimed, checked search: every family runs the same plan."""
    with run.group("warmup.search"):
        single_search(st, 0, outcome)


def measure(run, st: LshState, outcome, seconds: float, layers: dict) -> list[float]:
    """Single searches in a closed loop over the query families for
    `seconds`, at least one per family; returns their latencies. A traced
    run then makes one search_df."""
    lat, cands = [], []
    t_end = time.perf_counter() + seconds
    while len(lat) < len(st.queries) or time.perf_counter() < t_end:
        with run.group(f"search.{len(lat)}"):
            dt, num_scored = single_search(st, len(lat) % len(st.queries), outcome)
        lat.append(dt)
        cands.append(num_scored)
    layers["search.candidates_per_query"] = float(np.mean(cands))
    if run.trace:
        with run.group("search_batch"):
            wall, n = batch_search(run, st, outcome)
        layers["search_batch.wall_s"] = wall
        layers["search_batch.qps"] = n / wall
    return lat


def layers_from_eventlog(groups, layers: dict) -> None:
    layers["index.jobs"] = groups["index"].jobs
    layers["index.tasks"] = groups["index"].tasks
    per_q = [t for g, t in groups.items() if g.startswith("search.")]
    layers["search.jobs_per_query"] = float(np.mean([t.jobs for t in per_q]))
    layers["search.tasks_per_query"] = float(np.mean([t.tasks for t in per_q]))
    layers["search_batch.shuffle_bytes"] = groups["search_batch"].shuffle_write_bytes
