"""SQL half of the search_sql workload: the 17 headline queries of
entry_queries.QUERIES (the bench.py list) over the embeddings / documents /
events tables of the repo's sf0.01 test data. A pass builds each query and
collects it; its row count and order-independent value hash (the
normalization of tools/crosscheck.py) must equal the pin in expected.json,
taken from runs that matched the query's DuckDB oracle SQL. (A count()
would let Catalyst prune the very expressions under test.)
"""

from __future__ import annotations

import os
import sys
import time

import inputs
from harness import ROOT

sys.path.insert(0, os.path.join(ROOT, "tools"))
from crosscheck import value_hash  # noqa: E402

HEADLINE = (
    "simhash_buckets",
    "bucket_join_pairs",
    "pearson_scores",
    "topk_cosine",
    "ann_lsh",
    "ann_ivf",
    "ann_recall",
    "ann_recall_ivf",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "exact_dedup",
    "token_counts",
    "token_simhash",
    "simhash_neardup_pairs",
    "cosine_neardup_pairs",
    "winnowing_fingerprints",
    "row_index_pruning",
)


class SqlState:
    def __init__(self, run, seed: int, expected: dict):
        self.sf_dir = run.path("sf")
        inputs.write_sql_tables(self.sf_dir, seed)
        self.pins = expected["sql_queries"]["pins"]


def run_query(run, st: SqlState, name: str, outcome, group: str = "sql") -> tuple[float, float]:
    """Build and collect one query, check it; returns (build_s, exec_s)."""
    from go_lsh_spark.entry_queries import QUERIES

    with run.group(f"{group}.{name}"):
        t0 = time.perf_counter()
        df = QUERIES[name][0](run.spark, st.sf_dir)
        t1 = time.perf_counter()
        rows = [tuple(r) for r in df.collect()]
        t2 = time.perf_counter()
    got, want = [len(rows), value_hash(rows, df.columns)], st.pins[name]
    outcome.record(got == want, f"sql {name}: {got} != pinned {want}")
    return t1 - t0, t2 - t1


def run_pass(run, st: SqlState, outcome, layers: dict) -> float:
    """One checked pass over the queries, one at a time; returns the total
    of build + collect walls and fills `layers` with each query's split."""
    total = 0.0
    for name in HEADLINE:
        build_s, exec_s = run_query(run, st, name, outcome)
        layers[f"sql.{name}.build_s"] = build_s
        layers[f"sql.{name}.exec_s"] = exec_s
        total += build_s + exec_s
    layers["sql.total_s"] = total
    return total
