"""Query path (O7-O14): search as DataFrame plans.

Reference trace (SURVEY.md §3.2): hash query -> per-table bucket lookup with
lag-bounded row enumeration (tables/tables.go:103-155) -> union across
tables and across the pos/neg sign branches (lsh/lsh.go:132-209) -> Pearson
scoring against zero-padded forward-index windows (lsh/lsh.go:212-224) ->
threshold/sign predicate (results/results.go:35-40) -> bounded top-K sorted
by descending |score| (results/results.go:43-69).

Two plan shapes:
  * search (SparkLSH.search_df, many queries): the Arrow hash UDF explodes
    each query into (table_id, hash) rows; ONE shuffle equi-join on
    (table_id, hash) is the goroutine-per-table fan-out
    (lsh/lsh.go:188-205); the query vectors join back as a broadcast on
    query_id; top-K is a per-query window row_number.
  * search_vector (SparkLSH.search, one query): a point query. The driver
    hashes the query (hyperplanes.hash16_tables), and the hashes and the
    vector enter the plan as JSON literals -- a constant number of py4j
    calls whatever num_tables and vector_length. A filter
    `hash = element_at(hashes, table_id + 1)` on the bucket scan replaces
    the join, and top-K is ORDER BY .. LIMIT (TakeOrderedAndProject): no
    query relation, no window, no Python.

Shared: lag row enumeration => `row_index BETWEEN` range predicate, which
prunes bucket partitions when buckets is partitioned by row_index;
mutex-merged candidate union => distinct (uid, index); negation trick
(lsh/lsh.go:163-166) => a second hash of -v. The window-slice, normalize,
Pearson, threshold and rank-order trees are functools.cache builders keyed
on the whole frozen LSHConfig / SearchOptions (as in operators/dedup.py),
so a plan costs py4j calls per query, not per expression node.

Scale notes: the bucket join shuffles on (table_id, hash) -- hot hashes are
handled by AQE skew-join (enabled in session.py). Python in the plans: only
search's hash-UDF projections (Arrow-batched, not per-row).
"""

from __future__ import annotations

import json
import operator
from dataclasses import dataclass
from functools import cache, reduce

import numpy as np
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from go_lsh_spark.config import (
    ALL_LAGS,
    SIGN_FILTER_ANY,
    SIGN_FILTER_NEG,
    SIGN_FILTER_POS,
    LSHConfig,
    SearchOptions,
)
from go_lsh_spark.functions import vector as V
from go_lsh_spark.hyperplanes import PlaneSet
from go_lsh_spark.operators.index import lag_bounds
from go_lsh_spark.oracle import go_div


@dataclass
class SearchResult:
    """Lazy handles on the two outputs of Search (scores + NumScored,
    lsh/lsh.go:128)."""

    scores: DataFrame      # query_id, uid, index, score (+ rank from search)
    candidates: DataFrame  # pre-threshold scored candidates (NumScored basis)

    def num_scored(self) -> dict[int, int]:
        rows = self.candidates.groupBy("query_id").count().collect()
        return {r["query_id"]: r["count"] for r in rows}


@cache
def _score_cols(cfg: LSHConfig) -> tuple[Column, Column, Column, Column]:
    """(_cvec_raw, _cvec, _qvec, score): the candidate's zero-padded
    forward-index window at its index (forwardindex/inmemory.go:61-82), the
    TFunc-transformed candidate and query (`vector`) vectors, and their
    Pearson score (lsh/lsh.go:212-224)."""
    raw = V.window_at(
        "series", "series_index", F.col("index"), cfg.sample_period, cfg.vector_length
    ).alias("_cvec_raw")
    tfunc = V.l2_normalize if cfg.normalize else F.col
    score = V.pearson("_qvec", "_cvec").alias("score")
    return raw, tfunc("_cvec_raw").alias("_cvec"), tfunc("vector").alias("_qvec"), score


@cache
def _lag_pred(opts: SearchOptions, cfg: LSHConfig) -> Column:
    """The MaxLag range predicates on a bucket row for the query index in
    `query_index` (tables/tables.go:109-150)."""
    if opts.max_lag > ALL_LAGS:
        start_idx, end_idx, start_row, end_row = lag_bounds(
            F.col("query_index"), opts.max_lag, cfg.row_size
        )
        # row-range predicate prunes bucket partitions; index-range is the
        # exact timestamp refinement (tables/tables.go:145-150)
        return F.col("row_index").between(start_row, end_row) & F.col("index").between(
            start_idx, end_idx
        )
    # AllLags keeps [0, MaxInt64]: the reference's startIdx stays at its
    # zero value (tables/tables.go:109-127), so negative indexes never match
    return F.col("index") >= 0


@cache
def _passed_col(opts: SearchOptions) -> Column:
    """O11 (results/results.go:35-40): |score| >= threshold AND sign
    matches. NULL scores (zero variance, NaN -> Go NaN) always fail."""
    score = F.col("score")
    pred = F.abs(score) >= F.lit(opts.threshold)
    if opts.sign_filter == SIGN_FILTER_POS:
        pred = pred & (score > 0)
    elif opts.sign_filter == SIGN_FILTER_NEG:
        pred = pred & (score < 0)
    return pred


@cache
def _rank_order() -> tuple[Column, ...]:
    """O12/O13: descending |score|, ties broken by descending index then
    uid (inverse of the heap's Less, results/results.go:82-101; Fetch emits
    descending |score|, results/results.go:59-69)."""
    return F.abs(F.col("score")).desc(), F.col("index").desc(), F.col("uid").desc()


def hash_queries(
    queries: DataFrame, cfg: LSHConfig, planes: PlaneSet, opts: SearchOptions,
    vector="vector",
) -> DataFrame:
    """(query_id, index, vector) -> exploded (query_id, index, table_id, hash)
    covering the sign branches requested by opts.sign_filter.

    POS/ANY hashes v; NEG/ANY additionally hashes -v (lsh/lsh.go:148-177).
    Both arrays come from one UDF projection; explode unions the branches.
    """
    hash_udf = V.make_hash_tables_udf(planes, normalize=cfg.normalize)
    branches = []
    if opts.sign_filter in (SIGN_FILTER_ANY, SIGN_FILTER_POS):
        branches.append(hash_udf(F.col(vector)).alias("_pos_hashes"))
    if opts.sign_filter in (SIGN_FILTER_ANY, SIGN_FILTER_NEG):
        branches.append(hash_udf(F.transform(F.col(vector), lambda x: -x)).alias("_neg_hashes"))
    q = queries.select("query_id", F.col("index").cast("long").alias("index"), *branches)
    exploded = (
        q.select("query_id", "index", F.posexplode(b).alias("table_id", "hash"))
        for b in q.columns[2:]
    )
    # same (table_id, hash) from both branches would double-count candidates
    return reduce(DataFrame.unionByName, exploded).dropDuplicates(["query_id", "table_id", "hash"])


def candidate_join(
    query_hashes: DataFrame, buckets: DataFrame, cfg: LSHConfig, opts: SearchOptions
) -> DataFrame:
    """The bucket lookup as an equi-join on (table_id, hash) with the
    MaxLag range predicates (tables/tables.go:109-150).

    Returns distinct (query_id, query_index, uid, index) candidates --
    the dropDuplicates is the Spark analogue of the reference's
    mutex-merged set union (lsh/lsh.go:192-203).
    """
    qh = query_hashes.withColumnRenamed("index", "query_index")
    b = buckets
    cond = [qh.table_id == b.table_id, qh.hash == b.hash]
    joined = qh.join(b, cond, "inner").filter(_lag_pred(opts, cfg))
    return joined.select(
        "query_id", "query_index", b.uid.alias("uid"), b.index.alias("index")
    ).dropDuplicates(["query_id", "uid", "index"])


def score_candidates(
    candidates: DataFrame, queries: DataFrame, forward: DataFrame, cfg: LSHConfig
) -> DataFrame:
    """O10: join candidates back to the forward index on uid, slice the
    window at the candidate's index and score it against the query's
    vector, joined as a broadcast on query_id. Inner joins reproduce the
    nil-vector skip (lsh/lsh.go:215-217). Entirely JVM-side."""
    raw, cvec, qvec, score = _score_cols(cfg)
    keys = ("query_id", "uid", "index")
    return (
        candidates.join(forward, "uid", "inner")
        .select(*keys, raw)
        .select(*keys, cvec)
        .join(F.broadcast(queries.select("query_id", qvec)), "query_id", "inner")
        .select(*keys, score)
    )


def lag_row_bounds(lo: int, hi: int, max_lag: int, row_size: int) -> tuple[int, int]:
    """Literal [start_row, end_row] covering every query index in [lo, hi]
    at max_lag (tables/tables.go:113-122, Go truncating division)."""
    start_row = go_div(lo - max_lag, row_size) * row_size
    end_row = go_div(hi + max_lag, row_size) * row_size
    return start_row, end_row


def search(
    queries: DataFrame,
    buckets: DataFrame,
    forward: DataFrame,
    cfg: LSHConfig,
    planes: PlaneSet,
    opts: SearchOptions | None = None,
) -> SearchResult:
    """O14 for a batch of queries (lsh/lsh.go:106-129): queries are
    (query_id, index, vector), hashed by the Arrow UDF; buckets/forward
    from operators.index.

    With max_lag >= 0 one eager min/max(index) pass over the (small,
    driver-submitted) queries yields a literal row range for the whole
    batch, so the bucket scan prunes row partitions instead of applying the
    lag bound only post-join (r2 verdict #3). The exact per-query lag
    refinement still applies in candidate_join.
    """
    opts = (opts or SearchOptions()).validate()
    row_bounds = None
    if opts.max_lag > ALL_LAGS:
        row = queries.agg(F.min("index").alias("lo"), F.max("index").alias("hi")).collect()[0]
        if row["lo"] is not None:
            row_bounds = lag_row_bounds(int(row["lo"]), int(row["hi"]), opts.max_lag, cfg.row_size)
    qh = hash_queries(queries, cfg, planes, opts)
    return search_hashed(queries, qh, buckets, forward, cfg, opts, row_bounds)


def search_hashed(
    queries: DataFrame,
    query_hashes: DataFrame,
    buckets: DataFrame,
    forward: DataFrame,
    cfg: LSHConfig,
    opts: SearchOptions,
    row_bounds: tuple[int, int] | None = None,
) -> SearchResult:
    """The many-query O8-O13 body: bucket join for hashed queries
    (query_id, index, table_id, hash), scoring against `queries`' vectors,
    threshold and a per-query window top-K (`rank`). `row_bounds` is a
    literal row_index range applied to the bucket scan (partition
    pruning)."""
    if row_bounds is not None:
        buckets = buckets.filter(F.col("row_index").between(*row_bounds))
    cands = candidate_join(query_hashes, buckets, cfg, opts)
    scored = score_candidates(cands, queries, forward, cfg)
    rank = F.row_number().over(Window.partitionBy("query_id").orderBy(*_rank_order()))
    scores = (
        scored.filter(_passed_col(opts))
        .withColumn("rank", rank)
        .filter(F.col("rank") <= opts.num_to_return)
    )
    return SearchResult(scores=scores, candidates=scored)


def _json_lit(value, ddl: str) -> Column:
    """`value` as a literal Column parsed from one JSON string: a constant
    number of py4j calls whatever its length (F.lit of a list costs calls
    per element). Doubles round-trip exactly, NaN and +/-Infinity included
    (from_json allows non-numeric numbers by default), and the optimizer
    folds the parse into a constant."""
    return F.from_json(F.lit(json.dumps(value)), ddl)


def search_vector(
    vector,
    index: int,
    buckets: DataFrame,
    forward: DataFrame,
    cfg: LSHConfig,
    planes: PlaneSet,
    opts: SearchOptions | None = None,
    num_scored: Observation | None = None,
) -> SearchResult:
    """O14 for one query vector (query_id 0) as a Python-free point query.

    The driver already holds the vector and the planes, so it hashes the
    query with the UDF's own kernel (hyperplanes.hash16_tables); the
    per-branch hash arrays, the vector and `index` enter the plan as
    literals, so the lag bounds fold to literals too. Bucket rows are
    picked by a filter on the bucket scan, and `scores` is the top-K in
    rank order (ORDER BY .. LIMIT), with no `rank` column. `num_scored`, if
    given, observes the scored-candidate count in the same action that
    collects the scores.
    """
    opts = (opts or SearchOptions()).validate()
    index = int(index)
    vec = np.asarray(vector, dtype=np.float64)
    signs = []
    if opts.sign_filter in (SIGN_FILTER_ANY, SIGN_FILTER_POS):
        signs.append(vec)
    if opts.sign_filter in (SIGN_FILTER_ANY, SIGN_FILTER_NEG):
        signs.append(-vec)
    hashes = planes.hash_tables(np.stack(signs), normalize=cfg.normalize)
    table_pos = F.col("table_id") + 1
    # one bucket row matching both branches is still one candidate
    hit = reduce(
        operator.or_,
        (F.col("hash") == F.element_at(_json_lit(h.tolist(), "array<int>"), table_pos) for h in hashes),
    )
    raw, cvec, qvec, score = _score_cols(cfg)
    scored = (
        buckets.withColumn("query_index", F.lit(index).cast("long"))
        .filter(_lag_pred(opts, cfg) & hit)
        .select("uid", "index")
        .distinct()
        .join(forward, "uid", "inner")
        .select("uid", "index", raw, _json_lit(vec.tolist(), "array<double>").alias("vector"))
        .select("uid", "index", cvec, qvec)
        .select(F.lit(0).cast("long").alias("query_id"), "uid", "index", score)
    )
    if num_scored is not None:
        scored = scored.observe(num_scored, F.count(F.lit(1)).alias("num_scored"))
    scores = scored.filter(_passed_col(opts)).orderBy(*_rank_order()).limit(opts.num_to_return)
    return SearchResult(scores=scores, candidates=scored)
