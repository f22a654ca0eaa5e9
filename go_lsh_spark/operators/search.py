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
    (table_id, hash) with the buckets is the goroutine-per-table fan-out
    (lsh/lsh.go:188-205); the distinct (uid, index) candidates join the
    forward index on uid, the query vectors join back as a broadcast on
    query_id, and top-K is a per-query window row_number.
  * search_vector (SparkLSH.search, one query): a point query on the
    search table (operators.index.build_search_table), which holds per
    indexed (uid, index) its bucket keys, TFunc'd window and Pearson terms.
    The driver hashes the query (hyperplanes.hash16_tables) into bucket
    keys and computes its TFunc and Pearson terms
    (functions.vector.pearson_terms); they enter the plan as literals -- a
    constant number of py4j calls whatever num_tables and vector_length.
    One filter `lag range AND arrays_overlap(keys, query keys)` picks the
    candidates, each scored from its stored terms, and top-K is ORDER BY ..
    LIMIT (TakeOrderedAndProject): one stage, no join, no shuffle, no
    Python.

Shared: lag row enumeration => `row_index BETWEEN` range predicate, which
prunes partitions when buckets or the search table are partitioned by
row_index; the mutex-merged candidate union => distinct (uid, index) (one
search-table row per (uid, index)); negation trick (lsh/lsh.go:163-166) =>
a second hash of -v. The window-slice, normalize, Pearson, filter,
threshold and rank-order trees are functools.cache builders keyed on the
whole frozen LSHConfig / SearchOptions (as in operators/dedup.py), so a
plan costs py4j calls per query, not per expression node.

Scale notes: the bucket join shuffles on (table_id, hash) -- hot hashes are
handled by AQE skew-join (enabled in session.py). Python in the plans: only
search's hash-UDF projections (Arrow-batched, not per-row).
"""

from __future__ import annotations

import json
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
from go_lsh_spark.operators.index import bucket_key, lag_bounds, window_cols
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
    raw, cvec = window_cols(cfg)
    tfunc = V.l2_normalize if cfg.normalize else F.col
    score = V.pearson("_qvec", "_cvec").alias("score")
    return raw, cvec, tfunc("vector").alias("_qvec"), score


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


@cache
def _table_filter(opts: SearchOptions, cfg: LSHConfig) -> Column:
    """A search-table row is a candidate when it lies in the query's lag
    range and shares a bucket with a hashed query (`_qkeys`)."""
    return _lag_pred(opts, cfg) & F.arrays_overlap(F.col("keys"), F.col("_qkeys"))


@cache
def _table_scored() -> tuple[Column, ...]:
    """(query_id, uid, index, score) of a search-table row against the
    query's TFunc'd vector and Pearson terms (`_qvec`, `_qsum`, `_qvar`)."""
    score = V.pearson_with_stats("_qvec", "cvec", "_qsum", "cvec_sum", "_qvar", "cvec_var")
    return F.lit(0).cast("long").alias("query_id"), F.col("uid"), F.col("index"), score.alias("score")


def search_vector(
    vector,
    index: int,
    table: DataFrame,
    cfg: LSHConfig,
    planes: PlaneSet,
    opts: SearchOptions | None = None,
    num_scored: Observation | None = None,
) -> SearchResult:
    """O14 for one query vector (query_id 0) against the search table
    (operators.index.build_search_table) as a Python-free point query.

    The driver already holds the vector and the planes, so it hashes the
    query with the UDF's own kernel (hyperplanes.hash16_tables) into the
    bucket keys of every requested sign branch, and computes the query's
    TFunc and Pearson terms (functions.vector.pearson_terms). Those, and
    `index`, enter the plan as literals, so the lag bounds fold to literals
    too. One filter on the table scan picks the candidates, and `scores` is
    the top-K in rank order (ORDER BY .. LIMIT), with no `rank` column: one
    stage, no shuffle. `num_scored`, if given, observes the scored-candidate
    count in the same action that collects the scores.
    """
    opts = (opts or SearchOptions()).validate()
    vec = np.asarray(vector, dtype=np.float64)
    signs = []
    if opts.sign_filter in (SIGN_FILTER_ANY, SIGN_FILTER_POS):
        signs.append(vec)
    if opts.sign_filter in (SIGN_FILTER_ANY, SIGN_FILTER_NEG):
        signs.append(-vec)
    hashes = planes.hash_tables(np.stack(signs), normalize=cfg.normalize)
    # a bucket matching both branches is still one candidate
    keys = sorted({bucket_key(t, h) for branch in hashes for t, h in enumerate(branch)})
    qvec, qsum, qvar = V.pearson_terms(vec, cfg.normalize)
    scored = (
        table.select(
            "*",
            F.lit(int(index)).cast("long").alias("query_index"),
            _json_lit(keys, "array<bigint>").alias("_qkeys"),
            _json_lit(qvec, "array<double>").alias("_qvec"),
            F.lit(qsum).alias("_qsum"),
            F.lit(qvar).alias("_qvar"),
        )
        .filter(_table_filter(opts, cfg))
        .select(*_table_scored())
    )
    if num_scored is not None:
        scored = scored.observe(num_scored, F.count(F.lit(1)).alias("num_scored"))
    scores = scored.filter(_passed_col(opts)).orderBy(*_rank_order()).limit(opts.num_to_return)
    return SearchResult(scores=scores, candidates=scored)
