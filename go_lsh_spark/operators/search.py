"""Query path (O7-O14): the full search pipeline as one DataFrame plan.

Reference trace (SURVEY.md §3.2): hash query -> per-table bucket lookup with
lag-bounded row enumeration (tables/tables.go:103-155) -> union across
tables and across the pos/neg sign branches (lsh/lsh.go:132-209) -> Pearson
scoring against zero-padded forward-index windows (lsh/lsh.go:212-224) ->
threshold/sign predicate (results/results.go:35-40) -> bounded top-K sorted
by descending |score| (results/results.go:43-69).

Spark shape:
  * goroutine-per-table fan-out (lsh/lsh.go:188-205)  => explode over
    table_id + ONE shuffle equi-join on (table_id, hash)
  * lag row enumeration => `row_index BETWEEN start_row AND end_row`
    range predicate -- pushes down to parquet/Iceberg partition pruning when
    buckets is partitioned by row_index
  * mutex-merged candidate union => dropDuplicates
  * negation trick (lsh/lsh.go:163-166) => second hash column from -v,
    computed in the same UDF pass (or the same driver matmul)
  * bounded heap => window row_number (per-query) / ORDER BY..LIMIT (global,
    Catalyst rewrites to TakeOrderedAndProject)

Scale notes: the bucket join shuffles on (table_id, hash) -- hot hashes are
handled by AQE skew-join (enabled in session.py); the scoring join on uid
broadcasts the candidate side when queries are few. Python in the plan:
only search's hash-UDF projections (Arrow-batched, not per-row);
search_vector hashes its one query on the driver, so its plan has none.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
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

    scores: DataFrame      # query_id, uid, index, score, rank
    candidates: DataFrame  # pre-threshold scored candidates (NumScored basis)

    def num_scored(self) -> dict[int, int]:
        rows = self.candidates.groupBy("query_id").count().collect()
        return {r["query_id"]: r["count"] for r in rows}


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
    q = queries
    branches = []
    if opts.sign_filter in (SIGN_FILTER_ANY, SIGN_FILTER_POS):
        branches.append(F.col("_pos_hashes"))
        q = q.withColumn("_pos_hashes", hash_udf(F.col(vector)))
    if opts.sign_filter in (SIGN_FILTER_ANY, SIGN_FILTER_NEG):
        branches.append(F.col("_neg_hashes"))
        q = q.withColumn(
            "_neg_hashes", hash_udf(F.transform(F.col(vector), lambda x: -x))
        )
    exploded = []
    for b in branches:
        exploded.append(
            q.select(
                "query_id",
                F.col("index").cast("long").alias("index"),
                F.posexplode(b).alias("table_id", "hash"),
            )
        )
    out = exploded[0]
    for e in exploded[1:]:
        out = out.unionByName(e)
    # same (table_id, hash) from both branches would double-count candidates
    return out.dropDuplicates(["query_id", "table_id", "hash"])


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
    joined = qh.join(b, cond, "inner")
    if opts.max_lag > ALL_LAGS:
        start_idx, end_idx, start_row, end_row = lag_bounds(
            F.col("query_index"), opts.max_lag, cfg.row_size
        )
        # row-range predicate prunes bucket partitions; index-range is the
        # exact timestamp refinement (tables/tables.go:145-150)
        joined = joined.filter(
            b.row_index.between(start_row, end_row)
            & b.index.between(start_idx, end_idx)
        )
    else:
        # AllLags keeps [0, MaxInt64]: the reference's startIdx stays at its
        # zero value (tables/tables.go:109-127), so negative indexes never match
        joined = joined.filter(b.index >= 0)
    return joined.select(
        "query_id", "query_index", b.uid.alias("uid"), b.index.alias("index")
    ).dropDuplicates(["query_id", "uid", "index"])


def score_candidates(
    candidates: DataFrame,
    queries: DataFrame,
    forward: DataFrame,
    cfg: LSHConfig,
    query_vector="vector",
) -> DataFrame:
    """O10: join candidates back to the forward index on uid, slice the
    zero-padded window at the candidate's index (forwardindex/inmemory.go:
    61-82), and compute Pearson correlation against the (normalized) query
    (lsh/lsh.go:212-224). Inner joins reproduce the nil-vector skip
    (lsh/lsh.go:215-217).

    Entirely JVM-side: window slice + Pearson are built-in expressions.
    """
    qv = queries.select(
        "query_id",
        V.l2_normalize(query_vector).alias("_qvec")
        if cfg.normalize
        else F.col(query_vector).alias("_qvec"),
    )
    window = V.window_at(
        "series", "series_index", F.col("index"), cfg.sample_period, cfg.vector_length
    )
    cand_vec = (
        candidates.join(forward, "uid", "inner")
        .withColumn("_cvec_raw", window)
        .withColumn(
            "_cvec", V.l2_normalize("_cvec_raw") if cfg.normalize else F.col("_cvec_raw")
        )
    )
    return (
        cand_vec.join(F.broadcast(qv), "query_id", "inner")
        .withColumn("score", V.pearson("_qvec", "_cvec"))
        .select("query_id", "uid", "index", "score")
    )


def threshold_filter(scored: DataFrame, opts: SearchOptions) -> DataFrame:
    """O11 (results/results.go:35-40): |score| >= threshold AND sign matches.
    NULL scores (zero variance -> Go NaN) always fail."""
    pred = F.col("score").isNotNull() & (F.abs(F.col("score")) >= F.lit(opts.threshold))
    if opts.sign_filter == SIGN_FILTER_POS:
        pred = pred & (F.col("score") > 0)
    elif opts.sign_filter == SIGN_FILTER_NEG:
        pred = pred & (F.col("score") < 0)
    return scored.filter(pred)


def top_k(passed: DataFrame, k: int) -> DataFrame:
    """O12/O13: per-query bounded top-K by descending |score|, ties broken by
    descending index then uid (inverse of the heap's Less,
    results/results.go:82-101; Fetch emits descending |score|,
    results/results.go:59-69)."""
    w = Window.partitionBy("query_id").orderBy(
        F.abs(F.col("score")).desc(), F.col("index").desc(), F.col("uid").desc()
    )
    return (
        passed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
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


def search_vector(
    spark: SparkSession,
    vector,
    index: int,
    buckets: DataFrame,
    forward: DataFrame,
    cfg: LSHConfig,
    planes: PlaneSet,
    opts: SearchOptions | None = None,
    num_scored: Observation | None = None,
) -> SearchResult:
    """O14 for one query vector (query_id 0) as a single Python-free plan.

    The driver already holds the vector and the planes, so it hashes the
    query with the UDF's own kernel (hyperplanes.hash16_tables) and ships
    the T (2T for ANY) hashes and the vector as literal local relations; the
    row range comes from `index` directly. A one-row Arrow UDF would be
    almost all worker round-trip, and the min/max pass would be a job of its
    own. `num_scored`, if given, observes the scored-candidate count in the
    same action that collects the scores.
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
    # same (table_id, hash) from both branches would double-count candidates
    distinct = sorted({(t, int(h)) for row in hashes for t, h in enumerate(row)})
    qh = _local_relation(
        spark,
        [(0, index, t, h) for t, h in distinct],
        "query_id long, index long, table_id int, hash int",
    )
    queries = _local_relation(
        spark, [(0, index, vec.tolist())], "query_id long, index long, vector array<double>"
    )
    row_bounds = None
    if opts.max_lag > ALL_LAGS:
        row_bounds = lag_row_bounds(index, index, opts.max_lag, cfg.row_size)
    return search_hashed(queries, qh, buckets, forward, cfg, opts, row_bounds, num_scored)


def _local_relation(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Rows as a SQL VALUES table: a LocalRelation with exact size
    statistics, so joins broadcast it without running a job to collect it
    (createDataFrame would make an RDD scan). Values travel as named
    parameters; positional `?` markers inside VALUES bind out of order on
    Spark 4.1."""
    names, types = zip(*(c.split() for c in schema.split(",")))
    width = len(names)
    tuples = ", ".join(
        "(" + ", ".join(f":p{i * width + j}" for j in range(width)) + ")"
        for i in range(len(rows))
    )
    values = spark.sql(
        f"SELECT * FROM VALUES {tuples} AS t({', '.join(names)})",
        args={f"p{k}": v for k, v in enumerate(v for r in rows for v in r)},
    )
    return values.select([F.col(n).cast(t) for n, t in zip(names, types)])


def search_hashed(
    queries: DataFrame,
    query_hashes: DataFrame,
    buckets: DataFrame,
    forward: DataFrame,
    cfg: LSHConfig,
    opts: SearchOptions,
    row_bounds: tuple[int, int] | None = None,
    num_scored: Observation | None = None,
) -> SearchResult:
    """The shared O8-O13 body: bucket lookup for hashed queries
    (query_id, index, table_id, hash), scoring against `queries`' vectors,
    threshold and top-K. `row_bounds` is a literal row_index range applied
    to the bucket scan (partition pruning); `num_scored` observes the
    scored-candidate count (NumScored) on whatever action runs the scores.
    """
    if row_bounds is not None:
        buckets = buckets.filter(F.col("row_index").between(*row_bounds))
    cands = candidate_join(query_hashes, buckets, cfg, opts)
    scored = score_candidates(cands, queries, forward, cfg)
    if num_scored is not None:
        scored = scored.observe(num_scored, F.count(F.lit(1)).alias("num_scored"))
    passed = threshold_filter(scored, opts)
    return SearchResult(scores=top_k(passed, opts.num_to_return), candidates=scored)
