"""Ingest path (O5/O6): documents -> forward index + bucket tables; deletes.

Reference trace (SURVEY.md §3.1): LSH.Index validates (length, stddev!=0),
L2-normalizes, hashes into every table's (row_index, hash) bucket, and
upserts the forward index with splice-merge (/root/reference/lsh/lsh.go:62-90,
tables/tables.go:68-101, forwardindex/inmemory.go:30-59).

Spark shape: the per-table loop becomes a *data* dimension (posexplode of the
per-table hash array); Go error returns become a rejects side-output; bitmap
mutation becomes an append-only `buckets` table partitioned by `row_index`
(the partition-pruning analogue of the reference's row-bucket enumeration,
tables/tables.go:113-122) and clustered by `hash`. The search table
(build_search_table) is derived from buckets + forward for single-query
search: one row per (uid, index) with everything a search reads about it.

Scale notes (100TB): one pandas-UDF projection + one explode => narrow
pipeline, no shuffle until the optional repartition-for-write; bucket rows
are ~40 bytes each so T=128 tables cost 128x input rows -- the banded sig64
path in operators/dedup.py is the scale form (T<=8 bands over one LongType),
this unbanded form exists for reference parity.
"""

from __future__ import annotations

from functools import cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_lsh_spark.config import LSHConfig
from go_lsh_spark.functions import vector as V
from go_lsh_spark.hyperplanes import PlaneSet

REJECT_INVALID_LENGTH = "ErrInvalidDocument"  # lsh/lsh.go:21
REJECT_NO_COMPLEXITY = "ErrNoVectorComplexity"  # lsh/lsh.go:23


def validate_documents(
    df: DataFrame, cfg: LSHConfig, uid="uid", index="index", vector="vector"
) -> tuple[DataFrame, DataFrame]:
    """Split documents into (valid, rejects(reason)).

    Mirrors lsh/lsh.go:64-70: wrong vector length -> ErrInvalidDocument;
    sample-stddev == 0 -> ErrNoVectorComplexity. Go returns errors; a
    dataflow engine routes them to a side output.
    """
    reason = (
        F.when(F.size(vector) != cfg.vector_length, F.lit(REJECT_INVALID_LENGTH))
        .when(V.sample_stddev(vector) == 0.0, F.lit(REJECT_NO_COMPLEXITY))
        .otherwise(F.lit(None))
    )
    tagged = df.withColumn("_reject_reason", reason)
    valid = tagged.filter(F.col("_reject_reason").isNull()).drop("_reject_reason")
    rejects = tagged.filter(F.col("_reject_reason").isNotNull()).withColumnRenamed(
        "_reject_reason", "reason"
    )
    return valid, rejects


def build_buckets(
    df: DataFrame,
    cfg: LSHConfig,
    planes: PlaneSet,
    uid="uid",
    index="index",
    vector="vector",
) -> DataFrame:
    """documents -> buckets(table_id, row_index, hash, uid, index).

    One Arrow-batched matmul produces all T per-table Hash16 values
    (tables/tables.go:72), then posexplode turns the table loop
    (lsh/lsh.go:83-90) into rows. row_index = index/RowSize*RowSize
    (tables/tables.go:77).

    The explode is the _outer form: a validated document always hashes to
    T values, so both forms give the same rows, but for plain posexplode
    the optimizer infers a `size(_hashes) > 0` filter and pushes it below
    the projection, which evaluates the hash UDF a second time.
    """
    hash_udf = V.make_hash_tables_udf(planes, normalize=cfg.normalize)
    return (
        df.withColumn("_hashes", hash_udf(F.col(vector)))
        .select(
            F.col(uid).alias("uid"),
            F.col(index).cast("long").alias("index"),
            F.posexplode_outer("_hashes").alias("table_id", "hash"),
        )
        .withColumn("row_index", V.row_index("index", cfg.row_size))
        .select("table_id", "row_index", "hash", "uid", "index")
    )


def build_forward_index(
    df: DataFrame, cfg: LSHConfig, uid="uid", index="index", vector="vector",
    merge: bool = True,
) -> DataFrame:
    """documents -> forward index: one merged series per uid.

    Output schema: (uid, series_index, series ARRAY<DOUBLE>).

    merge=True reproduces the reference's splice semantics
    (forwardindex/inmemory.go:30-59): windows of the same uid are spliced at
    sample offset (index - first_index)/sample_period, later windows
    overwrite overlap, gaps zero-pad, past-dated windows drop. Implemented
    as a grouped-map pandas UDF (applyInPandas) -- one shuffle on uid.

    merge=False is the O(1)-window fast path for corpora where every uid
    appears once (the dedup north rule): no shuffle at all.
    """
    if not merge:
        return df.select(
            F.col(uid).alias("uid"),
            F.col(index).cast("long").alias("series_index"),
            F.col(vector).alias("series"),
        )

    sample_period = cfg.sample_period
    import numpy as np  # noqa: PLC0415 -- ship into the UDF closure
    import pandas as pd  # noqa: PLC0415

    def splice(pdf: pd.DataFrame) -> pd.DataFrame:
        # Replay insertion order (the reference processes Index() calls in
        # arrival order; our canonical order is ascending window index, which
        # matches every reference fixture and makes the op deterministic).
        pdf = pdf.sort_values("index", kind="stable")
        first_index = None
        series: np.ndarray | None = None
        for idx, vec in zip(pdf["index"], pdf["vector"]):
            vec = np.asarray(vec, dtype=np.float64)
            if series is None:
                first_index = int(idx)
                series = vec.copy()
                continue
            offset = int(idx) // sample_period - first_index // sample_period
            if offset <= 0:
                continue  # "not handling docs that are in the past"
            need = offset + len(vec)
            if need > len(series):
                series = np.concatenate([series, np.zeros(need - len(series))])
            series[offset : offset + len(vec)] = vec
        return pd.DataFrame(
            {
                "uid": [pdf["uid"].iloc[0]],
                "series_index": [first_index],
                "series": [series.tolist()],
            }
        )

    src = df.select(
        F.col(uid).alias("uid"),
        F.col(index).cast("long").alias("index"),
        F.col(vector).alias("vector"),
    )
    return src.groupBy("uid").applyInPandas(
        splice, schema="uid long, series_index long, series array<double>"
    )


@cache
def window_cols(cfg: LSHConfig) -> tuple[Column, Column]:
    """(_cvec_raw, _cvec): the zero-padded window of the forward index's
    `series` at a document's `index` (forwardindex/inmemory.go:61-82) and
    its TFunc transform (configs/lshconfigs.go:26-29)."""
    raw = V.window_at(
        "series", "series_index", F.col("index"), cfg.sample_period, cfg.vector_length
    ).alias("_cvec_raw")
    tfunc = V.l2_normalize if cfg.normalize else F.col
    return raw, tfunc("_cvec_raw").alias("_cvec")


def bucket_key(table_id, hash_) -> Column | int:
    """One bucket as a single long: table_id << 16 | hash (a Hash16 value
    fits 16 bits, configs/lshconfigs.go:10-13). Columns give a Column,
    ints an int."""
    if isinstance(table_id, int):
        return table_id << 16 | int(hash_)
    return F.shiftleft(table_id.cast("long"), 16).bitwiseOR(hash_)


def build_search_table(buckets: DataFrame, forward: DataFrame, cfg: LSHConfig) -> DataFrame:
    """buckets + forward -> search table(uid, index, row_index, keys, cvec,
    cvec_sum, cvec_var): everything a single-query search reads about a
    candidate, one row per distinct (uid, index) of `buckets` (per forward
    row of its uid if `forward` holds several).

    `keys` is the set of the bucket_key of every bucket the (uid, index)
    sits in -- for several documents at one (uid, index), the union of
    their buckets, as the reference's bitmaps hold them. `cvec` is the
    TFunc'd forward-index window at `index`, and `cvec_sum` / `cvec_var`
    its pearson_sum / pearson_var terms. A derived table: rebuild it
    whenever `buckets` or `forward` change. The inner join to `forward` is
    the reference's nil-vector skip (lsh/lsh.go:215-217)."""
    raw, cvec = window_cols(cfg)
    keys = bucket_key(F.col("table_id"), F.col("hash"))
    head = ("uid", "index", "row_index", "keys")
    return (
        buckets.groupBy("uid", "index", "row_index")
        .agg(F.collect_set(keys).alias("keys"))
        .join(forward, "uid", "inner")
        .select(*head, raw)
        .select(*head, cvec)
        .select(
            *head,
            F.col("_cvec").alias("cvec"),
            V.pearson_sum("_cvec").alias("cvec_sum"),
            V.pearson_var("_cvec").alias("cvec_var"),
        )
    )


def delete_uids(df: DataFrame, deleted: DataFrame, uid_col: str = "uid") -> DataFrame:
    """O6: remove uids from any table via broadcast anti-join
    (lsh/lsh.go:93-102, tables/tables.go:157-181). The deleted set is tiny
    relative to the corpus, so broadcast avoids shuffling the big side."""
    return df.join(F.broadcast(deleted), on=uid_col, how="left_anti")


def lag_bounds(query_index: Column, max_lag: int, row_size: int) -> tuple[Column, Column, Column, Column]:
    """start/end timestamp + start/end row for MaxLag pruning
    (tables/tables.go:109-127). Go truncating division preserved."""
    start_idx = query_index - F.lit(max_lag)
    end_idx = query_index + F.lit(max_lag)
    start_row = V._go_div(start_idx, row_size) * F.lit(row_size)
    end_row = V._go_div(end_idx, row_size) * F.lit(row_size)
    return start_idx, end_idx, start_row, end_row
