"""High-level facade wiring the index/search operators together.

SparkLSH is the DataFrame analogue of the reference's LSH struct
(/root/reference/lsh/lsh.go:28-32): config + plane set + two tables
(buckets, forward index) instead of in-memory maps. index / delete /
search_df build lazy DataFrames (search_df runs one small min/max collect
over the queries when max_lag >= 0); search, exists, size, uids and stats
run Spark actions and return driver-side values. search is a point query
on literals (operators.search.search_vector): one action returns the
top-K in rank order and the observed NumScored.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from go_lsh_spark.config import LSHConfig, SearchOptions
from go_lsh_spark.hyperplanes import PlaneSet
from go_lsh_spark.operators import index as I
from go_lsh_spark.operators import search as S
from go_lsh_spark.operators.stats import stats as compute_stats_op


class SparkLSH:
    def __init__(self, spark: SparkSession, cfg: LSHConfig | None = None):
        self.spark = spark
        self.cfg = cfg or LSHConfig()
        self.planes = PlaneSet(self.cfg)
        self.buckets: DataFrame | None = None
        self.forward: DataFrame | None = None
        self.rejects: DataFrame | None = None

    def index(self, docs: DataFrame, merge_series: bool = True, cache: bool = True) -> "SparkLSH":
        """Ingest (uid, index, vector) documents: O5.

        merge_series=True is the reference semantics (LSH.Index always
        splice-merges windows of the same uid, forwardindex/inmemory.go:30-59).
        Pass False for corpora where every uid appears once -- that skips the
        merge shuffle entirely. (r1 ran an eager groupBy-count job here to
        auto-detect; a full driver-side pass per index() call was a serial
        scaling cost, so detection is now the caller's choice.)
        """
        valid, rejects = I.validate_documents(docs, self.cfg)
        buckets = I.build_buckets(valid, self.cfg, self.planes)
        forward = I.build_forward_index(valid, self.cfg, merge=merge_series)
        if cache:
            buckets = buckets.cache()
            forward = forward.cache()
        self.buckets, self.forward, self.rejects = buckets, forward, rejects
        return self

    def delete(self, uids: list[int]) -> "SparkLSH":
        """O6: anti-join removal from both tables."""
        deleted = self.spark.createDataFrame([(int(u),) for u in uids], "uid long")
        self.buckets = I.delete_uids(self.buckets, deleted)
        self.forward = I.delete_uids(self.forward, deleted)
        return self

    def search_df(self, queries: DataFrame, opts: SearchOptions | None = None) -> S.SearchResult:
        return S.search(queries, self.buckets, self.forward, self.cfg, self.planes, opts)

    def search(self, vector, index: int = 0, opts: SearchOptions | None = None):
        """Single-query convenience mirroring LSH.Search -> (scores, num_scored).

        Validates query length driver-side before launching any job,
        mirroring ErrInvalidDocument (lsh/lsh.go:107-110). The query is
        hashed on the driver and enters the plan as literals
        (operators.search.search_vector), so the whole search is one Spark
        action: it collects the <= K rows already in rank order, and an
        Observation on the scored candidates yields NumScored."""
        if len(vector) != self.cfg.vector_length:
            from go_lsh_spark.oracle import InvalidDocument

            raise InvalidDocument(
                "vector length does not match with the configured options"
            )
        opts = (opts or SearchOptions()).validate()
        if self.buckets is None:
            return [], 0  # nothing indexed: OracleLSH / empty reference tables
        num_scored = Observation()
        res = S.search_vector(
            vector, index, self.buckets, self.forward, self.cfg, self.planes, opts, num_scored
        )
        rows = res.scores.collect()
        return (
            [(r["uid"], r["index"], r["score"]) for r in rows],
            num_scored.get["num_scored"],
        )

    def exists(self, uid: int) -> bool:
        """forwardindex Exists (forwardindex/inmemory.go:25-28): membership
        probe against the forward index -- a pushed-down point filter, not a
        scan."""
        return (
            self.forward is not None
            and self.forward.filter(F.col("uid") == int(uid)).limit(1).count() > 0
        )

    def size(self) -> int:
        """forwardindex Size (forwardindex/inmemory.go:21-23): number of
        indexed documents."""
        if self.forward is None:
            return 0
        return self.forward.select("uid").distinct().count()

    def uids(self) -> list[int]:
        """Sorted indexed document ids (the forward index's key set; the
        reference's Scores.UIDs projection, results/results.go:115-121, is
        the `uid` column of SearchResult.scores). Driver-side
        materialization -- test/inspection only at scale."""
        if self.forward is None:
            return []
        return [
            r["uid"]
            for r in self.forward.select("uid").distinct().orderBy("uid").collect()
        ]

    def stats(self) -> dict:
        return compute_stats_op(self.cfg, forward=self.forward)
