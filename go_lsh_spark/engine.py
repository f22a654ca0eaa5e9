"""High-level facade wiring the index/search operators together.

SparkLSH is the DataFrame analogue of the reference's LSH struct
(lsh/lsh.go:28-32 of the reference): config + plane set + two tables
(buckets, forward index) instead of in-memory maps. index / delete /
search_df build lazy DataFrames (search_df runs one small min/max collect
over the queries when max_lag >= 0); search, exists, size, uids and stats
run Spark actions and return driver-side values.

search reads a third table, the search table
(operators.index.build_search_table): one row per indexed (uid, index)
with its bucket keys, TFunc'd window and Pearson terms, derived from
buckets and forward. It is a cache, not a second index: index(cache=True)
fills it with buckets and forward in one action (a local checkpoint, so
AQE sizes its partitions); delete() and any assignment to buckets or
forward drop it, and the next search rebuilds it. A search is then a point
query on literals (operators.search.search_vector): one Spark job with no
shuffle returns the top-K in rank order and the observed NumScored.
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
        self._buckets: DataFrame | None = None
        self._forward: DataFrame | None = None
        self._table: DataFrame | None = None
        self._cache = True
        self.rejects: DataFrame | None = None

    # buckets and forward are the index; the search table is derived from
    # them, so assigning either (index, delete, a Warehouse read) drops it
    @property
    def buckets(self) -> DataFrame | None:
        return self._buckets

    @buckets.setter
    def buckets(self, df: DataFrame | None) -> None:
        self._buckets, self._table = df, None

    @property
    def forward(self) -> DataFrame | None:
        return self._forward

    @forward.setter
    def forward(self, df: DataFrame | None) -> None:
        self._forward, self._table = df, None

    def search_table(self) -> DataFrame | None:
        """The search table (operators.index.build_search_table) of the
        current buckets and forward, built on first use after either
        changes; None before anything is indexed.

        Under index(cache=True) it is materialized as a local checkpoint,
        not cached: a cached plan keeps the partition count of its last
        shuffle, while a checkpoint runs with every AQE rule, so a small
        table coalesces to one partition and a search runs one task. Spark
        frees the checkpoint's blocks once the table is dropped."""
        if self._table is None and self._buckets is not None and self._forward is not None:
            table = I.build_search_table(self._buckets, self._forward, self.cfg)
            self._table = table.localCheckpoint() if self._cache else table
        return self._table

    def index(self, docs: DataFrame, merge_series: bool = True, cache: bool = True) -> "SparkLSH":
        """Ingest (uid, index, vector) documents: O5.

        merge_series=True is the reference semantics (LSH.Index always
        splice-merges windows of the same uid, forwardindex/inmemory.go:30-59).
        Pass False for corpora where every uid appears once -- that skips the
        merge shuffle entirely. (r1 ran an eager groupBy-count job here to
        auto-detect; a full driver-side pass per index() call was a serial
        scaling cost, so detection is now the caller's choice.)

        cache=True caches buckets and forward and materializes the search
        table from them in one action, which fills all three: each document
        is hashed once. cache=False leaves all three lazy.
        """
        valid, rejects = I.validate_documents(docs, self.cfg)
        buckets = I.build_buckets(valid, self.cfg, self.planes)
        forward = I.build_forward_index(valid, self.cfg, merge=merge_series)
        self._cache = cache
        if cache:
            buckets, forward = buckets.cache(), forward.cache()
        self.buckets, self.forward, self.rejects = buckets, forward, rejects
        if cache:
            self.search_table()  # materializes the table, filling all three
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
        (operators.search.search_vector) over the search table, so the
        whole search is one Spark job: it collects the <= K rows already in
        rank order, and an Observation on the scored candidates yields
        NumScored."""
        if len(vector) != self.cfg.vector_length:
            from go_lsh_spark.oracle import InvalidDocument

            raise InvalidDocument(
                "vector length does not match with the configured options"
            )
        opts = (opts or SearchOptions()).validate()
        table = self.search_table()
        if table is None:
            return [], 0  # nothing indexed: OracleLSH / empty reference tables
        num_scored = Observation()
        res = S.search_vector(vector, index, table, self.cfg, self.planes, opts, num_scored)
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
