"""Spark-engine golden tests: the reference's end-to-end fixtures
(lsh/lsh_test.go TestLSHSearch/TestSearch/TestSearchAcrossTime/
TestIndexSimple) run against the DataFrame pipeline, plus engine-vs-oracle
equivalence on a randomized corpus.
"""

import numpy as np
import pytest

from go_lsh_spark.config import (
    ALL_LAGS,
    SIGN_FILTER_ANY,
    SIGN_FILTER_NEG,
    SIGN_FILTER_POS,
    LSHConfig,
    SearchOptions,
)
from go_lsh_spark.engine import SparkLSH
from go_lsh_spark.oracle import OracleLSH

DOC_SCHEMA = "uid long, index long, vector array<double>"

BASIC_DOCS = [
    (0, 0, [0.0, 0.0, 5.0]),
    (1, 0, [0.0, 0.1, 3.0]),
    (2, 0, [0.0, 0.1, 2.0]),
    (3, 0, [0.0, 0.1, 1.0]),
    (4, 0, [0.0, -0.1, -4.0]),
]


def make_engine(spark, docs, **cfg_kwargs):
    cfg = LSHConfig(**cfg_kwargs)
    df = spark.createDataFrame(docs, DOC_SCHEMA)
    return SparkLSH(spark, cfg).index(df)


def uids(scores):
    return [s[0] for s in scores]


def test_lsh_search_golden(spark):
    eng = make_engine(spark, BASIC_DOCS)

    so = SearchOptions(num_to_return=3, sign_filter=SIGN_FILTER_POS)
    scores, _ = eng.search([0, 0, 0.1], 0, so)
    assert uids(scores) == [0, 1, 2]

    eng.delete([2])
    scores, _ = eng.search([0, 0, 0.1], 0, so)
    assert uids(scores) == [0, 1, 3]

    # re-index uid 2 (delete + union is the DataFrame analogue of the
    # reference's re-Index after Delete, lsh_test.go:80-92)
    eng2 = make_engine(spark, BASIC_DOCS)
    scores, _ = eng2.search([0, 0, 0.1], 0, so)
    assert uids(scores) == [0, 1, 2]

    scores, _ = eng2.search([0, 0, 0.1], 0, SearchOptions(num_to_return=3, sign_filter=SIGN_FILTER_NEG))
    assert uids(scores) == [4]

    scores, _ = eng2.search([0, 0, 0.1], 0, SearchOptions(num_to_return=3, sign_filter=SIGN_FILTER_ANY))
    assert uids(scores) == [0, 4, 1]

    scores, _ = eng2.search(
        [0, 0, 0.1], 0, SearchOptions(num_to_return=3, sign_filter=SIGN_FILTER_ANY, threshold=1.0)
    )
    assert uids(scores) == [0]


def test_search_golden_scores(spark):
    docs = [
        (0, 0, [0.0, 1.0, 3.0]), (1, 0, [1.0, 3.0, 3.0]), (2, 0, [3.0, 3.0, 0.0]),
        (3, 0, [1.0, 2.0, 3.0]), (4, 0, [-7.0, 8.0, -9.0]), (5, 0, [-7.0, 9.0, -5.5]),
        (6, 0, [-7.0, 9.0, -7.0]), (7, 0, [-7.0, 10.0, -7.0]), (8, 0, [-5.0, -3.0, -2.0]),
    ]
    eng = make_engine(spark, docs)
    so = SearchOptions(sign_filter=SIGN_FILTER_POS)

    scores, _ = eng.search([0, 1, 3], 0, so)
    assert {(u, round(s, 2)) for u, _, s in scores} == {(0, 1.00), (3, 0.98)}

    scores, _ = eng.search([-7, 9, -7], 0, so)
    expected = {4: 0.99, 5: 0.99, 6: 1.00, 7: 0.99}
    assert {u for u, _, _ in scores} == set(expected)
    for u, _, s in scores:
        assert abs(s - expected[u]) <= 0.0100001  # Go tolerance: fails only if > 0.01


def test_search_across_time(spark):
    docs = []
    for uid in (0, 1):
        docs += [
            (uid, 0, [0.0, 1.0, 3.0]),
            (uid, 60, [1.0, 3.0, 3.0]),
            (uid, 120, [3.0, 3.0, 0.0]),
            (uid, 180, [3.0, 0.0, 1.0] if uid == 0 else [3.0, 0.0, 0.0]),
        ]
    eng = make_engine(spark, docs, num_hyperplanes=4, row_size=60)

    scores, _ = eng.search([1, 3, 3], 0, SearchOptions(max_lag=-1, threshold=1.0))
    got = {(u, i, round(s, 2)) for u, i, s in scores}
    assert got == {(0, 60, 1.0), (1, 60, 1.0), (1, 180, -1.0)}

    scores, _ = eng.search([1, 3, 3], 60, SearchOptions(max_lag=0, threshold=1.0))
    got = {(u, i, round(s, 2)) for u, i, s in scores}
    assert got == {(0, 60, 1.0), (1, 60, 1.0)}

    # delete() rebuilds the search table: uid 1 is gone from the hits and
    # from NumScored, as in the oracle after the same delete
    oracle = OracleLSH(LSHConfig(num_hyperplanes=4, row_size=60))
    for u, i, v in docs:
        oracle.index(u, i, v)
    eng.delete([1])
    oracle.delete(1)
    for idx, so in ((0, SearchOptions(max_lag=-1, threshold=1.0)), (60, SearchOptions(max_lag=0))):
        scores, num_scored = eng.search([1, 3, 3], idx, so)
        exp, exp_scored = oracle.search([1, 3, 3], idx, so)
        assert scored_list(scores) == [(s.uid, s.index, round(s.score, 9)) for s in exp]
        assert num_scored == exp_scored
        assert 1 not in uids(scores)
    assert (0, 60) in {(u, i) for u, i, _ in scores}


def test_validation_side_output(spark):
    # lsh_test.go:190-211 expressed as rejects routing, not exceptions
    docs = [
        (0, 0, [0.0, 1.0]),        # wrong length
        (1, 0, [3.0, 3.0, 3.0]),   # no complexity
        (2, 0, [3.0, 3.0, 0.0]),   # ok
    ]
    df = spark.createDataFrame(docs, DOC_SCHEMA)
    eng = SparkLSH(spark, LSHConfig()).index(df)
    rejects = {r["uid"]: r["reason"] for r in eng.rejects.collect()}
    assert rejects == {0: "ErrInvalidDocument", 1: "ErrNoVectorComplexity"}
    assert eng.forward.count() == 1


# Randomized corpus for the engine-vs-oracle and single-vs-batch checks:
# random docs spread over three row partitions plus, for each of the first
# TIE_BASES vectors, two exact copies and two negated copies at every query
# index -- exact |score| ties across uids and indexes, so the tie order of
# top-K (results/results.go:82-101) is exercised, and every sign filter has
# at least two passing rows at any index and lag.
QUERY_INDEXES = (0, 7200, -60)
TIE_BASES = 6
RANDOM_CFG = dict(num_hyperplanes=4, num_tables=16, vector_length=8, seed=99)


@pytest.fixture(scope="module")
def random_corpus(spark):
    rng = np.random.default_rng(123)
    n, vlen = 160, RANDOM_CFG["vector_length"]
    vecs = rng.normal(size=(n, vlen))
    doc_indexes = (-7260, -60, 0, 840, 7200, 7800, 8100, 14400)
    docs = [(i, doc_indexes[i % len(doc_indexes)], vecs[i]) for i in range(n)]
    uid = 1000
    for j in range(TIE_BASES):
        for idx in QUERY_INDEXES:
            for sign in (1.0, 1.0, -1.0, -1.0):
                docs.append((uid, idx, sign * vecs[j]))
                uid += 1
    # per query index and tie base: a uid whose window there is partly
    # overwritten by its next window (merge_series splice,
    # forwardindex/inmemory.go:30-59), and a uid with two different
    # documents at the index -- one candidate holding the union of both
    # documents' buckets, scored against the first (the splice skips the
    # second) and counted once in NumScored
    period = RANDOM_CFG.get("sample_period", LSHConfig().sample_period)
    for j in range(TIE_BASES):
        for idx in QUERY_INDEXES:
            docs.append((uid, idx, vecs[j] + rng.normal(scale=0.2, size=vlen)))
            docs.append((uid, idx + 3 * period, vecs[TIE_BASES + j]))
            docs.append((uid + 1, idx, vecs[j] + rng.normal(scale=0.3, size=vlen)))
            docs.append((uid + 1, idx, vecs[j] + rng.normal(scale=0.3, size=vlen)))
            uid += 2
    docs = [(u, i, [float(x) for x in v]) for u, i, v in docs]

    eng = make_engine(spark, docs, **RANDOM_CFG)
    oracle = OracleLSH(LSHConfig(**RANDOM_CFG))
    for u, idx, vec in docs:
        oracle.index(u, idx, vec)
    return eng, oracle, vecs


def scored_list(scores):
    return [(u, i, round(s, 9)) for u, i, s in scores]


@pytest.mark.slow
def test_engine_matches_oracle_randomized(random_corpus):
    """Engine and oracle share planes => identical ordered top-K (ties
    included) and NumScored for every sign filter x lag x query index, with
    num_to_return below the pass count (SURVEY §5b)."""
    eng, oracle, vecs = random_corpus
    rng = np.random.default_rng(7)
    vlen = vecs.shape[1]
    combos = [
        (sign, lag, idx)
        for sign in (SIGN_FILTER_POS, SIGN_FILTER_NEG, SIGN_FILTER_ANY)
        for lag in (ALL_LAGS, 0, 900)
        for idx in QUERY_INDEXES
    ]
    # the merged-window and duplicate-document uids of random_corpus
    first = 1000 + TIE_BASES * len(QUERY_INDEXES) * 4
    merged = set(range(first, first + 2 * TIE_BASES * len(QUERY_INDEXES), 2))
    seen = set()
    for qi, (sign, lag, idx) in enumerate(combos):
        q = vecs[qi % TIE_BASES] + rng.normal(scale=0.05, size=vlen)
        full, _ = oracle.search(
            q, idx, SearchOptions(num_to_return=10**6, threshold=0.3, sign_filter=sign, max_lag=lag)
        )
        k = len(full) // 2
        assert k >= 1, f"combo {qi}: degenerate fixture, {len(full)} passing"
        so = SearchOptions(num_to_return=k, threshold=0.3, sign_filter=sign, max_lag=lag)
        got, got_scored = eng.search(q, idx, so)
        exp, exp_scored = oracle.search(q, idx, so)
        assert got_scored == exp_scored, f"combo {qi} {sign, lag, idx}: NumScored"
        assert scored_list(got) == [(s.uid, s.index, round(s.score, 9)) for s in exp], (
            f"combo {qi} {sign, lag, idx}"
        )
        seen |= {u for u, _, _ in got if u >= first}
    assert seen & merged and seen - merged, seen


def test_single_search_matches_search_df(random_corpus):
    """The driver-hashed single-query path equals the Arrow-UDF batch path
    row for row in rank order, NumScored included."""
    eng, _, vecs = random_corpus
    rng = np.random.default_rng(11)
    for qi, (sign, lag, idx) in enumerate(
        [(SIGN_FILTER_POS, 900, 0), (SIGN_FILTER_NEG, ALL_LAGS, 7200), (SIGN_FILTER_ANY, 0, -60)]
    ):
        q = vecs[qi] + rng.normal(scale=0.05, size=vecs.shape[1])
        so = SearchOptions(num_to_return=5, threshold=0.3, sign_filter=sign, max_lag=lag)
        single, single_scored = eng.search(q, idx, so)
        res = eng.search_df(
            eng.spark.createDataFrame(
                [(0, idx, [float(x) for x in q])], "query_id long, index long, vector array<double>"
            ),
            so,
        )
        batch = [
            (r["uid"], r["index"], r["score"])
            for r in res.scores.orderBy("rank").collect()
        ]
        assert single and single == batch, f"query {qi}"
        assert single_scored == res.num_scored()[0], f"query {qi}"


def test_search_empty_engine_matches_oracle(spark):
    """Searching before index(): no tables, so no hits and nothing scored --
    OracleLSH (and the reference on empty tables) return ([], 0)."""
    cfg = LSHConfig()
    oracle_scores, oracle_scored = OracleLSH(cfg).search([0, 0, 0.1], 0)
    assert (oracle_scores, oracle_scored) == ([], 0)
    assert SparkLSH(spark, cfg).search([0, 0, 0.1], 0) == (oracle_scores, oracle_scored)
    assert SparkLSH(spark, cfg).search(
        [0, 0, 0.1], 0, SearchOptions(sign_filter=SIGN_FILTER_ANY, max_lag=ALL_LAGS)
    ) == ([], 0)


def test_hash_udf_bit_equal_to_planeset(spark):
    """The index/search Arrow UDF and the driver/oracle kernel are one
    Hash16 function: bit-equal on random, negated and zero-norm vectors,
    with and without normalization."""
    from pyspark.sql import functions as F

    from go_lsh_spark.functions.vector import make_hash_tables_udf
    from go_lsh_spark.hyperplanes import PlaneSet

    cfg = LSHConfig(num_hyperplanes=8, num_tables=12, vector_length=7, seed=5)
    planes = PlaneSet(cfg)
    rng = np.random.default_rng(8)
    rand = rng.normal(size=(40, 7)) * rng.uniform(1e-3, 1e3, size=(40, 1))
    vecs = np.vstack([rand, -rand, np.zeros((2, 7))])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], "id long, vector array<double>"
    )
    for normalize in (True, False):
        udf = make_hash_tables_udf(planes, normalize=normalize)
        rows = df.select("id", udf(F.col("vector")).alias("h")).orderBy("id").collect()
        got = np.array([r["h"] for r in rows], dtype=np.uint64)
        np.testing.assert_array_equal(got, planes.hash_tables(vecs, normalize=normalize))


def test_pearson_terms_bit_equal_to_spark(spark):
    """The driver's query terms (pearson_terms) and the search table's
    candidate terms (l2_normalize / pearson_sum / pearson_var in Spark) are
    the same IEEE ops in the same order: bit-equal on random vectors over
    six orders of magnitude, a zero vector and NaN / inf components."""
    from pyspark.sql import functions as F

    from go_lsh_spark.functions import vector as Vf

    rng = np.random.default_rng(9)
    rand = rng.normal(size=(40, 60)) * rng.uniform(1e-3, 1e3, size=(40, 1))
    odd = np.zeros((3, 60))
    odd[1, 3], odd[2, 5] = np.nan, np.inf
    vecs = np.vstack([rand, odd])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], "id long, vector array<double>"
    )
    for normalize in (True, False):
        t = Vf.l2_normalize("vector") if normalize else F.col("vector")
        rows = (
            df.select("id", t.alias("t"))
            .select("id", "t", Vf.pearson_sum("t").alias("s"), Vf.pearson_var("t").alias("v"))
            .orderBy("id")
            .collect()
        )
        def bits(t, s, v):
            return [x.hex() for x in t], s.hex(), v.hex()

        for r, v in zip(rows, vecs):
            got = bits(*Vf.pearson_terms(v, normalize))
            assert got == bits(r["t"], r["s"], r["v"]), (normalize, r["id"])


DEGENERATE_QUERIES = ([np.nan, 0.0, 0.1], [np.inf, 0.0, 0.1], [-np.inf, 0.0, 0.1])


@pytest.mark.parametrize("q", DEGENERATE_QUERIES, ids=["nan", "+inf", "-inf"])
def test_nan_inf_query_matches_oracle(spark, q):
    """A NaN or +/-inf query component makes every Pearson score NaN, which
    fails any threshold (results/results.go:35-40): no hits, while every
    candidate still counts in NumScored -- on both search paths."""
    eng = make_engine(spark, BASIC_DOCS)
    oracle = OracleLSH(LSHConfig())
    for u, i, v in BASIC_DOCS:
        oracle.index(u, i, v)
    for sign in (SIGN_FILTER_POS, SIGN_FILTER_NEG, SIGN_FILTER_ANY):
        so = SearchOptions(num_to_return=3, sign_filter=sign)
        exp, exp_scored = oracle.search(q, 0, so)
        got, got_scored = eng.search(q, 0, so)
        assert (got, got_scored) == ([(s.uid, s.index, s.score) for s in exp], exp_scored)
        res = eng.search_df(
            spark.createDataFrame([(0, 0, q)], "query_id long, index long, vector array<double>"), so
        )
        assert res.scores.collect() == []
        assert res.num_scored() == {0: exp_scored}
    assert exp_scored == 4


def test_search_trees_key_on_whole_options(spark):
    """The memoized search trees are keyed on the whole frozen
    SearchOptions: equal options reuse their tree, and options that differ
    in threshold or sign_filter get different trees and different rows."""
    from go_lsh_spark.operators.search import _passed_col

    eng = make_engine(spark, BASIC_DOCS)
    base = SearchOptions(num_to_return=5, sign_filter=SIGN_FILTER_POS)
    strict = SearchOptions(num_to_return=5, sign_filter=SIGN_FILTER_POS, threshold=1.0)
    neg = SearchOptions(num_to_return=5, sign_filter=SIGN_FILTER_NEG)
    assert _passed_col(base) is _passed_col(SearchOptions(num_to_return=5, sign_filter=SIGN_FILTER_POS))
    assert _passed_col(strict) is not _passed_col(base)
    assert _passed_col(neg) is not _passed_col(base)
    with pytest.raises(AttributeError):
        base.threshold = 0.5
    assert SearchOptions(max_lag=-5).validate() == SearchOptions(max_lag=ALL_LAGS)

    def hits(so):
        return uids(eng.search([0, 0, 0.1], 0, so)[0])

    assert hits(base) == [0, 1, 2, 3]
    assert hits(strict) == [0]
    assert hits(neg) == [4]


def test_num_scored_counts_all_candidates(spark):
    eng = make_engine(spark, BASIC_DOCS)
    _, num_scored = eng.search(
        [0, 0, 0.1], 0, SearchOptions(num_to_return=1, threshold=0.99, sign_filter=SIGN_FILTER_ANY)
    )
    # every doc collides with the query in some table at these tiny vectors
    assert num_scored == 5


def test_exists_size_uids(spark):
    eng = make_engine(spark, BASIC_DOCS)
    assert eng.size() == 5
    assert eng.uids() == [0, 1, 2, 3, 4]
    assert eng.exists(3)
    assert not eng.exists(99)
    eng.delete([2])
    assert eng.size() == 4
    assert eng.uids() == [0, 1, 3, 4]
    assert not eng.exists(2)
