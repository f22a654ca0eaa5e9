"""search_sql: the query-serving side in one process -- LSH index + search
(lsh_search.py) and the 17 headline SQL queries (sql_queries.py).

Set-up writes both inputs, builds the LSH index and warms up with the timed
paths themselves: one checked search and, beside the index build and that
search, one checked SQL pass on three threads. The timed part is a closed
loop of single searches for --seconds (at least one per query family) and
one checked SQL pass; a traced run adds one search_df.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import lsh_search
import sql_queries
from harness import log, median


def run_workload(run, args, outcome, expected):
    run.start_spark()
    sql = sql_queries.SqlState(run, args.seed, expected)
    layers: dict = {}
    # the SQL warm-up pass runs on three threads beside the LSH input, index
    # build and search warm-up: all of it is mostly query planning and job
    # scheduling in this process
    with ThreadPoolExecutor(max_workers=3) as pool:
        sql_warm = [
            pool.submit(sql_queries.run_query, run, sql, name, outcome, "warmup.sql")
            for name in sql_queries.HEADLINE
        ]
        lsh = lsh_search.LshState(run, args.seed)
        log(f"inputs written {time.perf_counter() - run.t_start:.2f}s")
        lsh_search.index(run, lsh, layers)
        log(f"index built {time.perf_counter() - run.t_start:.2f}s")
        lsh_search.warm(run, lsh, outcome)
        log(f"searches warm {time.perf_counter() - run.t_start:.2f}s")
        for f in sql_warm:
            f.result()
    setup_s = time.perf_counter() - run.t_start
    log(f"setup {setup_s:.2f}s")

    lat = lsh_search.measure(run, lsh, outcome, args.seconds, layers)
    log(f"searches timed {time.perf_counter() - run.t_start:.2f}s")
    total = sql_queries.run_pass(run, sql, outcome, layers)
    log(f"{len(lat)} searches, p50 {median(lat):.3f}s; SQL pass {total:.2f}s")
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": median(lat),
        "items_per_s": len(sql_queries.HEADLINE) / total,
    }

    def from_eventlog(jobs, layers: dict) -> None:
        from eventlog import by_group

        lsh_search.layers_from_eventlog(by_group(jobs), layers)

    return e2e, layers, from_eventlog
