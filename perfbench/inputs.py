"""Seeded input generation. The program only ever sees the tables written
here; the same ``--seed`` always writes the same inputs.

The dedup corpora and the SQL tables have fixed content, so their results
can be pinned in expected.json, and the seed decides their physical layout:
row order, and for the batch corpus which rows share a file. Results must
not depend on either. The stream's microbatch split is fixed too (the
pre-reconcile clustering depends on it); the seed orders the rows within
each microbatch file. The LSH corpus is drawn from the seed itself and
checked against numpy brute force.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# batch_dedup: sources.synth.synth_clips with the 2-8 s clip lengths of
# the bench corpus (synth_clips_distributed), rendered in this process
BATCH_CORPUS_SEED = 42
BATCH_CLIPS = 400
BATCH_DUR_MS = (2000, 8000)
# stream_dedup: STREAM_FILES files of STREAM_CLIPS_PER_FILE clips
STREAM_CORPUS_SEED = 13
STREAM_FILES = 2
STREAM_CLIPS_PER_FILE = 40
# lsh_search: the reference's five noisy waveform families
FAMILIES = ("spike", "risingstep", "loweringstep", "triangle", "dip")
LSH_DOCS_PER_FAMILY = 60
LSH_VEC_LEN = 60
# spike members never reach corr 0.65 with the clean spike envelope; each
# query family matches ~1/5 of the corpus
QUERY_FAMILIES = ("risingstep", "loweringstep", "triangle")
# sql_queries: the embeddings / documents / events tables of the repo's
# sf0.01 test data (TESTDATA.md), committed unchanged
SQL_FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")
SQL_TABLES = ("embeddings", "documents", "events")

_CLIPS_ARROW = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
    ]
)


def _write_clips(path: str, clips: pd.DataFrame, files: int, mtime0: int | None = None) -> None:
    """Write `clips` as `files` parquet files of consecutive rows."""
    os.makedirs(path)
    bounds = np.linspace(0, len(clips), files + 1).astype(int)
    for i in range(files):
        part = clips.iloc[bounds[i] : bounds[i + 1]]
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, schema=_CLIPS_ARROW, preserve_index=False), f)
        if mtime0 is not None:  # the file stream source reads oldest first
            os.utime(f, (mtime0 + 60 * i, mtime0 + 60 * i))


def write_batch_corpus(path: str, seed: int, files: int) -> int:
    from go_lsh_spark.sources.synth import synth_clips

    clips = synth_clips(n_clips=BATCH_CLIPS, seed=BATCH_CORPUS_SEED, dur_range_ms=BATCH_DUR_MS).clips
    order = np.random.default_rng(seed).permutation(len(clips))
    _write_clips(path, clips.iloc[order], files)
    return len(clips)


def stream_corpus() -> pd.DataFrame:
    from go_lsh_spark.sources.synth import synth_clips

    n = STREAM_FILES * STREAM_CLIPS_PER_FILE
    return synth_clips(n_clips=n, seed=STREAM_CORPUS_SEED).clips


def write_stream_files(path: str, seed: int) -> int:
    """Write the stream corpus as STREAM_FILES files of consecutive clips,
    one per microbatch, each file's rows in an order drawn from the seed."""
    clips = stream_corpus()
    rng = np.random.default_rng(seed)
    k = STREAM_CLIPS_PER_FILE
    order = np.concatenate([i * k + rng.permutation(k) for i in range(STREAM_FILES)])
    _write_clips(path, clips.iloc[order], STREAM_FILES, mtime0=1_700_000_000)
    return len(clips)


def lsh_corpus(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(uids, vectors): family envelope + U(0,1) noise, families round-robin
    (the reference's BenchmarkLSHSearchRealistic at reduced scale)."""
    from go_lsh_spark.sources.synth import family_envelope

    rng = np.random.default_rng(seed)
    n = LSH_DOCS_PER_FAMILY * len(FAMILIES)
    vecs = np.stack(
        [
            family_envelope(FAMILIES[i % len(FAMILIES)], LSH_VEC_LEN)
            + rng.uniform(0.0, 1.0, LSH_VEC_LEN)
            for i in range(n)
        ]
    )
    return np.arange(n, dtype=np.int64), vecs


def query_vectors() -> list[np.ndarray]:
    from go_lsh_spark.sources.synth import family_envelope

    return [family_envelope(f, LSH_VEC_LEN) for f in QUERY_FAMILIES]


def write_lsh_docs(path: str, uids: np.ndarray, vecs: np.ndarray) -> None:
    table = pa.table(
        {
            "uid": pa.array(uids, pa.int64()),
            "index": pa.array(np.zeros(len(uids), np.int64)),
            "vector": pa.array(list(vecs), pa.list_(pa.float64())),
        }
    )
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def write_sql_tables(sf_dir: str, seed: int) -> None:
    """The SQL fixture tables, each with its rows in an order drawn from
    the seed."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir)
    for t in SQL_TABLES:
        table = pq.read_table(os.path.join(SQL_FIXTURE, f"{t}.parquet"))
        pq.write_table(table.take(rng.permutation(table.num_rows)), os.path.join(sf_dir, f"{t}.parquet"))
