"""Seeded input tables for the benchmark, built from numpy and pyarrow only.

Nothing here imports the package under test, so no change to the
program can change what it is fed. Every table has the tokens schema
``doc_id string, tokens list<int32>, n_tok int32, source string``.

* :func:`regime_mix` mixes the five codec regimes (RLE, small-vocab
  dict, near-monotone delta, narrow bit-pack, incompressible) with
  empty and length-1 arrays; ~70 % of rows share one ``source``.
* :func:`zipf_tokens` draws BPE-like ids: Zipf-Mandelbrot ranks over a
  50,257-token vocabulary, mapped to ids that grow with rank but are
  shuffled inside blocks of 256 (merge order roughly follows
  frequency in a BPE vocabulary, not exactly).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("n_tok", pa.int32()),
        pa.field("source", pa.string()),
    ]
)
SOURCES = [
    "common_crawl", "wikipedia", "books", "arxiv", "github",
    "stackexchange", "news", "forums", "patents", "web_misc",
]
_SOURCE_P = np.array([0.70] + [0.30 / 9] * 9)
VOCAB = 50_257


def doc_ids(ids) -> pa.Array:
    return pa.array([f"doc_{i:012d}" for i in ids], pa.string())


def _table(ids: pa.Array, rows: list[np.ndarray], sources: np.ndarray) -> pa.Table:
    lens = np.array([len(r) for r in rows], dtype=np.int32)
    offsets = np.zeros(len(rows) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    values = (
        np.concatenate(rows).astype(np.int32) if rows else np.zeros(0, np.int32)
    )
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))
    src = pa.array(np.array(SOURCES, dtype=object)[sources], pa.string())
    return pa.Table.from_arrays([ids, tokens, pa.array(lens), src], schema=SCHEMA)


def _sources(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.choice(len(SOURCES), n, p=_SOURCE_P)


def _lengths(rng: np.random.Generator, n: int, avg_len: int, sigma: float = 0.6) -> np.ndarray:
    lens = rng.lognormal(np.log(avg_len), sigma, n).astype(np.int64)
    lens = np.clip(lens, 1, 8 * avg_len)
    idx = np.arange(n)
    lens[idx % 97 == 0] = 0  # empty arrays
    lens[idx % 89 == 0] = 1  # singletons
    return lens


def regime_mix(seed: int, n_docs: int, avg_len: int) -> pa.Table:
    """The five synthetic codec regimes, one per doc by index mod 5."""
    rng = np.random.default_rng([seed, 1])
    lens = _lengths(rng, n_docs, avg_len)
    rows = []
    for i, n in enumerate(lens.tolist()):
        regime = i % 5
        if n <= 1:
            rows.append(rng.integers(0, 2**31 - 1, n))
        elif regime == 0:  # long runs of a repeated token
            n_runs = max(1, n // int(rng.integers(16, 64)))
            reps = rng.multinomial(n - n_runs, np.full(n_runs, 1 / n_runs)) + 1
            rows.append(np.repeat(rng.integers(0, 50_000, n_runs), reps))
        elif regime == 1:  # small vocabulary
            vocab = rng.integers(0, 2**31 - 1, int(rng.integers(4, 256)))
            rows.append(vocab[rng.integers(0, len(vocab), n)])
        elif regime == 2:  # near-monotone ids
            start_id = int(rng.integers(0, 2**20))
            rows.append(start_id + np.cumsum(rng.integers(0, 7, n)))
        elif regime == 3:  # narrow range, bit-packable
            rows.append(rng.integers(0, 1 << int(rng.integers(4, 17)), n))
        else:  # full int32 range, incompressible
            rows.append(rng.integers(-(2**31), 2**31 - 1, n, dtype=np.int64))
    return _table(doc_ids(range(n_docs)), rows, _sources(rng, n_docs))


def _zipf_ids(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(cdf over ranks, rank -> token id) for the Zipf vocabulary."""
    rng = np.random.default_rng([seed, 2])
    p = 1.0 / (np.arange(VOCAB) + 2.7) ** 1.1
    cdf = np.cumsum(p / p.sum())
    ids = np.arange(VOCAB)
    for b in range(0, VOCAB, 256):
        rng.shuffle(ids[b : b + 256])
    return cdf, ids


def zipf_tokens(
    seed: int, docs, avg_len: int, stream: int = 0, sigma: float = 0.6
) -> pa.Table:
    """Zipf-distributed BPE-like token ids for the doc indices ``docs``.

    ``stream`` picks an independent draw, so the same docs can get new
    contents (an upsert batch). Doc lengths are lognormal with shape
    ``sigma`` around ``avg_len``."""
    cdf, vocab_ids = _zipf_ids(seed)
    docs = np.asarray(docs, dtype=np.int64)
    rng = np.random.default_rng([seed, 3, stream])
    lens = _lengths(rng, len(docs), avg_len, sigma)
    ranks = np.searchsorted(cdf, rng.random(int(lens.sum())), side="right")
    flat = vocab_ids[np.minimum(ranks, VOCAB - 1)]
    rows = np.split(flat, np.cumsum(lens)[:-1]) if len(docs) else []
    return _table(doc_ids(docs.tolist()), rows, _sources(rng, len(docs)))


def n_tokens(table: pa.Table) -> int:
    return int(pc.sum(table.column("n_tok")).as_py() or 0)


def write_reference(table: pa.Table, path: str) -> int:
    """Write ``table`` as the parquet-snappy reference and return its bytes.

    The writer settings are the reference repo's defaults (pyarrow's
    ``pq.write_table`` with snappy and format 2.6)."""
    pq.write_table(table, path, compression="snappy", version="2.6")
    return os.path.getsize(path)


def reference_bytes(table: pa.Table, path: str) -> int:
    """Parquet-snappy size of ``table``; the file is removed afterwards."""
    try:
        return write_reference(table, path)
    finally:
        os.remove(path)
