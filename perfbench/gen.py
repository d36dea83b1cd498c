"""Seeded input generators.  The same seed always yields the same
files; sizes do not depend on the seed, so every seed costs the same
amount of work and only the values move."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000

# 30 of the 31 words of the repo's synthetic documents table
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
BANNER = " crawled mirror banner"


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us", tz="UTC"))


def events(path: str, seed: int, n_rows: int = 100_000,
           days: int = 30) -> pa.Table:
    """The review table: ``(event_id, ts, value)`` over ``days`` days,
    ids in time order, unique timestamps, a few NULL values."""
    rng = np.random.default_rng(seed)
    gaps = rng.exponential(1.0, n_rows)
    us = np.cumsum(gaps)
    us = (us / us[-1] * (days * DAY_US - 2_000_000)).astype("int64")
    us = T0_US + us + np.arange(n_rows)  # strictly increasing
    value = np.round(rng.exponential(50.0, n_rows), 2)
    mask = rng.random(n_rows) < 0.002
    tbl = pa.table({
        "event_id": pa.array(np.arange(n_rows, dtype="int64")),
        "ts": _ts(us),
        "value": pa.array(value, mask=mask),
    })
    pq.write_table(tbl, path, row_group_size=n_rows // 8)
    return tbl


SENSORS = ("temp", "hum")
SENSOR_BASE = {"temp": (12.0, 8.0), "hum": (65.0, 15.0)}


def station(path: str, seed: int, n_rows: int) -> None:
    """One station's multi-sensor table at one-minute cadence:
    ``ts`` plus two sensors with NULL runs, spikes and flatlines
    (a stuck sensor repeats its last reading)."""
    rng = np.random.default_rng(seed)
    us = T0_US + np.arange(n_rows, dtype="int64") * 60_000_000
    cols: dict[str, pa.Array] = {"ts": _ts(us)}
    t = np.arange(n_rows) / 1440.0
    for name in SENSORS:
        mean, amp = SENSOR_BASE[name]
        v = (mean + amp * np.sin(2 * np.pi * (t + rng.random()))
             + rng.normal(0, amp / 20, n_rows))
        for start in rng.integers(0, n_rows - 40, n_rows // 2000):  # flatlines
            v[start:start + rng.integers(4, 30)] = v[start]
        spikes = rng.integers(0, n_rows, n_rows // 1000)
        v[spikes] += rng.choice([-1.0, 1.0], spikes.size) * amp * 6
        null = np.zeros(n_rows, dtype=bool)
        for start in rng.integers(0, n_rows - 200, n_rows // 5000):  # NULL runs
            null[start:start + rng.integers(5, 120)] = True
        cols[name] = pa.array(np.round(v, 3), mask=null)
    pq.write_table(pa.table(cols), path, row_group_size=max(1, n_rows // 16))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)  # sf0.1 documents: 10-100 words
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for m in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + m]))
        pos += m
    return out


def documents(seed: int, n_seed: int, rounds: int, fresh: int,
              recrawl: int, repeats: int = 1
              ) -> tuple[pa.Table, list[pa.Table]]:
    """The store's seed corpus and one crawl batch per round.  A round
    holds ``fresh`` new documents (``repeats`` of them exact repeats of
    another) and ``recrawl`` banner-drifted re-crawls of documents the
    store already holds, which the near-dup tier must drop."""
    rng = np.random.default_rng(seed)
    seed_text = _texts(rng, n_seed)
    seed_tbl = pa.table({"doc_id": pa.array(np.arange(n_seed, dtype="int64")),
                         "text": seed_text})
    batches = []
    next_id = n_seed
    for r in range(rounds):
        text = _texts(rng, fresh)
        # exact repeats inside the batch: the within-batch keeper drops them
        for j in rng.choice(fresh, repeats, replace=False):
            text[j] = text[(j + 1) % fresh]
        ids = list(range(next_id, next_id + fresh))
        next_id += fresh
        for j in rng.choice(n_seed, recrawl, replace=False):
            text.append(seed_text[j] + BANNER)
            ids.append(1_000_000 + r * 10_000 + int(j))
        batches.append(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": text}))
    return seed_tbl, batches


def _unit(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    v = rng.normal(size=(n, dim)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _vec_table(ids, vecs, id_col: str) -> pa.Table:
    dim = vecs.shape[1]
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offs = pa.array(np.arange(0, vecs.size + 1, dim, dtype="int32"))
    return pa.table({id_col: pa.array(ids, pa.int64()),
                     "embedding": pa.ListArray.from_arrays(offs, flat)})


def embeddings(seed: int, n_build: int, rounds: int, append: int,
               queries: int, dim: int = 64):
    """Index corpus, per-round append batches and per-round query
    batches of unit vectors."""
    rng = np.random.default_rng(seed + 7)
    build = _vec_table(np.arange(n_build), _unit(rng, n_build, dim), "vec_id")
    appends, qs = [], []
    for r in range(rounds):
        start = n_build + r * append
        appends.append(_vec_table(np.arange(start, start + append),
                                  _unit(rng, append, dim), "vec_id"))
        qs.append(_vec_table(np.arange(r * queries, (r + 1) * queries)
                             + 10_000_000,
                             _unit(rng, queries, dim), "query_id"))
    return build, appends, qs


def write(tbl: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)
    return path
