"""Seeded input generation for the benchmark.

Every table is a pure function of ``(seed, sizes)``: the same seed gives
byte-identical parquet files. Schemas follow the engine's testdata
tables (a TPC-H-like ``lineitem``, an ``events`` stream, a text
``documents`` corpus and an ``embeddings`` table), so the package sees
the same column types it is tested on.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table. lineitem (a sixth of its sf0.1 size) is large
# enough that the whole-table profile is bound by its Spark jobs; the
# others are small, so that one run of each workload fits in about a
# minute on 4 cores.
SIZES = {
    "lineitem": 100_000,
    "events": 4_000,
    "documents": 400,
    "embeddings": 256,
}
EMBED_DIM = 64

_EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400 * 1_000_000


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per table, so resizing one table leaves
    # the others unchanged
    return np.random.default_rng([seed, sum(map(ord, table))])


def lineitem(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "lineitem")
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(n // 4, 1), n)),
        "l_partkey": pa.array(rng.integers(0, 20_000, n)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900.0, 2_100.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n)),
        "l_shipdate": pa.array(
            _EPOCH_1992 + rng.integers(0, 2500, n) * _DAY_US),
    })


def events(seed: int, n: int) -> pa.Table:
    """Event-time ordered: ``event_id`` follows ``ts``, so contiguous id
    ranges are in-order micro-batches."""
    rng = _rng(seed, "events")
    gaps = rng.integers(1, 60_000_000, n)  # up to a minute apart, in us
    ts = _EPOCH_2024 + np.cumsum(gaps)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 300, n)),
        "event_type": pa.array(rng.choice(
            ["view", "click", "purchase", "signup", "error"], n,
            p=[0.4, 0.3, 0.1, 0.1, 0.1])),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, n)]),
    })


def _vocabulary(rng, size: int) -> np.ndarray:
    syll = np.array(["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze",
                     "pa", "qu", "do", "fe", "gi", "hu", "ja"])
    words = set()
    while len(words) < size:
        k = int(rng.integers(1, 4))
        words.add("".join(rng.choice(syll, k + 1)))
    return np.array(sorted(words))


def documents(seed: int, n: int) -> pa.Table:
    """Zipf-ish word corpus with planted near-duplicate families: every
    tenth document is a light edit (or exact copy) of an earlier
    original, so dedup finds real pairs without every document colliding
    with every other, and the amount of duplication is the same for
    every seed."""
    rng = _rng(seed, "documents")
    vocab = _vocabulary(rng, 1500)
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    weights /= weights.sum()
    texts: list[str] = []
    originals: list[str] = []
    for i in range(n):
        if i % 10 == 9:
            src = originals[int(rng.integers(0, len(originals)))].split()
            if rng.random() < 0.8:  # near copy: edit ~5% of the words
                for j in rng.choice(len(src), max(1, len(src) // 20),
                                    replace=False):
                    src[j] = vocab[rng.choice(len(vocab), p=weights)]
            texts.append(" ".join(src))
        else:
            n_words = int(rng.integers(20, 100))
            originals.append(" ".join(
                vocab[rng.choice(len(vocab), n_words, p=weights)]))
            texts.append(originals[-1])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "es", "fr", "zh"], n)),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 10, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    })


def embeddings(seed: int, n: int, dim: int = EMBED_DIM) -> pa.Table:
    """Unit vectors around 10 label centres; every twentieth is a
    near-copy of an earlier one, so near-dup search has something to
    find."""
    rng = _rng(seed, "embeddings")
    centres = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centres[labels] + rng.normal(0.0, 2.5, (n, dim))
    for i in range(n):
        if i % 20 == 19:
            vecs[i] = vecs[int(rng.integers(0, i))] + \
                rng.normal(0.0, 0.01, dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def build(seed: int, table: str, sizes: dict[str, int] = SIZES) -> pa.Table:
    return globals()[table](seed, sizes[table])


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def batch_bounds(seed: int, n_rows: int, n_batches: int) -> list[tuple[int, int]]:
    """``n_batches`` contiguous, in-order ``[lo, hi)`` row ranges whose
    sizes vary (0.5x to 1.5x of the mean), chosen by the seed. The count
    is fixed so that every seed does the same number of calls."""
    rng = np.random.default_rng([seed, 7])
    weights = rng.uniform(0.5, 1.5, n_batches)
    cuts = np.round(np.cumsum(weights) / weights.sum() * n_rows).astype(int)
    los = [0] + [int(c) for c in cuts[:-1]]
    return list(zip(los, [int(c) for c in cuts]))


def pick(seed: int, salt: int, n: int, k: int) -> list[int]:
    """``k`` distinct ints in ``[0, n)`` chosen by the seed."""
    rng = np.random.default_rng([seed, salt])
    return sorted(int(x) for x in rng.choice(n, size=k, replace=False))
