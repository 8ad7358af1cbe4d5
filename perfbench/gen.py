"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from ``--seed``,
writes parquet files under the run's work directory, and returns the
ground truth the output checks need (sampled series, the unique docs of
each increment).
The program under test only ever sees the written files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NULL_SHARE = 0.02
CHECK_KEYS = 12


def _write(table: pa.Table, path: str, row_group_size: int = 256_000) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size)


def _series_rows(rng: np.random.Generator, keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-key increasing timestamps with same-timestamp ties, plus a
    globally unique ``seq`` tiebreaker in random order, so that the order
    (ts, seq) is total but not the order rows sit in the file."""
    order = np.argsort(keys, kind="stable")
    sk = keys[order]
    steps = rng.integers(0, 4, size=len(keys))  # step 0 makes a tie
    starts = np.r_[True, sk[1:] != sk[:-1]]
    steps[starts] = 0
    csum = np.cumsum(steps)
    base = np.maximum.accumulate(np.where(starts, csum, 0))
    ts_sorted = 1_700_000_000_000_000 + (csum - base) * 1_000_000
    ts = np.empty_like(ts_sorted)
    ts[order] = ts_sorted
    seq = rng.permutation(len(keys)).astype(np.int64)
    return ts.astype(np.int64), seq


def _values(rng: np.random.Generator, n: int) -> np.ndarray:
    v = np.round(rng.normal(100.0, 15.0, size=n), 3)
    v[rng.random(n) < NULL_SHARE] = np.nan
    return v


def _event_table(key, ts, seq, cols: dict) -> pa.Table:
    arrays = {"key": pa.array(key, pa.int64()), "ts": pa.array(ts, pa.int64()),
              "seq": pa.array(seq, pa.int64())}
    for name, v in cols.items():
        arrays[name] = pa.array(v, pa.float64(), mask=np.isnan(v))
    return pa.table(arrays)


def _truth(key, ts, seq, cols: dict, sample: np.ndarray) -> dict:
    """{key: (ts, seq, {col: values})} in (ts, seq) order, for sampled keys."""
    out = {}
    for k in sample:
        idx = np.flatnonzero(key == k)
        idx = idx[np.lexsort((seq[idx], ts[idx]))]
        out[int(k)] = (ts[idx], seq[idx], {c: v[idx] for c, v in cols.items()})
    return out


@dataclass
class LagInputs:
    rows: int
    series: int
    hot_key: int
    hot_threshold: int
    plain_truth: dict = field(repr=False)
    skew_truth: dict = field(repr=False)


def gen_lag_batch(rng: np.random.Generator, root: str, rows: int, series: int,
                  min_len: int) -> LagInputs:
    """``events.parquet`` (keys spread evenly) and ``events_skew.parquet``
    (one key holds ~40% of rows), both with two value columns."""
    def one(name: str, key: np.ndarray, sample: np.ndarray) -> dict:
        key = rng.permutation(key)
        ts, seq = _series_rows(rng, key)
        cols = {"v1": _values(rng, rows), "v2": _values(rng, rows)}
        _write(_event_table(key, ts, seq, cols), os.path.join(root, f"{name}.parquet"))
        return _truth(key, ts, seq, cols, sample)

    # every series gets min_len rows, the rest spread at random
    plain = np.r_[np.repeat(np.arange(series), min_len),
                  rng.integers(0, series, rows - series * min_len)]
    hot_key = 0
    n_hot = int(rows * 0.4)
    cold = np.r_[np.repeat(np.arange(1, series), min_len),
                 rng.integers(1, series, rows - n_hot - (series - 1) * min_len)]
    skew = np.r_[np.full(n_hot, hot_key), cold]
    sample = rng.choice(np.arange(1, series), CHECK_KEYS, replace=False)
    hot_threshold = rows // 10
    return LagInputs(
        rows=rows,
        series=series,
        hot_key=hot_key,
        hot_threshold=hot_threshold,
        plain_truth=one("events", plain, sample),
        skew_truth=one("events_skew", skew, np.r_[hot_key, sample]),
    )


@dataclass
class StreamInputs:
    files: int
    rows: int
    keys: int
    truth: dict = field(repr=False)


def gen_stream(rng: np.random.Generator, root: str, files: int, rows_per_file: int,
               keys: int) -> StreamInputs:
    """A directory of parquet files that arrive in per-key time order:
    file i holds the i-th slice of every key's history. Modification
    times increase with the file index so a file source reads them in
    order."""
    rows = files * rows_per_file
    key = np.r_[np.arange(keys), rng.integers(0, keys, rows - keys)]
    key = rng.permutation(key)
    ts, seq = _series_rows(rng, key)
    v = _values(rng, rows)
    # file = rank of the row's (ts, seq) within the whole stream, so all
    # of a key's earlier rows land in the same or an earlier file
    rank = np.empty(rows, dtype=np.int64)
    rank[np.lexsort((seq, ts))] = np.arange(rows)
    file_of = rank // rows_per_file
    d = os.path.join(root, "stream.parquet")
    os.makedirs(d, exist_ok=True)
    for i in range(files):
        m = file_of == i
        path = os.path.join(d, f"part-{i:04d}.parquet")
        _write(_event_table(key[m], ts[m], seq[m], {"v": v[m]}), path)
        os.utime(path, ns=(1_000_000_000 * (1_600_000_000 + i),) * 2)
    sample = rng.choice(keys, CHECK_KEYS, replace=False)
    return StreamInputs(files=files, rows=rows, keys=keys,
                        truth=_truth(key, ts, seq, {"v": v}, sample))


@dataclass
class DedupInputs:
    corpus_docs: int
    increment_docs: int
    increments: int
    unique: list = field(repr=False)  # per increment, the ids of its non-duplicate docs


def gen_dedup(rng: np.random.Generator, root: str, corpus_docs: int, increment_docs: int,
              increments: int, vocab: int = 20_000) -> DedupInputs:
    """A Zipf-vocabulary corpus (``docs.parquet``, ~10% planted near-dups
    inside it) and ``increments`` files ``inc_NNN.parquet`` of
    ``increment_docs`` docs each, ~15% of them near-duplicates of docs
    already in the store: corpus docs or docs accepted from an earlier
    increment. A near-duplicate changes one token of its source (3-token
    shingle Jaccard >= 0.92 at the minimum doc length)."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    lens = rng.integers(3, 10, vocab)
    words = np.array([letters[rng.integers(0, 26, n)].tobytes().decode() for n in lens])
    cdf = np.cumsum(1.0 / np.arange(1, vocab + 1) ** 1.1)
    cdf /= cdf[-1]

    def fresh() -> list[str]:
        n = int(rng.integers(80, 160))
        return list(words[np.minimum(np.searchsorted(cdf, rng.random(n)), vocab - 1)])

    def near(src: list[str]) -> list[str]:
        out = list(src)
        i = int(rng.integers(0, len(out)))
        out[i] = words[rng.integers(0, vocab)] + "x"  # the suffix keeps it off the old token
        return out

    def write(name: str, ids: list[int], docs: list[list[str]]) -> None:
        t = pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array([" ".join(d) for d in docs], pa.string())})
        _write(t, os.path.join(root, f"{name}.parquet"))

    store: list[list[str]] = []
    for _ in range(corpus_docs):
        store.append(near(store[int(rng.integers(0, len(store)))])
                     if store and rng.random() < 0.10 else fresh())
    write("docs", list(range(corpus_docs)), store)

    unique = []
    next_id = corpus_docs
    for i in range(increments):
        ids, docs, uniq_ids = [], [], []
        for _ in range(increment_docs):
            if rng.random() < 0.15:
                docs.append(near(store[int(rng.integers(0, len(store)))]))
            else:
                docs.append(fresh())
                uniq_ids.append(next_id)
            ids.append(next_id)
            next_id += 1
        write(f"inc_{i:03d}", ids, docs)
        keep = set(uniq_ids)
        store.extend(d for d, j in zip(docs, ids) if j in keep)
        unique.append(uniq_ids)
    return DedupInputs(corpus_docs=corpus_docs, increment_docs=increment_docs,
                       increments=increments, unique=unique)
