"""Seeded inputs for the three workloads, and the exact answers the
correctness gates compare the sketches with.

Every generator is a pure function of the seed it is given: the same seed
writes the same rows.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from p2pddsketch_spark.sources.sequences import SOURCES, VOCAB, generate_sequences

DAY_US = 86_400_000_000


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def write_columns(path: str, cols: dict[str, np.ndarray], n_files: int,
                  schema: pa.Schema | None = None) -> None:
    """Split column arrays row-wise into `n_files` parquet files."""
    os.makedirs(path, exist_ok=True)
    n = len(next(iter(cols.values())))
    bounds = np.linspace(0, n, n_files + 1).astype(np.int64)
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        tbl = pa.table({k: v[lo:hi] for k, v in cols.items()}, schema=schema)
        pq.write_table(tbl, os.path.join(path, f"part-{i:05d}.parquet"))


# ------------------------------------------------------------ corpus_build

def write_corpus(spark, path: str, n_rows: int, seed: int, n_files: int) -> None:
    """The tokenized-corpus `sequences` table of the sources layer."""
    (generate_sequences(spark, n_rows, seed=seed, parallelism=n_files)
     .write.parquet(path))


def corpus_exact(path: str) -> dict:
    """Per source: sorted `n_tok` values and exact token-id counts, read
    back from the written table with pyarrow alone."""
    names = sorted(str(s) for s in SOURCES)
    counts = np.zeros(len(names) * VOCAB, dtype=np.int64)
    lengths: list[list[np.ndarray]] = [[] for _ in names]
    rows = tokens = 0
    for f in parquet_files(path):
        for b in pq.ParquetFile(f).iter_batches(
                batch_size=8192, columns=["source", "n_tok", "tokens"]):
            code = pc.index_in(b.column("source"),
                               value_set=pa.array(names)).to_numpy()
            lens = pc.list_value_length(b.column("tokens")).to_numpy()
            toks = b.column("tokens").flatten().to_numpy()
            counts += np.bincount(np.repeat(code.astype(np.int64), lens) * VOCAB + toks,
                                  minlength=counts.size)
            ntok = b.column("n_tok").to_numpy()
            for g in range(len(names)):
                lengths[g].append(ntok[code == g])
            rows += b.num_rows
            tokens += int(toks.size)
    counts = counts.reshape(len(names), VOCAB)
    return {"rows": rows, "tokens": tokens,
            "groups": {name: {"values": np.sort(np.concatenate(lengths[g])).astype(np.float64),
                              "token_counts": counts[g]}
                       for g, name in enumerate(names)}}


# ------------------------------------------------------------- many_groups

def scalar_table(seed: int, n_rows: int, n_groups: int,
                 users_per_group: int) -> dict[str, np.ndarray]:
    """Log-normal measurements over `n_groups` tenants. Each tenant has a
    fixed base of `users_per_group` int64 user ids, which its rows cover."""
    rng = np.random.default_rng((seed, 1))
    grp = rng.integers(0, n_groups, n_rows, dtype=np.int32)
    user = (grp.astype(np.int64) << 32) | rng.integers(0, users_per_group, n_rows)
    return {"grp": grp, "value": rng.lognormal(3.0, 1.5, n_rows),
            "user_id": user}


def grouped_exact(keys: np.ndarray, values: np.ndarray,
                  users: np.ndarray) -> dict:
    """{group: {"values": sorted values, "distinct": distinct users}}."""
    uk, code = np.unique(keys, return_inverse=True)
    counts = np.bincount(code, minlength=uk.size)
    ends = np.cumsum(counts)
    v = values[np.lexsort((values, code))]
    o = np.lexsort((users, code))
    c, u = code[o], users[o]
    first = np.r_[True, (c[1:] != c[:-1]) | (u[1:] != u[:-1])]
    distinct = np.bincount(c[first], minlength=uk.size)
    return {uk[i].item(): {"values": v[ends[i] - counts[i]:ends[i]],
                           "distinct": int(distinct[i])}
            for i in range(uk.size)}


# --------------------------------------------------------------- warehouse

EVENT_TYPES = np.array([f"type-{i:02d}" for i in range(16)])
EVENTS_SCHEMA = pa.schema([("event_type", pa.string()), ("value", pa.float64()),
                           ("user_id", pa.int64()), ("ts", pa.timestamp("us"))])


def events(seed: int, part: int, n_rows: int, day_lo: float, day_hi: float,
           users_per_type: int) -> dict[str, np.ndarray]:
    """One file drop of events with timestamps in [day_lo, day_hi). Each
    event type has a fixed base of `users_per_type` users."""
    rng = np.random.default_rng((seed, 2, part))
    code = rng.integers(0, len(EVENT_TYPES), n_rows)
    ts = rng.integers(int(day_lo * DAY_US), int(day_hi * DAY_US), n_rows)
    return {"event_type": EVENT_TYPES[code],
            "value": rng.lognormal(3.0, 1.5, n_rows),
            "user_id": (code.astype(np.int64) << 32) | rng.integers(0, users_per_type, n_rows),
            "ts": np.sort(ts)}
