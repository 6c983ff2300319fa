"""Seeded, single-process input generators for ``pipeline_chain``.

Every generator is a pure function of its seed and sizes: the same
arguments write byte-identical parquet/JSON files. The program under
test only ever sees the files written here.

- ``chain_inputs``: the reference module chain's batch sources: events
  with Zipf-skewed user keys and labelled documents for training.
- ``stream_files``: one parquet file per micro-batch, in creation order
  except for a seeded share of late rows.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("page_view", "click", "view", "purchase", "signup", "error")
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "a the data row table key value part line join scan sort agg group "
    "hash merge query window batch stream order column filter customer "
    "spark vector small big fast slow"
).split()
STREAM_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"
)
_EPOCH_2024 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)
_DAY_US = 86_400 * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    # One row group per file, like the driver fixtures.
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _ts(micros: np.ndarray, tz: str | None = None) -> pa.Array:
    return pa.array(micros.astype("int64"), type=pa.timestamp("us", tz=tz))


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``documents``: per-language bigram-Markov text over one shared
    vocabulary, so the language signal lives in word adjacency."""
    v = len(WORDS)
    cum = np.cumsum(rng.dirichlet(np.full(v, 0.3), size=(len(LANGS), v)), axis=2)
    lang = rng.choice(len(LANGS), size=n, p=LANG_P)
    lengths = rng.integers(20, 80, size=n)
    words = np.empty((n, int(lengths.max())), dtype=np.int64)
    words[:, 0] = rng.integers(0, v, size=n)
    for j in range(1, words.shape[1]):
        u = rng.random(n)[:, None]
        words[:, j] = np.minimum((cum[lang, words[:, j - 1]] < u).sum(axis=1), v - 1)
    texts = [
        " ".join(WORDS[w] for w in row[:k]) for row, k in zip(words, lengths)
    ]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in lang],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def events_table(
    rng: np.random.Generator,
    n: int,
    n_users: int,
    days: int,
    zipf: float | None = None,
) -> pa.Table:
    """``events`` in ts order; user keys uniform, or Zipf(``zipf``)-skewed."""
    ts = np.sort(_EPOCH_2024 + rng.integers(0, days * _DAY_US, size=n))
    if zipf is None:
        users = rng.integers(0, n_users, size=n)
    else:
        users = (rng.zipf(zipf, size=n) - 1) % n_users
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(users, pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, size=n).tolist(),
            "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
        }
    )


def chain_inputs(
    out_dir: str, seed: int, n_events: int, n_users: int, n_docs: int, days: int = 14
) -> None:
    """Sources of the reference module chain (see module docstring)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    _write(events_table(rng, n_events, n_users, days, zipf=1.3), f"{out_dir}/events.parquet")
    _write(documents_table(rng, n_docs), f"{out_dir}/documents.parquet")


def stream_files(
    out_dir: str, seed: int, n_files: int, rows_per_file: int, late_share: float = 0.05
) -> list[str]:
    """``n_files`` event files in arrival order. Events are created in ts
    order (about 1,000 per event-time hour); a ``late_share`` of them
    arrives 1-5 files later than its creation position. Modification
    times increase with arrival order, which is the order the file
    source reads them in."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = n_files * rows_per_file
    per_hour = 1000
    ts = np.sort(_EPOCH_2024 + rng.integers(0, n * 3_600_000_000 // per_hour, size=n))
    pos = np.arange(n, dtype=np.float64)
    late = rng.random(n) < late_share
    pos[late] += rng.integers(1, 6, late.sum()) * rows_per_file
    order = np.argsort(pos, kind="stable")
    ts = ts[order]
    users = rng.integers(0, 5000, n).astype("float64")
    users[rng.random(n) < 0.03] = np.nan  # anonymous traffic
    types = rng.choice(["view", "purchase", "click"], size=n, p=[0.6, 0.25, 0.15])
    values = np.round(rng.uniform(1.0, 500.0, n), 2)
    paths = []
    base_mtime = 1_700_000_000
    for i in range(n_files):
        sl = slice(i * rows_per_file, (i + 1) * rows_per_file)
        path = f"{out_dir}/part-{i:05d}.parquet"
        _write(pa.table({
            "event_id": pa.array(order[sl], pa.int64()),
            "ts": _ts(ts[sl], tz="UTC"),
            "user_id": pa.array(users[sl], pa.int64(), from_pandas=True),
            "event_type": types[sl].tolist(),
            "value": values[sl],
        }), path)
        os.utime(path, (base_mtime + i, base_mtime + i))
        paths.append(path)
    return paths
