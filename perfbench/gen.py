"""Seeded input generator for the benchmark (the load generator).

Everything here is plain numpy/pyarrow/pandas: the engine never sees
the seed, only the files written below.

- ``events_history``: an ``events``-shaped table (event_id, ts,
  user_id, event_type, value, props) like the sf0.1 fixture: 1500 users
  folding onto 100 devices (``user_id % 100``), five event types, values
  with mean ~50 rounded to cents, timestamps spread over ``days``.
  The ``opcua_sim`` connector turns it into notifications.
- ``corpus``: a ``documents``-shaped corpus drawn like
  ``scripts/gen_sf.synth_documents`` (words sampled from a small
  uniform vocabulary, lengths uniform in [10, 100]) with exact and
  near duplicates planted at known token-mutation rates. The planted
  (source, copy, rate) triples are returned for the recall check.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "signup", "purchase", "error")
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000

VOCAB = (
    "a agg batch big column customer data fast filter group hash index "
    "join key line merge order part query row scan slow small sort spark "
    "stream string table value vector window"
).split()

# token-mutation rates of the planted near duplicates (0.0 = exact copy)
MUTATION_RATES = (0.0, 0.02, 0.05, 0.10, 0.20)


def events_history(seed: int, n: int, days: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, n, days])
    ts = START_US + np.sort(rng.integers(0, days * DAY_US, size=n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, 1500, size=n, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, size=n)],
            "value": np.round(rng.exponential(50.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
        }
    )


def write_events(events: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(events, preserve_index=False).cast(
        pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        )
    )
    pq.write_table(table, path)


def received_us(events: pd.DataFrame) -> np.ndarray:
    """``received_ts`` of each notification, as ``catalog.opc_updates``
    derives it: source ts plus ``event_id % 150`` seconds."""
    ts_us = events["ts"].to_numpy().astype(np.int64)
    return ts_us + (events["event_id"].to_numpy() % 150) * 1_000_000


def corpus(seed: int, n: int) -> tuple[pd.DataFrame, list[tuple[int, int, float]]]:
    """``n`` documents, 90% drawn at random and 10% planted copies of
    random base documents, spread evenly over ``MUTATION_RATES``. A copy
    at rate r has ``max(1, round(r * len))`` tokens resampled (none for
    r = 0). Returns the documents (doc_id, text) and the planted
    (source_id, copy_id, rate) triples."""
    rng = np.random.default_rng([seed, n, 7])
    vocab = np.array(VOCAB)
    n_base = n - n // 10
    lens = rng.integers(10, 101, size=n_base)
    docs = [" ".join(vocab[rng.integers(0, len(vocab), size=k)]) for k in lens]
    planted = []
    for i in range(n - n_base):
        rate = MUTATION_RATES[i % len(MUTATION_RATES)]
        src = int(rng.integers(0, n_base))
        ws = docs[src].split(" ")
        if rate > 0:
            k = max(1, round(rate * len(ws)))
            for j in rng.choice(len(ws), size=k, replace=False):
                ws[j] = str(vocab[rng.integers(0, len(vocab))])
        docs.append(" ".join(ws))
        planted.append((src, n_base + i, rate))
    # shuffle ids so planted copies are not clustered at the end
    perm = rng.permutation(n)
    doc_id = np.empty(n, dtype=np.int64)
    doc_id[perm] = np.arange(1, n + 1)
    frame = pd.DataFrame({"doc_id": doc_id, "text": docs})
    planted = [(int(doc_id[s]), int(doc_id[c]), r) for s, c, r in planted]
    return frame.sort_values("doc_id").reset_index(drop=True), planted


def write_corpus(docs: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), path)
