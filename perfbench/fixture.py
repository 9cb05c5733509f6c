"""A seeded stand-in for the fixture tables the registered queries read.

The registered queries take ``(spark, sf_dir)`` and read one parquet file
per table under ``sf_dir``.  This module writes, with numpy and pyarrow
only, the four tables the benchmark's registry cells read, in the schemas
of the project's fixture (``FIXTURES.md``) and at about its smallest
scale, so a run never reads anything outside its checkout.  The same seed
gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from inputs import DIM, Mixture, rng_for

N_EMBEDDINGS = 500
N_DOCUMENTS = 500
N_LINEITEM = 6_000
N_EVENTS = 2_000

# the fixture's documents are bags of words over a small technical
# vocabulary, tagged with a language and a source
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter vector"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in µs
DAY_US = 86_400_000_000
EPOCH_1992_DAYS = 8_035  # 1992-01-01 in days since 1970-01-01


def write_fixture(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, make in (("embeddings", _embeddings), ("documents", _documents),
                       ("lineitem", _lineitem), ("events", _events)):
        pq.write_table(make(rng_for(seed, f"fixture-{name}"), seed),
                       os.path.join(out_dir, f"{name}.parquet"))


def _embeddings(rng: np.random.Generator, seed: int) -> pa.Table:
    n = N_EMBEDDINGS
    vecs = Mixture(seed).draw(rng, n)
    offsets = pa.array(np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(vecs.reshape(-1))),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def _documents(rng: np.random.Generator, seed: int) -> pa.Table:
    n = N_DOCUMENTS
    lengths = rng.integers(20, 90, n)
    words = np.array(WORDS)
    text = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })


def _lineitem(rng: np.random.Generator, seed: int) -> pa.Table:
    n = N_LINEITEM
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = rng.integers(90_000, 210_000, n) / 100.0  # cents, as in TPC-H
    days = EPOCH_1992_DAYS + rng.integers(0, 3_650, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, 200, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 10, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(days.astype(np.int64) * DAY_US, type=pa.timestamp("us")),
    })


def _events(rng: np.random.Generator, seed: int) -> pa.Table:
    n = N_EVENTS
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(20.0, n), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
