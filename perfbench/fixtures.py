"""Generator for the engine's sf0.1 input tables.

Writes the ten Parquet tables the registered queries read (``region``,
``nation``, ``customer``, ``supplier``, ``part``, ``orders``,
``lineitem``, ``events``, ``documents``, ``embeddings``) with the rows
of the sf0.1 fixture that FIXTURES.md describes: one numpy ``PCG64``
stream seeded with 42, drawn column by column in the order below, gives
the fixture's Parquet files byte for byte, so the benchmark needs no
pre-built data directory.  Where FIXTURES.md's sampled domains and the
fixture differ, the fixture is followed: ``events.user_id`` takes 1,500
values, the vocabulary has 30 words, near-duplicates are earlier texts
re-emitted with a trailing ``dup`` word, and the unit-norm embeddings are
not clustered by label.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

SEED = 42
N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM, N_EVENTS = 150_000, 600_000, 100_000
N_DOCUMENTS, N_NEAR_DUPS, N_EMBEDDINGS = 5_000, 250, 2_000

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_COLORS = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_NOUNS = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_PTYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_VOCAB = (
    "the a spark query table join group filter window data order customer part "
    "line fast slow big small hash sort merge scan agg stream batch vector key "
    "value row column"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]  # drawn uniformly: 3/7 English


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[s]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, pdf: pd.DataFrame) -> None:
    """Column types follow the frame's dtypes; times are stored in µs
    (the ns event times truncated)."""
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(out_dir, f"{name}.parquet"), compression="snappy",
                   coerce_timestamps="us", allow_truncated_timestamps=True)


def generate(out_dir: str) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(SEED)
    tables: dict[str, pd.DataFrame] = {}
    tables["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                                     "r_name": _REGIONS})
    nk = np.arange(25, dtype=np.int32)
    tables["nation"] = pd.DataFrame({"n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk],
                                     "n_regionkey": nk % 5})
    n = N_CUSTOMER
    ck = np.arange(n, dtype=np.int64)
    tables["customer"] = pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(_SEGMENTS, n),
    })
    n = N_SUPPLIER
    sk = np.arange(n, dtype=np.int64)
    tables["supplier"] = pd.DataFrame({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = N_PART
    pk = np.arange(n, dtype=np.int64)
    colors, nouns = rng.choice(_COLORS, n), rng.choice(_NOUNS, n)
    tables["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(colors, " "), nouns),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(_PTYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    n = N_ORDERS
    tables["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, n).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": rng.choice(_PRIORITIES, n),
    })
    n = N_LINEITEM
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, N_ORDERS, n).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, n).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    })
    n = N_EVENTS
    # Sorted uniform instants over 30 days (gaps of ~26 s), drawn in
    # seconds and held in ns.
    offsets_ns = (np.sort(rng.uniform(0, 30 * 86_400, n)) * 1e9).astype("timedelta64[ns]")
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "ns") + offsets_ns,
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = N_DOCUMENTS
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
             for _ in range(n)]
    # Near-duplicates: distinct documents overwritten, one after another,
    # with another document's current text plus a trailing marker word.
    dup_at = rng.choice(n, N_NEAR_DUPS, replace=False)
    for i, src in zip(dup_at, rng.integers(0, n, N_NEAR_DUPS)):
        texts[i] = texts[src] + " dup"
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n = N_EMBEDDINGS
    vec = rng.standard_normal((n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vec),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })
    for name, pdf in tables.items():
        _write(out_dir, name, pdf)
    return {name: len(pdf) for name, pdf in tables.items()}
