"""Seeded generator for the engine's ten fixture tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one single-row-group snappy parquet file
each, with the column names, Arrow types and value domains of the
reference fixtures described in ``FIXTURES.md``:

* a TPC-H-shaped star (uniform foreign keys, cents-exact money columns,
  day-granular dates between 1995 and 2001);
* ``events``: a time-sorted 30-day activity log with JSON ``props``;
* ``documents``: texts over a 30-token vocabulary in which about 5% of
  the rows are near-duplicates (last token replaced by ``dup``) and a
  few are exact copies, so the dedup operators have work to find;
* ``embeddings``: unit-norm 64-d float32 vectors with labels 0..9.

The same ``(seed, sf)`` always produces byte-identical tables.
Row counts follow the reference fixtures: ``lineitem`` has
``6_000_000 * sf`` rows, ``documents`` and ``embeddings`` never fewer
than 500.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # Integer cents divided by 100 gives the same double as parsing the
    # two-decimal literal, which keeps DECIMAL casts in oracles exact.
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, first_day: int, n_days: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + (first_day + rng.integers(0, n_days, n)) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``(seed, sf)``, in memory."""
    rngs = {
        name: np.random.default_rng(child)
        for name, child in zip(
            ["customer", "supplier", "part", "orders", "lineitem",
             "events", "documents", "embeddings"],
            np.random.SeedSequence(seed).spawn(8),
        )
    }
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = rngs["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })

    r = rngs["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(r, -999.99, 9999.99, n_supp),
    })

    r = rngs["part"]
    keys = np.arange(n_part)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, len(PART_TYPES), n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (90_000 + (keys % 1000) * 10) / 100.0,
    })

    r = rngs["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _cents(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(r, 0, 2405, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    })

    r = rngs["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(r, 900.0, 105_000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, 1, 2499, n_line),
    })

    r = rngs["events"]
    ts = np.sort(r.integers(0, 30 * _DAY_US, n_evt)) + _EPOCH_2024
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_evt), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_evt)],
        "value": np.round(r.exponential(5000.0, n_evt)) / 100.0,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)],
    })

    r = rngs["documents"]
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[r.integers(0, len(vocab), r.integers(10, 101))])
        for _ in range(n_doc)
    ]
    # Near-duplicates (about 5%) and exact copies (about 0.2%) of
    # earlier documents.
    for i in np.flatnonzero(r.random(n_doc) < 0.05):
        if i > 0:
            src = texts[r.integers(0, i)].split(" ")
            texts[i] = " ".join(src[:-1] + ["dup"])
    for i in np.flatnonzero(r.random(n_doc) < 0.002):
        if i > 0:
            texts[i] = texts[r.integers(0, i)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(len(LANGS), n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in r.permutation(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })

    r = rngs["embeddings"]
    vecs = r.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the tables for ``(seed, sf)`` to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, compression="snappy", row_group_size=1 << 30)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
