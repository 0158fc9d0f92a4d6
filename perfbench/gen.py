"""Seeded input generation for the benchmark.

Every table is a pure function of ``(seed, scale)``: the seed changes
values, key assignment and commit splits, never row counts or the
shape of a workload, so runs on different seeds do the same amount of
work. Tables are written as plain parquet with pyarrow; the engine and
the DuckDB reference both read the same files.

Schemas follow the engine's relational fixtures (TPC-H-like star
schema) and its ``documents`` table.
"""

from __future__ import annotations

import os
import zlib
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "error"]
_EPOCH_1995 = int(datetime(1995, 1, 1).timestamp())
_DAY = 86_400
#: zoned UTC, so Spark reads TIMESTAMP (not TIMESTAMP_NTZ) like the
#: engine's own fixtures
_TS = pa.timestamp("us", tz="UTC")


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per table so adding a table never shifts
    another table's values."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _days(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    secs = (_EPOCH_1995 + rng.integers(0, span_days, n) * _DAY) * 1_000_000
    return pa.array(secs, _TS)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def customer(seed: int, n: int) -> pa.Table:
    rng = rng_for(seed, "customer")
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })


def orders(seed: int, n: int, n_cust: int) -> pa.Table:
    rng = rng_for(seed, "orders")
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": _money(rng, n, 900.0, 500_000.0),
        "o_orderdate": _days(rng, n, 2400),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


def lineitem(seed: int, n: int, n_orders: int) -> pa.Table:
    rng = rng_for(seed, "lineitem")
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, n, 900.0, 2000.0), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _days(rng, n, 2500),
    })


def nation(seed: int) -> pa.Table:
    rng = rng_for(seed, "nation")
    return pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })


def region() -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })


def events(seed: int, n: int) -> pa.Table:
    rng = rng_for(seed, "events")
    ts = (int(datetime(2024, 1, 1).timestamp()) * 1_000_000
          + np.sort(rng.integers(0, 30 * _DAY * 1_000_000, n)))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, _TS),
        "user_id": rng.integers(0, 100, n).astype(np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 4, n)]),
        "value": _money(rng, n, 0.0, 100.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


# -- documents ---------------------------------------------------------------

_N_SOURCES = 20
#: sources 16-17 draw from a tiny vocabulary (template spam: low unique
#: ratio); 18-19 repeat earlier texts (mirror farms: high duplicate
#: rate). The engine's reputation gate drops all four.
_TEMPLATE_SOURCES = (16, 17)
_MIRROR_SOURCES = (18, 19)
_LANGS = ["en", "en", "zh", "es", "de", "fr", "en", "zh"]


def documents(seed: int, n: int) -> pa.Table:
    """``n`` documents with planted structure the corpus build acts on:
    reputation-failing sources, benchmark-contaminated docs (a 6-word
    run copied from an eval doc) and near-duplicates across ingest
    batches (a copy with two words replaced). ``doc_id`` is a seeded
    bijective remap of the row position, so the seed moves docs
    between eval slice and ingest batches without changing counts."""
    rng = rng_for(seed, "documents")
    vocab = np.array([f"w{i:03d}" for i in range(400)])
    small_vocab = vocab[:8]
    ids = rng.permutation(n).astype(np.int64)
    words: list[np.ndarray] = []
    for i in range(n):
        src = i % _N_SOURCES
        length = int(rng.integers(12, 80))
        pool = small_vocab if src in _TEMPLATE_SOURCES else vocab
        words.append(pool[rng.integers(0, len(pool), length)])
    is_bench = ids % 97 == 0
    bench_rows = np.flatnonzero(is_bench)
    plain = [i for i in range(n)
             if not is_bench[i] and i % _N_SOURCES not in _TEMPLATE_SOURCES]
    # every 25th eligible doc is contaminated with an eval-doc run
    for j, i in enumerate(plain[::25]):
        b = words[int(bench_rows[j % len(bench_rows)])]
        words[i] = np.concatenate([words[i][:5], b[:6], words[i][5:]])
    # every 20th eligible doc (offset 7) becomes a near copy — last word
    # replaced — of a doc of at least 30 words elsewhere in the table,
    # hence likely in another ingest batch. Word 3-gram Jaccard is then
    # ≥ 0.93: the regime where the engine's MinHash-LSH candidate pass
    # has the recall its oracle relies on (pairs between 0.5 and 0.9
    # are found only with some probability, by design).
    long_docs = [i for i in plain if len(words[i]) >= 30]
    for j, i in enumerate(plain[7::20]):
        k = long_docs[(j * 311 + 17) % len(long_docs)]
        if k == i:
            continue
        w = words[k].copy()
        w[-1] = vocab[rng.integers(0, len(vocab))]
        words[i] = w
    texts = [" ".join(w) for w in words]
    # mirror farms: every 3rd doc of a mirror source repeats the text
    # of the previous doc of the same source
    for i in range(n):
        if i % _N_SOURCES in _MIRROR_SOURCES and (i // _N_SOURCES) % 3 == 2:
            texts[i] = texts[i - _N_SOURCES]
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), n)]),
        "source": [f"src{i % _N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def relational(seed: int, sf: float, out_dir: str) -> dict[str, str]:
    """Write customer/orders/lineitem/nation/region at scale ``sf``
    (sf1 ≈ 150k customers, 1.5M orders, 6M line items)."""
    n_c, n_o, n_l = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    tables = {
        "customer": customer(seed, n_c),
        "orders": orders(seed, n_o, n_c),
        "lineitem": lineitem(seed, n_l, n_o),
        "nation": nation(seed),
        "region": region(),
    }
    return {k: write(t, os.path.join(out_dir, f"{k}.parquet")) for k, t in tables.items()}
