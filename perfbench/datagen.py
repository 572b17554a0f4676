"""Seeded input generation for the benchmark workloads.

Every table is written as ``{name}.parquet`` under the workload's input
directory, the layout ``load_tables`` and the DuckDB twins in
``__spark_entry__.oracle_sql()`` expect. The same seed always yields
byte-identical inputs; the engine only ever sees these files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per scale. "full" is what the benchmark measures; "tiny"
# exists for the smoke test.
SIZES = {
    "full": {
        "customer": 3000, "supplier": 200, "orders": 37500,
        "events": 40000, "users": 2000,
        "documents": 600,
        "ingest_events": 60000, "ingest_files": 4,
    },
    "tiny": {
        "customer": 300, "supplier": 20, "orders": 2000,
        "events": 3000, "users": 200,
        "documents": 200,
        "ingest_events": 4000, "ingest_files": 4,
    },
}

# Share of documents that are exact (after case/whitespace folding) or
# near copies of an earlier document.
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1992 = np.datetime64("1992-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-03-01", "us").astype(np.int64)

_WORDS = (
    "data spark stream batch table query join sort group filter window "
    "value key column row scan hash merge vector order line part agg "
    "fast slow big small model token corpus shard index cache plan "
    "engine worker driver task stage shuffle block frame file schema"
).split()
_LANG_WORDS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "que", "es", "los"],
    "zh": [],
}
_BOILERPLATE = [
    "subscribe to our newsletter",
    "all rights reserved",
    "click here to read more",
    "share this page",
]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _ts(us: np.ndarray, tz: str | None = None) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us", tz=tz))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(out: str, seed: int, scale: str) -> int:
    """TPC-H-like star schema plus an events table; returns total rows."""
    s = SIZES[scale]
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_ord = s["customer"], s["supplier"], s["orders"]

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }), f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")

    orderdate = _EPOCH_1992 + rng.integers(0, 2405, n_ord) * _DAY_US
    _write(pa.table({
        "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, n_cust + 1, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 900.0, 500000.0, n_ord),
        "o_orderdate": _ts(orderdate),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    }), f"{out}/orders.parquet")

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(1, n_ord + 1, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = np.arange(n_li) - starts + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    shipdate = np.repeat(orderdate, lines) + rng.integers(1, 122, n_li) * _DAY_US
    _write(pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(1, 20001, n_li),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        # unrounded: sums of 2-decimal prices times 2-decimal discounts
        # land exactly on rounding halves, where engines may disagree
        "l_extendedprice": qty * rng.uniform(900.0, 2000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(shipdate),
    }), f"{out}/lineitem.parquet")

    n_ev = s["events"]
    _write(_events_table(rng, n_ev, s["users"], tz=None),
           f"{out}/events.parquet")
    return 5 + 25 + n_cust + n_supp + n_ord + n_li + n_ev


def _events_table(rng, n: int, users: int, tz: str | None) -> pa.Table:
    ts = _EPOCH_2024 + np.sort(rng.integers(0, _DAY_US, n))
    etype = rng.choice(EVENT_TYPES, n, p=[0.3, 0.05, 0.1, 0.05, 0.5])
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts, tz),
        "user_id": rng.integers(1, users + 1, n),
        "event_type": etype,
        "value": rng.uniform(0.0, 500.0, n),
        "props": [f'{{"page": {p}}}' for p in rng.integers(0, 50, n)],
    })


def _sentence(rng, lang: str, n_words: int) -> str:
    markers = _LANG_WORDS[lang]
    words = list(rng.choice(_WORDS, n_words))
    if markers:
        for i in rng.choice(n_words, max(1, n_words // 5), replace=False):
            words[i] = markers[rng.integers(len(markers))]
    return " ".join(words)


def documents(out: str, seed: int, scale: str) -> int:
    """Multi-line documents with a stated share of exact and near
    duplicates, and shared boilerplate lines for line-level dedup."""
    n = SIZES[scale]["documents"]
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    langs = rng.choice(list(_LANG_WORDS), n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    kind = rng.choice(3, n, p=[1 - EXACT_DUP_SHARE - NEAR_DUP_SHARE,
                               EXACT_DUP_SHARE, NEAR_DUP_SHARE])
    kind[0] = 0
    texts: list[str] = []
    for i in range(n):
        if kind[i] == 0:
            body = [_sentence(rng, langs[i], int(rng.integers(8, 40)))
                    for _ in range(int(rng.integers(1, 4)))]
            if rng.random() < 0.3:
                body.append(_BOILERPLATE[rng.integers(len(_BOILERPLATE))])
            texts.append("\n".join(body))
            continue
        src = int(rng.integers(0, i))
        langs[i] = langs[src]
        if kind[i] == 1:
            # same text up to case and whitespace
            texts.append("  " + texts[src].upper().replace(" ", "   ") + " ")
        else:
            words = texts[src].split(" ")
            for j in rng.choice(len(words), max(1, len(words) // 20),
                                replace=False):
                words[j] = _WORDS[rng.integers(len(_WORDS))]
            texts.append(" ".join(words))
    _write(pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 7}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out}/documents.parquet")
    return n


def ingest_events(out: str, seed: int, scale: str) -> int:
    """One day of events (UTC timestamps) split into part files."""
    s = SIZES[scale]
    rng = np.random.default_rng([seed, 3])
    table = _events_table(rng, s["ingest_events"], s["users"], tz="UTC")
    d = f"{out}/events.parquet"
    os.makedirs(d, exist_ok=True)
    k = s["ingest_files"]
    step = -(-table.num_rows // k)
    for i in range(k):
        _write(table.slice(i * step, step), f"{d}/part-{i:05d}.parquet")
    return table.num_rows
