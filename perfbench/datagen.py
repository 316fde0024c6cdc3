"""Seeded input generator for the benchmark.

Writes the ten fixture tables (region nation customer supplier part orders
lineitem events documents embeddings) with the fixture schemas and value
domains, plus the ingest workload's wave files and decontamination
benchmark. The same seed always gives byte-identical inputs; the program
under test only ever sees the files written here.

Documents carry planted structure so that the incremental ingest's
per-stage counts are known in advance:

- base documents share no word trigram with one another, so they can never
  collide in the LSH band index;
- an exact copy repeats an earlier base document verbatim;
- a near-duplicate is an earlier base document plus the word ``dup``;
- a contaminated document embeds a five-word passage from the
  decontamination benchmark, whose vocabulary no other document uses.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixture words (without the fixture's own "dup" marker) plus generated
# three-syllable content words; stopwords are drawn separately so long
# documents pass the Gopher stopword rule about as often as fixture ones.
_FIXTURE_WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark group part big "
    "sort query fast"
).split()
_EXTRA_WORDS = [
    a + b + c
    for a in ("lo", "ra", "ven", "tor", "mi", "sal", "kor", "de", "pa", "su")
    for b in ("dal", "nix", "pel", "rus", "tam", "gor", "vin", "bek", "zul", "mor")
    for c in ("a", "o", "is", "en", "ut", "ar")
]
CONTENT_WORDS = tuple(_FIXTURE_WORDS + _EXTRA_WORDS)
STOPWORDS = ("the", "a", "of", "to", "and", "in")
BENCH_WORDS = tuple(f"qz{i:03d}" for i in range(200))

LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_ADJ = ("red", "small", "hot", "old", "large", "blue", "cold", "new")
PART_NOUN = ("plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@dataclass(frozen=True)
class Scale:
    """Row counts of one input set."""

    customers: int = 600
    suppliers: int = 50
    parts: int = 800
    orders: int = 6000
    lineitems: int = 24000
    events: int = 5000
    users: int = 120
    documents: int = 400
    embeddings: int = 400
    bench_docs: int = 12


FULL = Scale()
TINY = Scale(
    customers=150, suppliers=10, parts=200, orders=1500, lineitems=6000,
    events=1000, users=40, documents=160, embeddings=200, bench_docs=6,
)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    start = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - start).astype(int)
    return (start + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_words(rng: np.random.Generator, n_words: int) -> list[str]:
    words = rng.choice(CONTENT_WORDS, n_words).tolist()
    for i in np.flatnonzero(rng.random(n_words) < 0.1):
        words[i] = STOPWORDS[rng.integers(len(STOPWORDS))]
    return words


def _trigrams(words: list[str]) -> set[tuple[str, str, str]]:
    return set(zip(words, words[1:], words[2:]))


def _documents(rng: np.random.Generator, n: int) -> tuple[pa.Table, list[str]]:
    """``n`` documents, ~84% base, 4% exact copies, 8% near-duplicates and
    4% contaminated; copies always follow their original. Base and
    contaminated documents are redrawn until they share no word trigram
    with any earlier one, so only planted copies can collide in the
    MinHash band index (whose 3-gram shingles are word trigrams). Returns
    the table and each document's planted role: "base", "exact", "near"
    or "contaminated"."""
    texts: list[str] = []
    plants: list[str] = []
    base_ids: list[int] = []
    seen: set[tuple[str, str, str]] = set()
    roles = rng.choice(
        ["base", "exact", "near", "contaminated"], n, p=[0.84, 0.04, 0.08, 0.04]
    )
    near_done: set[int] = set()
    for i, role in enumerate(roles):
        # A base document gets at most one near-duplicate: two would be
        # identical texts, and the second would fall at the exact stage.
        pool = [b for b in base_ids if role == "exact" or b not in near_done]
        if role in ("exact", "near") and pool:
            orig = pool[rng.integers(len(pool))]
            if role == "near":
                near_done.add(orig)
            texts.append(texts[orig] if role == "exact" else texts[orig] + " dup")
            plants.append(str(role))
            continue
        while True:
            words = _doc_words(rng, int(rng.integers(10, 101)))
            if role == "contaminated":
                at = int(rng.integers(0, len(words) + 1))
                start = int(rng.integers(0, len(BENCH_WORDS) - 5))
                words[at:at] = BENCH_WORDS[start:start + 5]
            grams = _trigrams(words)
            if not grams & seen:
                break
        seen |= grams
        if role == "contaminated":
            plants.append("contaminated")
        else:
            plants.append("base")
            base_ids.append(i)
        texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    table = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return table, plants


def _bench_docs(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(rng.choice(BENCH_WORDS, int(rng.integers(20, 40))).tolist())
        for _ in range(n)
    ]
    # Every benchmark trigram a contaminated document can carry is covered:
    # one benchmark document is the whole benchmark vocabulary in order.
    texts[0] = " ".join(BENCH_WORDS)
    return pa.table({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(scale=0.9, size=(n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32)),
        pa.array(vecs.ravel(), pa.float32()),
    )
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": labels.astype(np.int32),
    })


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = np.sort(start + rng.integers(0, span_us, n).astype("timedelta64[us]"))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def write_tables(out_dir: str, seed: int, scale: Scale = FULL) -> dict:
    """Write every input of one seed under ``out_dir``; returns the planted
    document roles and the file list for input-byte accounting."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    s = scale
    i32, i64 = np.int32, np.int64
    _write(pa.table({
        "r_regionkey": np.arange(5, dtype=i32), "r_name": list(REGIONS),
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(s.customers, dtype=i64),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        "c_nationkey": rng.integers(0, 25, s.customers).astype(i32),
        "c_acctbal": _money(rng, s.customers, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, s.customers),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(s.suppliers, dtype=i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": rng.integers(0, 25, s.suppliers).astype(i32),
        "s_acctbal": _money(rng, s.suppliers, -999.99, 9999.99),
    }), f"{out_dir}/supplier.parquet")
    pk = np.arange(s.parts, dtype=i64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, s.parts), rng.integers(0, 8, s.parts))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.parts)],
        "p_type": rng.choice(PART_TYPES, s.parts),
        "p_size": rng.integers(1, 51, s.parts).astype(i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    }), f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(s.orders, dtype=i64),
        "o_custkey": rng.integers(0, s.customers, s.orders).astype(i64),
        "o_orderstatus": rng.choice(("P", "O", "F"), s.orders),
        "o_totalprice": _money(rng, s.orders, 1000.0, 500000.0),
        "o_orderdate": _days(rng, s.orders, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, s.orders),
    }), f"{out_dir}/orders.parquet")
    n = s.lineitems
    _write(pa.table({
        "l_orderkey": rng.integers(0, s.orders, n).astype(i64),
        "l_partkey": rng.integers(0, s.parts, n).astype(i64),
        "l_suppkey": rng.integers(0, s.suppliers, n).astype(i64),
        "l_linenumber": rng.integers(1, 8, n).astype(i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n),
        "l_linestatus": rng.choice(("O", "F"), n),
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
    }), f"{out_dir}/lineitem.parquet")
    _write(_events(rng, s.events, s.users), f"{out_dir}/events.parquet")
    docs, plants = _documents(rng, s.documents)
    _write(docs, f"{out_dir}/documents.parquet")
    _write(_embeddings(rng, s.embeddings), f"{out_dir}/embeddings.parquet")
    _write(_bench_docs(rng, s.bench_docs), f"{out_dir}/bench_docs.parquet")
    return {"plants": plants, "docs": docs}


def write_waves(docs: pa.Table, out_dir: str, waves: int) -> list[str]:
    """Split ``docs`` by doc_id order into ``waves`` parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, docs.num_rows, waves + 1).astype(int)
    paths = []
    for k in range(waves):
        path = f"{out_dir}/wave{k}.parquet"
        _write(docs.slice(bounds[k], bounds[k + 1] - bounds[k]), path)
        paths.append(path)
    return paths


def expected_waves(plants: list[str], waves: int) -> list[dict]:
    """Per-wave stage counts ``ingest_wave`` must return, from the planted
    roles: exact copies fall at the exact stage, near-duplicates at the
    near-dup stage and contaminated documents at decontamination."""
    bounds = np.linspace(0, len(plants), waves + 1).astype(int)
    out = []
    for k in range(waves):
        kinds = plants[bounds[k]:bounds[k + 1]]
        incoming = len(kinds)
        after_exact = incoming - kinds.count("exact")
        after_near = after_exact - kinds.count("near")
        out.append({
            "incoming": incoming,
            "after_exact": after_exact,
            "after_near_dup": after_near,
            "admitted": after_near - kinds.count("contaminated"),
        })
    return out


def tick_days(seed: int, days: int) -> list[str]:
    """``days`` consecutive dates starting on a seed-chosen day of 2024."""
    first = dt.date(2024, 1, 1) + dt.timedelta(days=seed % 300)
    return [(first + dt.timedelta(days=d)).isoformat() for d in range(days)]
