"""Seeded input generation for the benchmark workloads.

Every table is a pure function of ``(seed, scale)``: the same seed gives
byte-identical Parquet files. ``scale=1.0`` matches the row counts of
the engine's sf0.1 star schema (150k orders, 600k lineitem, 5k
documents, 2k embeddings); the tests use ``scale=0.01`` (sf0.001).

Column names, types and value domains mirror the star schema the query
registry is written against, so registry queries and their DuckDB
oracles run unchanged over a generated directory. The distributions do
too, as measured on the sf0.1 tables: document words are drawn
uniformly from the corpus' 30-word vocabulary (each word is 3.3% of the
tokens there), 5% of documents are an earlier one plus ``dup`` and 0.16%
exact copies; embeddings are isotropic unit vectors whose ``label`` is
uninformative (mean same-label cosine 0.001 there); event values have
mean 50.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the vocabulary of the star schema's documents table
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "red", "small", "old"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
EMBED_DIM = 64

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream), so adding a stream
    never shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


def _n(base: int, scale: float, floor: int = 5) -> int:
    return max(floor, int(round(base * scale)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(start: str, rng: np.random.Generator, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array((base + days).astype("datetime64[us]"), pa.timestamp("us"))


def orders(seed: int, scale: float) -> pa.Table:
    rng = rng_for(seed, "orders")
    n = _n(150_000, scale)
    n_cust = _n(15_000, scale)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n)),
        "o_orderdate": _days("1995-01-01", rng, 2404, n),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n_words))


def documents(seed: int, scale: float) -> pa.Table:
    """10-100 uniform words per document, 5% near-duplicates (an
    earlier text plus ``dup``) and 0.16% exact copies."""
    rng = rng_for(seed, "documents")
    n = _n(5_000, scale)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.0516:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def unit_vectors(rng: np.random.Generator, n: int) -> pa.Array:
    """Isotropic unit-norm float32 vectors."""
    v = rng.standard_normal((n, EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pa.array(list(v), pa.list_(pa.float32()))


def embeddings(seed: int, scale: float) -> pa.Table:
    rng = rng_for(seed, "embeddings")
    n = _n(2_000, scale)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": unit_vectors(rng, n),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def events(seed: int, scale: float) -> pa.Table:
    rng = rng_for(seed, "events")
    n = _n(100_000, scale)
    n_users = _n(1_500, scale, floor=20)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    micros = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + micros.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def star_schema(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables of the star schema the query registry reads."""
    rng = rng_for(seed, "star")
    n_cust = _n(15_000, scale)
    n_supp = _n(1_000, scale)
    n_part = _n(20_000, scale)
    n_line = _n(600_000, scale)
    o = orders(seed, scale)
    n_ord = o.num_rows
    pk = np.arange(n_part, dtype=np.int64)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(pk),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 2)),
        }),
        "orders": o,
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
            "l_shipdate": _days("1995-01-02", rng, 2498, n_line),
        }),
        "events": events(seed, scale),
        "documents": documents(seed, scale),
        "embeddings": embeddings(seed, scale),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """``<out_dir>/<name>.parquet`` per table — the layout the query
    registry's ``sf_dir`` argument expects."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def write_events_csv(t: pa.Table, path: str, copies: int) -> int:
    """The raw-zone input of the ingest: ``copies`` replicas of the
    events table as one headerless CSV (event ids offset per replica so
    rows stay distinct). Returns the byte size written."""
    import pyarrow.csv as pacsv

    opts = pacsv.WriteOptions(include_header=False)
    with pacsv.CSVWriter(path, t.schema, write_options=opts) as w:
        for c in range(copies):
            ids = pa.array(t["event_id"].to_numpy() + c * t.num_rows)
            w.write_table(t.set_column(0, "event_id", ids))
    return os.path.getsize(path)
