"""Seeded inputs for the benchmark workloads.

The program sees only the files written here. Every table has the schema
and value domains of the fixture tables FIXTURES.md documents (TPC-H-ish
star schema, the ``events`` stream, the ``documents``/``embeddings``
LLM-curation pair), but is generated from the seed alone, so a run reads
nothing outside its checkout. The same seed gives byte-identical files.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
# The fixture corpus marks a near-duplicate by appending this token to a
# copy of another document's text; the dedup queries are tuned on that shape.
DUP_TOKEN = "dup"

ORDER_EPOCH = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # through 2001-08-01
SHIP_EPOCH = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2498  # through 2001-11-04
EVENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000

LINEITEM_COLUMNS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
)
# Columns whose value a malformed line breaks (the spec types them numeric,
# so PERMISSIVE parsing must quarantine the line).
NUMERIC_CSV_COLUMNS = tuple(range(8))


def rng_for(seed: int, *labels: object) -> np.random.Generator:
    """An independent stream per (seed, label) so adding one input never
    shifts another's values."""
    digest = hashlib.sha256(repr((seed, *labels)).encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, epoch, span, n) -> pa.Array:
    days = epoch + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, values, n) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _permuted(rng: np.random.Generator, table: pa.Table) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The TPC-H-ish tables plus ``events`` at scale factor ``sf``.

    Foreign keys are drawn from the generated key ranges, so every join
    finds its dimension row; row order is permuted per table.
    """
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    out: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    r = rng_for(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust),
    })
    r = rng_for(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })
    r = rng_for(seed, "part")
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    r = rng_for(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(r, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(r, ORDER_EPOCH, ORDER_DAYS, n_ord),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord),
    })
    out["lineitem"] = lineitem_table(rng_for(seed, "lineitem"), n_line, n_ord, n_part, n_supp)
    r = rng_for(seed, "events")
    ts = np.sort(r.integers(0, EVENT_SPAN_US, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(EVENT_EPOCH + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(100, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
    })
    r = rng_for(seed, "permute")
    return {name: _permuted(r, t) for name, t in out.items()}


def lineitem_table(r: np.random.Generator, n: int, n_ord: int, n_part: int, n_supp: int) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(r, ("A", "N", "R"), n),
        "l_linestatus": _pick(r, ("F", "O"), n),
        "l_shipdate": _days(r, SHIP_EPOCH, SHIP_DAYS, n),
    })


def corpus_tables(seed: int, n_docs: int, n_vecs: int, dup_share: float) -> dict[str, pa.Table]:
    """``documents`` with ``dup_share`` injected near-duplicates (a copy of
    another document plus the marker token) and unit-norm ``embeddings``."""
    r = rng_for(seed, "documents")
    lengths = r.integers(10, 101, n_docs)
    texts = [" ".join(np.asarray(VOCAB)[r.integers(0, len(VOCAB), k)]) for k in lengths]
    n_dup = int(round(n_docs * dup_share))
    dup_ids = np.sort(r.choice(n_docs, n_dup, replace=False))
    dup_set = set(dup_ids.tolist())
    originals = np.array([i for i in range(n_docs) if i not in dup_set])
    for d, src in zip(dup_ids, r.choice(originals, n_dup)):
        texts[d] = f"{texts[src]} {DUP_TOKEN}"
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(r, LANGS, n_docs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    r = rng_for(seed, "embeddings")
    vecs = r.standard_normal((n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vecs), pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


# --- etl_upload -------------------------------------------------------------

@dataclass(frozen=True)
class CsvFile:
    data: bytes
    n_good: int
    n_bad: int

    @property
    def sha256(self) -> str:
        return hashlib.sha256(self.data).hexdigest()


def lineitem_csv(seed: int, label: str, n_rows: int, bad_share: float) -> CsvFile:
    """A lineitem-shaped CSV (header, ISO timestamps) with ``bad_share`` of
    its lines made malformed at seeded positions: one numeric field becomes
    an unparseable token, so typed ingest must quarantine exactly those."""
    r = rng_for(seed, "csv", label)
    t = lineitem_table(r, n_rows, 150_000, 20_000, 1_000)  # sf0.1 key ranges
    n_bad = max(1, int(round(n_rows * bad_share)))
    bad = np.zeros(n_rows, dtype=bool)
    bad[r.choice(n_rows, n_bad, replace=False)] = True
    bad_col = r.choice(NUMERIC_CSV_COLUMNS, n_rows)
    cols = []
    for i, name in enumerate(LINEITEM_COLUMNS):
        col = pc.cast(t.column(name), pa.string())
        if i in NUMERIC_CSV_COLUMNS:
            col = pc.if_else(pa.array(bad & (bad_col == i)), pc.binary_join_element_wise("x", col, ""), col)
        cols.append(col)
    sink = pa.BufferOutputStream()
    pacsv.write_csv(pa.table(cols, names=list(LINEITEM_COLUMNS)), sink,
                    pacsv.WriteOptions(quoting_style="none"))
    return CsvFile(sink.getvalue().to_pybytes(), n_rows - n_bad, n_bad)
