"""Seeded input generator for the benchmark.

Writes one Parquet file per table with the shipped schemas and value
domains (FIXTURES.md): the TPC-H-style star schema plus the ``events``
stream table, and the LLM-data corpus (``documents``, ``embeddings``)
with the statistics of ``scripts/gen_sf1.py``.  That script hardcodes
seed 42, so its logic is copied here rather than called.

Every table draws from its own ``numpy`` PCG64 stream keyed by
``(seed, table)``, so the same seed gives byte-identical files and a
change to one table's size leaves the others unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated data changes, so cached oracle digests expire
GEN_VERSION = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
NAME_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NAME_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
# the shipped corpus's 31-word vocabulary (scripts/gen_sf1.py)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_W = [0.41, 0.14, 0.15, 0.14, 0.16]
N_SOURCES = 20
NEAR_DUP_FRAC = 0.05
EXACT_DUP_FRAC = 0.002
EMB_DIM = 64
EMB_LABELS = 10

_DAY_US = 86_400 * 1_000_000
_TABLE_IDS = {
    name: i
    for i, name in enumerate(
        "region nation customer supplier part orders lineitem events "
        "documents embeddings doc_langs".split()
    )
}


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, _TABLE_IDS[table]])


def _day_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def _days(rng, n: int, first: str, last: str) -> pa.Array:
    """``n`` uniform midnight timestamps in ``[first, last]``."""
    lo, hi = _day_us(first) // _DAY_US, _day_us(last) // _DAY_US
    return pa.array(rng.integers(lo, hi + 1, size=n) * _DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values)[rng.integers(0, len(values), size=n)])


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def star_tables(seed: int, orders: int, events: int) -> dict[str, pa.Table]:
    """The star schema at TPC-H proportions: ``orders`` orders, 4 lineitems,
    0.1 customers, 2/15 parts and 1/150 suppliers per order; ``events``
    events over 30 days from ``events // 66`` users."""
    n_cust, n_part, n_supp = orders // 10, orders * 2 // 15, orders // 150
    n_line = orders * 4
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    r = _rng(seed, "customer")
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": _keyed_names("Customer", n_cust),
            "c_nationkey": pa.array(r.integers(0, 25, size=n_cust), pa.int32()),
            "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(r, SEGMENTS, n_cust),
        }
    )
    r = _rng(seed, "supplier")
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": _keyed_names("Supplier", n_supp),
            "s_nationkey": pa.array(r.integers(0, 25, size=n_supp), pa.int32()),
            "s_acctbal": _money(r, n_supp, -999.99, 9999.99),
        }
    )
    r = _rng(seed, "part")
    names = [f"{a} {b}" for a in NAME_ADJ for b in NAME_NOUN]
    keys = np.arange(n_part)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": _pick(r, names, n_part),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in r.integers(1, 26, size=n_part)]
            ),
            "p_type": _pick(r, PART_TYPES, n_part),
            "p_size": pa.array(r.integers(1, 51, size=n_part), pa.int32()),
            "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1),
        }
    )
    r = _rng(seed, "orders")
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(orders), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, size=orders), pa.int64()),
            "o_orderstatus": _pick(r, ["F", "O", "P"], orders),
            "o_totalprice": _money(r, orders, 1000.0, 500000.0),
            "o_orderdate": _days(r, orders, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(r, PRIORITIES, orders),
        }
    )
    r = _rng(seed, "lineitem")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, orders, size=n_line), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, size=n_line), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, size=n_line), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, size=n_line), pa.int32()),
            "l_quantity": r.integers(1, 51, size=n_line).astype(np.float64),
            "l_extendedprice": _money(r, n_line, 900.0, 105000.0),
            "l_discount": r.integers(0, 11, size=n_line) / 100.0,
            "l_tax": r.integers(0, 9, size=n_line) / 100.0,
            "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(r, ["F", "O"], n_line),
            "l_shipdate": _days(r, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    tables["events"] = events_table(seed, events, days=30, users=max(1, events // 66))
    return tables


def events_table(seed: int, n: int, days: int, users: int) -> pa.Table:
    """``n`` events in ts order over ``days`` days from 2024-01-01: five
    uniform event types, exponential values with mean 50 at 2 dp, and a
    ``{"k": 0..99}`` JSON payload."""
    r = _rng(seed, "events")
    start = _day_us("2024-01-01")
    ts = np.sort(start + (r.random(n) * days * _DAY_US).astype(np.int64))
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, users, size=n), pa.int64()),
            "event_type": _pick(r, EVENT_TYPES, n),
            "value": np.round(-50.0 * np.log1p(-r.random(n)), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, size=n)]),
        }
    )


def doc_texts(seed: int, n: int) -> list[str]:
    """``n`` documents of 10-100 uniform vocabulary tokens, with ~0.2%
    exact copies and ~5% near-dups (last token replaced) of earlier docs."""
    r = _rng(seed, "documents")
    kind = r.random(n)
    lengths = r.integers(10, 101, size=n)
    tokens = r.integers(0, len(VOCAB), size=int(lengths.sum()))
    ends = np.cumsum(lengths)
    src = r.random(n)  # which earlier doc a dup copies
    repl = r.integers(0, len(VOCAB), size=n)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and kind[i] < EXACT_DUP_FRAC:
            texts.append(texts[int(src[i] * i)])
        elif i > 10 and kind[i] < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            base = texts[int(src[i] * i)].split()
            base[-1] = VOCAB[repl[i]]
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(vocab[tokens[ends[i] - lengths[i] : ends[i]]]))
    return texts


def corpus_tables(seed: int, docs: int, vecs: int) -> dict[str, pa.Table]:
    """``docs`` documents in 5 languages from 20 round-robin sources, and
    ``vecs`` unit-norm 64-d embeddings around 10 label centres."""
    texts = doc_texts(seed, docs)
    r = _rng(seed, "doc_langs")
    langs = np.array(LANGS)[r.choice(len(LANGS), size=docs, p=LANG_W)]
    documents = pa.table(
        {
            "doc_id": pa.array(range(docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    r = _rng(seed, "embeddings")
    centers = r.normal(size=(EMB_LABELS, EMB_DIM))
    labels = r.integers(0, EMB_LABELS, size=vecs)
    v = centers[labels] + 0.3 * r.normal(size=(vecs, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, vecs * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    embeddings = pa.table(
        {
            "vec_id": pa.array(range(vecs), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    return {"documents": documents, "embeddings": embeddings}


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
