"""Seeded query fixtures and the order-insensitive result fingerprint.

``write_tables`` writes the ten tables the 87 registered queries read
(``region`` … ``embeddings``) with the schemas and value shapes of the
sf0.001 test fixtures, drawn from ``numpy.random.default_rng(seed)``: the
same seed gives byte-identical parquet files, another seed gives other
rows of the same sizes, so per-query times stay comparable across seeds.

``canon_rows``/``fingerprint`` follow the DuckDB-oracle comparison in
``tests/test_entries.py``: columns in sorted order, floats rounded to six
places, NaN as ``"nan"``, rows compared as a sorted multiset.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_LINEITEM = 150, 10, 200, 1500, 6000
N_EVENTS, N_DOCUMENTS, N_EMBEDDINGS, EMBED_DIM = 1000, 500, 500, 64
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _money(rng, lo: float, hi: float, n: int):
    return (rng.uniform(lo, hi, n) * 100).round() / 100


def _days(rng, start: datetime.datetime, span_days: int, n: int):
    import pandas as pd

    return pd.to_datetime(start) + pd.to_timedelta(rng.integers(0, span_days, n), unit="D")


def make_tables(seed: int) -> dict:
    """The ten fixture tables as pandas frames, a pure function of ``seed``."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    i32 = np.int32
    t = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": rng.choice(_SEGMENTS, N_CUSTOMER),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(N_PART, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, N_PART), rng.choice(_NOUN, N_PART))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(_PTYPES, N_PART),
            "p_size": rng.integers(1, 51, N_PART).astype(i32),
            "p_retailprice": 900.0 + (np.arange(N_PART) % 200) / 10.0,
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _days(rng, datetime.datetime(1995, 1, 1), 2404, N_ORDERS),
            "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS),
        }
    )
    qty = rng.integers(1, 51, N_LINEITEM).astype(float)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
            "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype(np.int64),
            "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(i32),
            "l_quantity": qty,
            "l_extendedprice": (qty * rng.uniform(900.0, 2100.0, N_LINEITEM) * 100).round() / 100,
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
            "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
            "l_shipdate": _days(rng, datetime.datetime(1995, 1, 2), 2498, N_LINEITEM),
        }
    )
    t0 = pd.Timestamp("2024-01-01")
    ts = t0 + pd.to_timedelta(np.sort(rng.uniform(0, 30 * 86400, N_EVENTS)), unit="s")
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": ts.floor("us"),
            "user_id": rng.integers(0, 15, N_EVENTS).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, N_EVENTS),
            "value": _money(rng, 0.01, 330.0, N_EVENTS),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    texts = []
    for i in range(N_DOCUMENTS):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, N_DOCUMENTS),
            "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    vecs = rng.normal(size=(N_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, N_EMBEDDINGS).astype(i32),
        }
    )
    return t


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, df in make_tables(seed).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", pa.array(list(df["embedding"]), type=pa.list_(pa.float32()))
            )
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
        rows[name] = len(df)
    return rows


def phrase_matches(doc_ids, texts, phrase: str) -> list[tuple[int, int]]:
    """``(doc_id, n_matches)`` for every text holding ``phrase`` as adjacent
    space-separated tokens, counting every start offset, as
    ``retrieval.phrase_match_expr`` documents the query's result.

    The registered DuckDB oracle of ``phrase_match`` splits the text on the
    space-padded phrase, so back-to-back repeats share one space and
    ``"hash join hash join"`` counts 1 where the query counts 2. The
    fixtures of about one seed in twenty hold such a repeat; the benchmark
    checks that query against this count instead."""
    words = phrase.split(" ")
    k = len(words)
    out = []
    for doc_id, text in zip(doc_ids, texts):
        toks = text.split(" ")
        n = sum(toks[i:i + k] == words for i in range(len(toks) - k + 1))
        if n:
            out.append((int(doc_id), n))
    return out


def canon_value(v):
    """One value as ``tests/test_entries.py`` compares it: floats rounded to
    six places, NaN as ``"nan"``. Because the fingerprint hashes ``repr``
    where the test uses ``==``, integral floats and decimals become ints
    (``1 == 1.0`` but ``repr(1) != repr(1.0)``) and lists are canonicalised
    element by element."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        v = round(v, 6)
        return int(v) if v.is_integer() else v
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    return v


def canon_rows(columns: list[str], rows) -> list[tuple]:
    """Rows (sequences in ``columns`` order) as a sorted multiset of canonical
    tuples over the sorted column names. Sorting goes by ``repr`` so rows
    holding None sort too."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        (tuple(canon_value(r[i]) for i in order) for r in rows), key=repr
    )


def fingerprint(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: sorted column names plus the
    canonical row multiset."""
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for row in canon_rows(columns, rows):
        h.update(repr(row).encode())
    return h.hexdigest()
