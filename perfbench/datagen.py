"""Deterministic benchmark inputs, made without the program under test.

``generate(out_dir, scale)`` writes the ten star-schema / corpus tables the
query registry reads (one Parquet file each, the column names and types of
the engine's fixture tables) and ``clearvue.csv``, the ClearVue-shaped flat
export the reference pipeline ingests. ``scale=1.0`` gives the fixture's
sf0.01 shapes (60,000 line items; a 3.6 MB CSV); the self-test uses ``scale=0.1``.

The inputs are a fixed function of ``DATA_SEED`` and ``scale``: the
benchmark's ``--seed`` orders the work within a pass, it does not change the
data, so the DuckDB digests can be computed once per data set.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

VOCAB = (
    "spark join scan row hash batch customer column filter small slow merge "
    "order vector line data table agg value key stream window a group part "
    "big sort query fast the"
).split()
ADJ = "small red blue hot cold old new large".split()
NOUN = "ring widget bolt gear rod plate gizmo anvil".split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "en", "en", "en", "de", "es", "fr", "zh")

DAY_US = 86_400_000_000


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b + 1, n)


def _ts_from_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, scale: float = 1.0, seed: int = DATA_SEED) -> None:
    """Write every table and the ETL CSV into ``out_dir`` (created)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(200, int(2000 * scale))
    n_ord = max(1500, int(15000 * scale))
    n_li = max(6000, int(60000 * scale))
    n_ev = max(1000, int(10000 * scale))
    n_doc = n_vec = 500

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{ADJ[a]} {NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    order_days = _days(rng, "1995-01-01", "2001-07-31", n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_from_days(order_days),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    okey = np.sort(rng.integers(0, n_ord, n_li))
    first = np.searchsorted(okey, okey, side="left")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - first + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_from_days(order_days[okey] + rng.integers(1, 122, n_li)),
    })
    base = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + base
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.0, 20.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # Zipf-like word frequencies so the heavy-hitter sketch has tokens above
    # its support; every 20th document is an earlier one plus " dup", so the
    # dedup tiles have near-duplicates to find.
    w = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.7
    w /= w.sum()
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and i % 20 == 8:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n_words = int(rng.integers(10, 100))
        texts.append(" ".join(VOCAB[j] for j in rng.choice(len(VOCAB), n_words, p=w)))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n_vec * 64 + 1, 64), pa.int32())
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })
    write_clearvue_csv(out_dir)


#: ClearVue column headers (spaced, mixed case: the ingest snake-cases them)
#: and the star-schema expression each is made from. ``Unnamed: 0`` is the
#: pandas index artefact the ingest drops.
CLEARVUE_COLUMNS = (
    ("Unnamed: 0", "row_number() OVER (ORDER BY l.l_orderkey, l.l_linenumber) - 1"),
    ("Doc Number", "'D' || l.l_orderkey"),
    ("Line Number", "l.l_linenumber"),
    ("Customer Number", "'C' || o.o_custkey"),
    ("Cust Desc", "c.c_name"),
    ("Product Code", "'P' || p.p_partkey"),
    ("Product Desc", "p.p_name"),
    ("Brand Desc", "p.p_brand"),
    ("Region Code", "r.r_regionkey"),
    ("Region Desc", "CASE WHEN l.l_orderkey % 211 = 0 THEN 'nan' ELSE ' ' || r.r_name || ' ' END"),
    ("Rep Code", "'R' || (o.o_custkey % 40)"),
    ("Transtype Code", "CASE WHEN l.l_returnflag = 'R' THEN 2 ELSE 1 END"),
    ("Quantity", "l.l_quantity"),
    ("Total Line Price", "CASE WHEN l.l_orderkey % 997 = 0 THEN 'n/a' ELSE CAST(l.l_extendedprice AS VARCHAR) END"),
    ("Last Cost", "p.p_retailprice"),
    ("Trans Date", "CASE WHEN l.l_orderkey % 503 = 0 THEN 'bad-date' ELSE strftime(l.l_shipdate, '%Y-%m-%d') END"),
    ("Deposit Date", "strftime(o.o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d')"),
    ("Tot Payment", "round(l.l_extendedprice * (1 - l.l_discount), 2)"),
    ("Bank Amt", "round(l.l_extendedprice * (1 - l.l_discount) * (1 + l.l_tax), 2)"),
    ("Total Due", "c.c_acctbal"),
    ("Amt Current", "round(c.c_acctbal * 0.4, 2)"),
    ("Amt 30 Days", "round(c.c_acctbal * 0.2, 2)"),
    ("Amt 60 Days", "round(c.c_acctbal * 0.1, 2)"),
    ("Amt 90 Days", "round(c.c_acctbal * 0.1, 2)"),
    ("Amt 120 Days", "round(c.c_acctbal * 0.05, 2)"),
    ("Amt 150 Days", "round(c.c_acctbal * 0.05, 2)"),
    ("Amt 180 Days", "round(c.c_acctbal * 0.04, 2)"),
    ("Amt 210 Days", "round(c.c_acctbal * 0.03, 2)"),
    ("Amt 240 Days", "round(c.c_acctbal * 0.03, 2)"),
)


def write_clearvue_csv(data_dir: str) -> str:
    """Flatten the star schema into the ClearVue CSV with DuckDB: the lines
    shipped in 1997 and 1998 (about 17,500 at ``scale=1.0``, 26 fiscal
    months).

    A few cells carry the reference's mess on purpose: ``nan`` region
    sentinels, padded strings, a non-numeric price (``n/a``) and an
    unparseable trans date (the row falls back to its deposit date).
    """
    import duckdb

    path = os.path.join(data_dir, "clearvue.csv")
    select = ",\n  ".join(f'{expr} AS "{name}"' for name, expr in CLEARVUE_COLUMNS)
    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        for t in ("lineitem", "orders", "customer", "nation", "region", "part"):
            p = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        con.execute(
            f"""COPY (SELECT
  {select}
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1999-01-01'
ORDER BY l.l_orderkey, l.l_linenumber) TO '{path}' (HEADER, DELIMITER ',')"""
        )
    finally:
        con.close()
    return path
