"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: the same seed writes
byte-identical parquet files, so the program under test receives only
generated data and two runs of one seed see the same inputs. Generation
runs in NumPy + pyarrow (no Spark), outside every timed region, and is
cached per seed under the run's work directory.

Two sources:

* ``write_tpch`` — TPC-H-shaped ``nation``, ``customer``, ``orders`` and
  ``lineitem`` tables with the column names and types of the repository's
  sf* test tables (DOUBLE money columns, TIMESTAMP dates), so the
  existing ``TPCH_SPARQL_*`` queries and oracles apply unchanged.
  ``write_delta`` derives one incremental round from a table version:
  changed order statuses and prices plus new customers, foreign keys
  kept intact.
* ``write_docs`` — the interleaved-doc corpus ``documents.parquet``
  (doc_id, text, lang, source, n_chars) with the shape measured on the
  repository's sf0.1 test corpus (5,000 documents; NOTES.md has the
  figures): the same 30-word vocabulary, uniform 10–100 tokens per
  document, ~4.9 % near-duplicates (an earlier document plus the token
  ``dup``), ~0.16 % exact duplicates, and its language shares, so
  MinHash-LSH and connected components have real edges to find.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
ORDER_DAYS = 2400
CHANGED_ORDERS = 0.02
NEW_CUSTOMERS = 0.01
#: shares of the sf0.1 test corpus: 243 and 8 of its 5,000 documents
NEAR_DUPLICATES = 0.0486
EXACT_DUPLICATES = 0.0016


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so that adding a table
    never shifts the values of another."""
    salt = int.from_bytes(stream.encode(), "little") % (2**31)
    return np.random.default_rng([seed, salt])


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="zstd")
    os.replace(tmp, path)


def _customers(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys.tolist()], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2), pa.float64()),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)], pa.string()),
    })


def write_tpch(out_dir: str, seed: int, sf: float) -> dict[str, str]:
    """Write the four TPC-H-shaped tables at scale factor ``sf``; returns
    table name → parquet path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {t: os.path.join(out_dir, f"{t}.parquet") for t in
             ("nation", "customer", "orders", "lineitem")}
    if all(os.path.exists(p) for p in paths.values()):
        return paths
    n_cust = max(int(150_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 500)

    nk = np.arange(25)
    _write(pa.table({
        "n_nationkey": pa.array(nk, pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in nk], pa.string()),
        "n_regionkey": pa.array(nk % 5, pa.int32()),
    }), paths["nation"])

    _write(_customers(_rng(seed, "customer"), np.arange(n_cust)), paths["customer"])

    rng = _rng(seed, "orders")
    okeys = np.arange(n_ord)
    days = rng.integers(0, ORDER_DAYS, n_ord)
    _write(pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(850.0, 500_000.0, n_ord), 2)),
        "o_orderdate": pa.array(EPOCH_1992 + days.astype("timedelta64[D]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }), paths["orders"])

    rng = _rng(seed, "lineitem")
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(okeys, lines)
    n_li = len(l_ok)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(days, lines) + rng.integers(1, 122, n_li)
    _write(pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(int(200_000 * sf), 100), n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(int(10_000 * sf), 10), n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(EPOCH_1992 + ship.astype("timedelta64[D]"), pa.timestamp("us")),
    }), paths["lineitem"])
    return paths


def write_delta(tables: dict[str, str], out_dir: str, seed: int,
                round_no: int) -> dict[str, str]:
    """One incremental round over the table version ``tables``: a seeded
    ``CHANGED_ORDERS`` share of orders gets a new status and total price,
    and ``NEW_CUSTOMERS`` × the customer count are appended. Keys never
    change and nothing is deleted, so every foreign key stays intact, as
    it would in the source database. Returns the new table version
    (unchanged tables keep their path)."""
    os.makedirs(out_dir, exist_ok=True)
    out = dict(tables)
    out["orders"] = os.path.join(out_dir, "orders.parquet")
    out["customer"] = os.path.join(out_dir, "customer.parquet")
    if os.path.exists(out["orders"]) and os.path.exists(out["customer"]):
        return out
    rng = _rng(seed, f"delta{round_no}")

    orders = pq.read_table(tables["orders"])
    n = orders.num_rows
    hit = rng.random(n) < CHANGED_ORDERS
    status = orders.column("o_orderstatus").to_numpy(zero_copy_only=False).copy()
    status[hit] = np.array(["O", "F", "P"])[rng.integers(0, 3, int(hit.sum()))]
    price = orders.column("o_totalprice").to_numpy().copy()
    price[hit] = np.round(price[hit] * rng.uniform(0.9, 1.1, int(hit.sum())), 2)
    orders = orders.set_column(
        orders.schema.get_field_index("o_orderstatus"), "o_orderstatus", pa.array(status)
    ).set_column(
        orders.schema.get_field_index("o_totalprice"), "o_totalprice", pa.array(price)
    )
    _write(orders, out["orders"])

    customer = pq.read_table(tables["customer"])
    first = int(pc.max(customer.column("c_custkey")).as_py()) + 1
    n_new = max(int(customer.num_rows * NEW_CUSTOMERS), 1)
    added = _customers(rng, np.arange(first, first + n_new))
    _write(pa.concat_tables([customer, added]), out["customer"])
    return out


def write_docs(out_dir: str, seed: int, n_docs: int) -> str:
    """Write ``documents.parquet`` with ``n_docs`` documents; returns the
    directory (the ``sf_dir`` argument of ``pipeline.build_kg``)."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    if os.path.exists(path):
        return out_dir
    rng = _rng(seed, "docs")
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n_docs)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    # planted structure as in the sf0.1 corpus: near-duplicates are an
    # earlier doc + " dup" (Jaccard ≈ 0.96 > the 0.8 edge threshold),
    # exact duplicates repeat one (neardup_edges' collapse_exact path)
    kind = rng.random(n_docs)
    src = rng.integers(0, n_docs, n_docs)
    for i in range(1, n_docs):
        if kind[i] < NEAR_DUPLICATES:
            texts[i] = texts[src[i] % i] + " dup"
        elif kind[i] < NEAR_DUPLICATES + EXACT_DUPLICATES:
            texts[i] = texts[src[i] % i]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)
    return out_dir
