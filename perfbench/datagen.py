"""Deterministic synthetic fixture tables for the benchmark.

Writes the ten tables the engine's declared queries read (TPC-H-ish star
schema, ``events``, ``documents``, ``embeddings``) as one parquet file
each, following the schemas and value domains in the repository's
FIXTURES.md. The benchmark never reads data from outside its checkout, so
it builds its inputs here. The tables depend only on ``sf`` and a fixed
generator seed; the workload seed picks statement order, DML predicates
and the document subset, not the table contents, so that every seed
measures the same amount of data.

Properties the queries rely on and that are kept:

* ``events.ts`` is INT64 TIMESTAMP(NANOS) (the engine's ns-timestamp shim);
* ``(l_orderkey, l_linenumber)`` and every ``*key``/``*_id`` are unique,
  so ordered window functions are deterministic;
* ``documents`` carries planted exact duplicates and planted near
  duplicates (a few trigram-level token substitutions);
* ``embeddings`` are 64-dim float32 unit vectors with a 0..9 label.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
# Bump when the generated contents change, so cached data is rebuilt.
GEN_VERSION = 1

VOCAB = (
    "a the data spark query table row column key value join group sort "
    "merge hash scan filter agg window stream batch vector line part order "
    "customer fast slow big small dup"
).split()
_ADJ = "red old cold hot new large small blue".split()
_NOUN = "bolt anvil plate widget gear ring rod gizmo".split()
_TYPES = "PROMO ECONOMY STANDARD LARGE SMALL MEDIUM".split()
_SEGMENTS = "MACHINERY AUTOMOBILE BUILDING FURNITURE HOUSEHOLD".split()
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = "click view purchase signup error".split()
_LANGS = "en de es fr zh".split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_MS = 86_400_000
_EPOCH_1995 = 788_918_400_000  # 1995-01-01 UTC, ms
_EPOCH_2024_NS = 1_704_067_200_000_000_000  # 2024-01-01 UTC, ns


def _table_sizes(sf: float) -> dict[str, int]:
    k = sf * 1000
    return {
        "customer": int(150 * k),
        "supplier": int(10 * k),
        "part": int(200 * k),
        "orders": int(1500 * k),
        "events": int(1000 * k),
        # the fixture set carries 500 documents/embeddings up to sf0.01
        "documents": max(500, int(50 * k)),
        "embeddings": max(500, int(20 * k)),
    }


def _write(path: str, table: pa.Table) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents_table(n: int, rng: np.random.Generator) -> pa.Table:
    """Token documents with ~1% exact and ~5% near duplicates planted."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
        else:
            m = int(rng.integers(8, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), m)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_LANGS[j] for j in rng.integers(0, 5, n)], pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir: str, sf: float) -> None:
    """Write every fixture table for ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([GEN_SEED, int(sf * 1000)])
    size = _table_sizes(sf)

    _write(os.path.join(out_dir, "region.parquet"), pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    }))
    _write(os.path.join(out_dir, "nation.parquet"), pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    n = size["customer"]
    _write(os.path.join(out_dir, "customer.parquet"), pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), pa.float64()),
        "c_mktsegment": pa.array([_SEGMENTS[j] for j in rng.integers(0, 5, n)],
                                 pa.string()),
    }))

    n = size["supplier"]
    _write(os.path.join(out_dir, "supplier.parquet"), pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        # nations 0..19 only: EXCEPT/INTERSECT queries rely on gaps
        "s_nationkey": pa.array(rng.integers(0, 20, n), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), pa.float64()),
    }))

    n = size["part"]
    _write(os.path.join(out_dir, "part.parquet"), pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
                           pa.string()),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n)],
                            pa.string()),
        "p_type": pa.array([_TYPES[j] for j in rng.integers(0, 6, n)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) / 10, 2),
                                  pa.float64()),
    }))

    n_orders = size["orders"]
    order_days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    _write(os.path.join(out_dir, "orders.parquet"), pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, size["customer"], n_orders), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in
                                   rng.integers(0, 3, n_orders)], pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_orders), pa.float64()),
        "o_orderdate": pa.array(_EPOCH_1995 + order_days * _DAY_MS, pa.timestamp("ms")),
        "o_orderpriority": pa.array([_PRIORITIES[j] for j in
                                     rng.integers(0, 5, n_orders)], pa.string()),
    }))

    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    okeys = np.repeat(np.arange(n_orders), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(os.path.join(out_dir, "lineitem.parquet"), pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, size["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, size["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(np.arange(n) - starts + 1, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2),
                                    pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n)],
                                 pa.string()),
        "l_linestatus": pa.array([("O", "F")[j] for j in rng.integers(0, 2, n)],
                                 pa.string()),
        "l_shipdate": pa.array(_EPOCH_1995 + (1 + rng.integers(0, 2499, n)) * _DAY_MS,
                               pa.timestamp("ms")),
    }))

    n = size["events"]
    span_ns = 30 * _DAY_MS * 1_000_000
    ts = np.sort(rng.choice(span_ns, n, replace=False)) + _EPOCH_2024_NS
    _write(os.path.join(out_dir, "events.parquet"), pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(15, n // 66), n), pa.int64()),
        "event_type": pa.array([_EVENT_TYPES[j] for j in rng.integers(0, 5, n)],
                               pa.string()),
        "value": pa.array(_money(rng, 0.01, 490.02, n), pa.float64()),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n)],
                          pa.string()),
    }))

    _write(os.path.join(out_dir, "documents.parquet"),
           documents_table(size["documents"], rng))

    n = size["embeddings"]
    vec = rng.normal(size=(n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(os.path.join(out_dir, "embeddings.parquet"), pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }))


def ensure(root: str, sf: float) -> str:
    """Generate the ``sf`` tables under ``root`` once; return their dir."""
    out = os.path.join(root, f"sf{sf:g}-v{GEN_VERSION}")
    marker = os.path.join(out, "_COMPLETE")
    if not os.path.exists(marker):
        generate(out, sf)
        with open(marker, "w") as f:
            f.write("ok\n")
    return out
