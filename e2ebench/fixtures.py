"""Seeded fixture tables with the FIXTURES.md schemas at sf0.01 row counts.

The benchmark cannot read a fixture directory from outside its checkout, so
it writes its own: one parquet file per table, with the names, column types
and value domains the registry and ``ChSession`` read. The same seed writes
the same rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.01 row counts (FIXTURES.md §1); region and nation are fixed-size
ROWS = dict(customer=1_500, supplier=100, part=2_000, orders=15_000,
            lineitem=60_000, events=10_000, documents=500, embeddings=500)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query order "
         "stream group filter big vector").split()

_EPOCH_US = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH_US) // dt.timedelta(microseconds=1)


def _ts_between(rng: np.random.Generator, n: int, lo: dt.datetime, hi: dt.datetime,
                unit_us: int) -> pa.Array:
    """n timestamps uniform in [lo, hi), floored to ``unit_us``."""
    v = rng.integers(_us(lo) // unit_us, _us(hi) // unit_us, n) * unit_us
    return pa.array(v, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _pick(rng: np.random.Generator, values: list[str], n: int,
          p: list[float] | None = None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def make_tables(seed: int) -> dict[str, pa.Table]:
    """Every fixture table, from ``seed``."""
    rng = np.random.default_rng(seed)
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99)),
    })
    npart = n["part"]
    adjectives = ["small", "red", "blue", "large", "green", "shiny"]
    nouns = ["ring", "widget", "bolt", "gear", "nut", "spring"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([f"{adjectives[a]} {nouns[b]}" for a, b in
                            zip(rng.integers(0, 6, npart), rng.integers(0, 6, npart))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(_money(rng, npart, 900, 2000)),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, STATUSES, no),
        "o_totalprice": pa.array(_money(rng, no, 900, 500_000)),
        "o_orderdate": _ts_between(rng, no, dt.datetime(1995, 1, 1),
                                   dt.datetime(2001, 8, 1), 86_400_000_000),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    per_order = nl // no
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(no), per_order), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.tile(np.arange(1, per_order + 1), no), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, nl, 900, 100_000)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts_between(rng, nl, dt.datetime(1995, 1, 2),
                                  dt.datetime(2001, 11, 4), 86_400_000_000),
    })
    ne = n["events"]
    users = max(15, ne // 67)
    ts = np.sort(rng.integers(_us(dt.datetime(2024, 1, 1)),
                              _us(dt.datetime(2024, 1, 31)), ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(_money(rng, ne, 0, 100)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nd = n["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 90))])
             for _ in range(nd)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, nd, p=[0.1, 0.6, 0.1, 0.1, 0.1]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, 64))
    vecs = (centers[labels] + 0.5 * rng.normal(size=(nv, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_fixtures(out_dir: str, seed: int) -> dict[str, pa.Table]:
    """Write every table as ``out_dir/<name>.parquet``; returns the tables."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(seed)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return tables
