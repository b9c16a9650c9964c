"""Seeded input generator for the perfbench workloads.

Two kinds of input, both pure functions of their seed:

- the *base tables*: the TPC-H-shaped star schema with the same schemas,
  row counts and value ranges as the sf0.1 fixtures (FIXTURES.md). They use
  a fixed fixture seed, so every run of every workload starts from the same
  data;
- the *workload plans*: the window sequence, the statement list with its
  key ranges and MERGE batches, and the read keys. These come from the
  ``--seed`` given on the command line.

Nothing here imports Spark: the program under test only ever sees the files
and statements produced by this module.
"""

from __future__ import annotations

import hashlib
from datetime import date, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Base tables use a fixed seed, like the repository's test fixtures
#: (TESTDATA.md).
FIXTURE_SEED = 42

#: Row counts of the sf0.1 fixtures.
SF01_ROWS = {
    "orders": 150_000,
    "customer": 15_000,
    "part": 20_000,
    "supplier": 1_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

#: Width of an ``embeddings`` vector in the fixtures.
EMBEDDING_DIM = 64

ORDER_DATE_FROM = date(1995, 1, 1)
ORDER_DATE_DAYS = 2404  # o_orderdate spans 1995-01-01 .. 2001-08-01

#: Why each workload is in the benchmark.
WHY = {
    "nightly_copy": (
        "the reference's own scheduled job: range-copy, changed-key upsert "
        "and dim reload with auditing, over consecutive windows into one "
        "target, so fixed per-run costs and history growth show; its "
        "morning report adds read-only registry queries (relational, dedup, "
        "similarity, text), the only reads of the functions layer"
    ),
    "dml_stream": (
        "MERGE, UPDATE and DELETE through the SQL front end beside point "
        "and aggregate reads of the same table, so write-path changes that "
        "leave more work for readers show; traced runs add a CDF replica "
        "caught up from the change feed"
    ),
}

_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
_PART_ADJ = ("small", "large", "red", "blue", "green", "steel", "brass", "tin")
_PART_NOUN = ("ring", "bolt", "nut", "gear", "plate", "pipe", "valve", "cog")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_LANGS = ("en", "zh", "es", "fr", "de")
_WORDS = (
    "a the big small fast slow data table row column key value order part "
    "line customer query scan filter join group sort hash merge window "
    "stream batch spark vector agg"
).split()


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose): adding a new draw in one
    place never shifts the values drawn anywhere else."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _ts(days: np.ndarray, base: date):
    epoch = (base - date(1970, 1, 1)).days
    us = (days.astype(np.int64) + epoch) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def base_tables(seed: int = FIXTURE_SEED) -> dict[str, pa.Table]:
    """The seven TPC-H-shaped sf0.1 tables, as Arrow tables."""
    r = lambda s: _rng(seed, s)  # noqa: E731
    n_o = SF01_ROWS["orders"]

    rng = r("orders")
    o_days = rng.integers(0, ORDER_DATE_DAYS + 1, n_o)
    orders = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, SF01_ROWS["customer"], n_o),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_o)),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_o), 2),
        "o_orderdate": _ts(o_days, ORDER_DATE_FROM),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_o)),
    })

    rng = r("lineitem")
    lines = rng.integers(1, 8, n_o)
    okey = np.repeat(np.arange(n_o, dtype=np.int64), lines)
    n_l = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lineno = (np.arange(n_l) - starts + 1).astype(np.int32)
    ship = np.repeat(o_days, lines) + rng.integers(1, 122, n_l)
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, SF01_ROWS["part"], n_l),
        "l_suppkey": rng.integers(0, SF01_ROWS["supplier"], n_l),
        "l_linenumber": lineno,
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_l)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_l)),
        "l_shipdate": _ts(ship, ORDER_DATE_FROM),
    })

    rng = r("customer")
    n_c = SF01_ROWS["customer"]
    customer = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_c)),
    })

    rng = r("part")
    n_p = SF01_ROWS["part"]
    part = pa.table({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in rng.integers(0, 8, (n_p, 2))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
        "p_type": pa.array(rng.choice(_PART_TYPES, n_p)),
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 999.9, n_p), 1),
    })

    rng = r("supplier")
    n_s = SF01_ROWS["supplier"]
    supplier = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
    })

    nation = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    region = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": list(_REGIONS),
    })

    return {
        "orders": orders, "lineitem": lineitem, "customer": customer,
        "part": part, "supplier": supplier, "nation": nation,
        "region": region,
    }


def corpus_tables(seed: int = FIXTURE_SEED) -> dict[str, pa.Table]:
    """The sf0.1 ``documents`` and ``embeddings`` fixtures' shapes (the
    inputs of the dedup, text and similarity registry entries)."""
    rng = _rng(seed, "documents")
    n_d = SF01_ROWS["documents"]
    words = np.array(_WORDS)
    text = [" ".join(words[rng.integers(0, len(words), k)])
            for k in rng.integers(8, 100, n_d)]
    documents = pa.table({
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": text,
        "lang": pa.array(rng.choice(_LANGS, n_d)),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_d)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })

    rng = _rng(seed, "embeddings")
    n_e = SF01_ROWS["embeddings"]
    vecs = rng.standard_normal((n_e, EMBEDDING_DIM)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(n_e, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMBEDDING_DIM).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_e).astype(np.int32),
    })
    return {"documents": documents, "embeddings": embeddings}


def write_tables(tables: dict[str, pa.Table], out_dir: Path) -> Path:
    """Write each table as ``<out_dir>/<name>.parquet`` (fixture layout)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, out_dir / f"{name}.parquet")
    return out_dir


def with_update_datetime(orders: pa.Table) -> pa.Table:
    """``orders`` as a copy+update source: ``update_datetime`` is
    ``o_orderdate`` plus ``o_orderkey % 45`` days, the derivation the
    ``upsert_roundtrip`` registry entry uses, so every window has changed
    keys whose insert day lies outside it."""
    od = orders.column("o_orderdate").cast(pa.int64()).to_numpy()
    keys = orders.column("o_orderkey").to_numpy()
    upd = od + (keys % 45) * 86_400_000_000
    return orders.append_column(
        "update_datetime", pa.array(upd, type=pa.timestamp("us"))
    )


# ---------------------------------------------------------------- plans


def nightly_plan(
    seed: int, queries: list[str] = (), n_runs: int = 64, window_days: int = 7
) -> dict:
    """Consecutive ``window_days`` windows from a seeded start date (the
    start leaves room for ``n_runs`` windows inside the order-date span),
    and the order in which the morning report runs ``queries``."""
    rng = _rng(seed, "nightly")
    last_start = ORDER_DATE_DAYS - n_runs * window_days
    start = ORDER_DATE_FROM + timedelta(days=int(rng.integers(0, last_start)))
    windows = []
    for i in range(n_runs):
        a = start + timedelta(days=i * window_days)
        windows.append((a.isoformat(), (a + timedelta(days=window_days - 1)).isoformat()))
    order = _rng(seed, "nightly.queries").permutation(len(queries))
    return {"windows": windows, "queries": [queries[i] for i in order]}


def dml_plan(seed: int, n_cycles: int = 16, n_orders: int = SF01_ROWS["orders"]) -> dict:
    """A seeded statement and read list over ``orders``.

    The list is made of cycles of equal shape: MERGE, UPDATE, DELETE, each
    followed by a read, then a fourth read. The MERGE touches about 1% of
    the keys: two thirds are updates of existing keys, one third inserts of
    fresh keys. UPDATE and DELETE each hit one
    contiguous key range. The reads are a point read through the catalog,
    an aggregate through ``ManagedTable.read``, an aggregate through the
    catalog and a point read through ``ManagedTable.read``. Every cycle
    costs about the same; the seed picks the keys and ranges."""
    rng = _rng(seed, "dml")
    merge_n = max(3, n_orders // 100)
    next_key = n_orders + 1_000_000  # inserted keys never collide
    reads = (("point_read", "catalog"), ("agg_read", "direct"),
             ("agg_read", "catalog"), ("point_read", "direct"))
    cycles = []
    for c in range(n_cycles):
        n_upd = merge_n * 2 // 3
        lo_u = int(rng.integers(0, n_orders - 200))
        lo_d = int(rng.integers(0, n_orders - 100))
        writes = [
            {"kind": "merge", "batch": c,
             "update_keys": np.sort(rng.choice(n_orders, n_upd, replace=False)).tolist(),
             "insert_lo": next_key, "insert_hi": next_key + merge_n - n_upd,
             "price_delta": round(float(rng.uniform(1, 100)), 2)},
            {"kind": "update", "lo": lo_u, "hi": lo_u + int(rng.integers(50, 200)),
             "status": str(rng.choice(["F", "O", "P"]))},
            {"kind": "delete", "lo": lo_d, "hi": lo_d + int(rng.integers(10, 100))},
        ]
        next_key += merge_n - n_upd
        ops = []
        for j, (kind, path) in enumerate(reads):
            if j < 3:
                ops.append(writes[j])
            op = {"kind": kind, "path": path}
            if kind == "point_read":
                op["key"] = int(rng.integers(0, n_orders))
            else:
                op["lo"] = int(rng.integers(0, n_orders - 5000))
                op["hi"] = op["lo"] + 5000
            ops.append(op)
        cycles.append(ops)
    return {"cycles": cycles}


def merge_sources(plan: dict, orders: pa.Table) -> pa.Table:
    """Source rows of every MERGE in a :func:`dml_plan`, tagged with the
    cycle (``batch``) they belong to. Updated keys take their base row with
    the price raised by the op's delta and status ``M``; inserted keys copy
    the base row at ``key - insert_lo`` under their new key."""
    parts = []
    for cycle in plan["cycles"]:
        for op in cycle:
            if op["kind"] != "merge":
                continue
            upd = np.array(op["update_keys"], dtype=np.int64)
            ins = np.arange(op["insert_lo"], op["insert_hi"], dtype=np.int64)
            u = orders.take(pa.array(upd))
            n = orders.take(pa.array(ins - op["insert_lo"]))
            price = np.round(u.column("o_totalprice").to_numpy() + op["price_delta"], 2)
            u = u.set_column(3, "o_totalprice", pa.array(price))
            u = u.set_column(2, "o_orderstatus", pa.array(["M"] * len(upd)))
            n = n.set_column(0, "o_orderkey", pa.array(ins))
            t = pa.concat_tables([u, n])
            parts.append(t.add_column(
                0, "batch", pa.array(np.full(t.num_rows, op["batch"], np.int32))
            ))
    return pa.concat_tables(parts)
