"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from ``--seed``:
a TPC-H-ish star (the schemas of the registry's fixture tables, at
sf0.01 row counts) written as parquet, and the chained daily snapshots
the sync workloads reconcile. The same seed gives the same bytes.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 1_500
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_SUPPLIER = 100
N_PART = 2_000
N_EVENTS = 10_000
N_DOCS = 500
N_VECS = 500
EMB_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
ADJ = ["blue", "hot", "large", "old", "red", "small", "cold", "new"]
NOUN = ["bolt", "gear", "plate", "ring", "rod", "widget", "nut", "pipe"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

ORDER_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]
CUSTOMER_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]

_EPOCH = np.datetime64("1995-01-01", "D")
_N_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n):
    return (_EPOCH + rng.integers(0, _N_ORDER_DAYS, n)).astype("datetime64[us]")


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def customers(rng, keys) -> dict:
    n = len(keys)
    return {
        "c_custkey": np.asarray(keys, dtype=np.int64),
        "c_name": np.array([f"Customer#{k:09d}" for k in keys], dtype=object),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    }


def orders(rng, keys, custkeys) -> dict:
    n = len(keys)
    return {
        "o_orderkey": np.asarray(keys, dtype=np.int64),
        "o_custkey": np.asarray(custkeys, dtype=np.int64)[
            rng.integers(0, len(custkeys), n)
        ],
        "o_orderstatus": _pick(rng, STATUSES, n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, n),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    }


def star_tables(seed: int) -> dict[str, pa.Table]:
    """The ten registry tables at sf0.01 row counts."""
    rng = np.random.default_rng([seed, 1])
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": np.array(REGIONS, dtype=object),
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["customer"] = customers(rng, np.arange(N_CUSTOMER))
    t["supplier"] = {
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": np.array(
            [f"Supplier#{k:09d}" for k in range(N_SUPPLIER)], dtype=object
        ),
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    }
    t["part"] = {
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": np.array(
            [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (N_PART, 2))],
            dtype=object,
        ),
        "p_brand": np.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)], dtype=object
        ),
        "p_type": _pick(rng, P_TYPES, N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2),
    }
    t["orders"] = orders(rng, np.arange(N_ORDERS), np.arange(N_CUSTOMER))
    n = N_LINEITEM
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, N_ORDERS, n).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, n).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, n),
    }
    n = N_EVENTS
    month_us = 30 * 86_400 * 1_000_000
    t["events"] = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.sort(rng.integers(0, month_us, n)).astype("timedelta64[us]")
        + np.datetime64("2024-01-01T00:00:00", "us"),
        "user_id": rng.integers(0, 150, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(40.0, n) + 0.01, 2),
        "props": np.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object
        ),
    }
    texts = [
        " ".join(_pick(rng, VOCAB, int(k)))
        for k in rng.integers(10, 100, N_DOCS)
    ]
    t["documents"] = {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": _pick(rng, LANGS, N_DOCS),
        "source": np.array(
            [f"src{k}" for k in rng.integers(0, 20, N_DOCS)], dtype=object
        ),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    }
    emb = rng.standard_normal((N_VECS, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out = {name: pa.table(cols) for name, cols in t.items()}
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_VECS).astype(np.int32)),
        }
    )
    return out


def write_star(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------- snapshots
class TableState:
    """The generator's truth for one keyed table: ``rows`` maps key →
    tuple in ``cols`` order, timestamps as UTC-naive ``datetime``."""

    def __init__(self, cols: list[str], rows: dict, next_key: int):
        self.cols, self.rows, self.next_key = cols, rows, next_key

    @classmethod
    def from_columns(cls, cols: list[str], columns: dict) -> "TableState":
        rows = {row[0]: row for row in zip(*[_py(columns[c]) for c in cols])}
        return cls(cols, rows, max(rows) + 1)

    def copy(self) -> "TableState":
        return TableState(self.cols, dict(self.rows), self.next_key)


def _py(values) -> list:
    if np.issubdtype(values.dtype, np.datetime64):
        return [dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(v))
                for v in values.astype("datetime64[us]").astype(np.int64)]
    return values.tolist()


class Change:
    """What one snapshot did to one table, as the generator knows it."""

    def __init__(self, inserted, updated, deleted):
        self.inserted, self.updated, self.deleted = (
            set(inserted), set(updated), set(deleted)
        )


def mutate_orders(rng, state: TableState, n_each: int, custkeys) -> Change:
    """Insert, update and delete ``n_each`` orders each, so the live
    count stays the same; updates change price, priority and date."""
    keys = np.fromiter(state.rows, dtype=np.int64)
    picked = rng.choice(keys, 2 * n_each, replace=False)
    dele, upd = picked[:n_each], picked[n_each:]
    for k in dele.tolist():
        del state.rows[k]
    fresh = orders(rng, np.arange(n_each), custkeys)
    dates = _py(fresh["o_orderdate"])
    for j, k in enumerate(upd.tolist()):
        old = state.rows[k]
        state.rows[k] = (
            old[0], old[1], old[2],
            fresh["o_totalprice"][j].item(), dates[j], fresh["o_orderpriority"][j],
        )
    new_keys = list(range(state.next_key, state.next_key + n_each))
    state.next_key += n_each
    fresh = orders(rng, new_keys, custkeys)
    cols = [_py(fresh[c]) for c in state.cols]
    for row in zip(*cols):
        state.rows[row[0]] = row
    return Change(new_keys, upd.tolist(), dele.tolist())


def mutate_customers_and_orders(
    rng, cust: TableState, ords: TableState, n_cust: int, n_ord_upd: int
) -> tuple[Change, Change]:
    """One churn day over the FK pair. ``n_cust`` customers leave (and
    their orders with them), ``n_cust`` join, ``n_cust`` change; as
    many orders are inserted as were deleted, all pointing at
    customers alive after the snapshot, and ``n_ord_upd`` surviving
    orders change. Live counts of both tables stay constant."""
    ckeys = np.fromiter(cust.rows, dtype=np.int64)
    picked = rng.choice(ckeys, 2 * n_cust, replace=False)
    c_del, c_upd = set(picked[:n_cust].tolist()), picked[n_cust:].tolist()
    for k in c_del:
        del cust.rows[k]
    fresh = customers(rng, np.arange(n_cust))
    for j, k in enumerate(c_upd):
        old = cust.rows[k]
        cust.rows[k] = (old[0], old[1], old[2],
                        fresh["c_acctbal"][j].item(), fresh["c_mktsegment"][j])
    c_new = list(range(cust.next_key, cust.next_key + n_cust))
    cust.next_key += n_cust
    fresh = customers(rng, c_new)
    for row in zip(*[_py(fresh[c]) for c in cust.cols]):
        cust.rows[row[0]] = row

    o_del = [k for k, r in ords.rows.items() if r[1] in c_del]
    for k in o_del:
        del ords.rows[k]
    okeys = np.fromiter(ords.rows, dtype=np.int64)
    o_upd = rng.choice(okeys, n_ord_upd, replace=False).tolist()
    fresh = orders(rng, np.arange(n_ord_upd), [0])
    for j, k in enumerate(o_upd):
        old = ords.rows[k]
        ords.rows[k] = (old[0], old[1], fresh["o_orderstatus"][j],
                        fresh["o_totalprice"][j].item(), old[4],
                        fresh["o_orderpriority"][j])
    o_new = list(range(ords.next_key, ords.next_key + len(o_del)))
    ords.next_key += len(o_del)
    fresh = orders(rng, o_new, np.fromiter(cust.rows, dtype=np.int64))
    for row in zip(*[_py(fresh[c]) for c in ords.cols]):
        ords.rows[row[0]] = row
    return Change(c_new, c_upd, c_del), Change(o_new, o_upd, o_del)


def rfc3339(ts: dt.datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def write_csv(state: TableState, path: str) -> None:
    """The snapshot file the program reads: header row, timestamps as
    RFC3339 UTC, prices with two decimals, rows in key order."""
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(state.cols)
        for k in sorted(state.rows):
            w.writerow(
                rfc3339(v) if isinstance(v, dt.datetime)
                else f"{v:.2f}" if isinstance(v, float) else v
                for v in state.rows[k]
            )
