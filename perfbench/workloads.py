"""The closed-loop, single-client workloads.

Each workload owns its inputs and its correctness check. ``prepare``
does the untimed work before an op (write the next snapshot, restore
the database), ``op`` is exactly what the user waits for, and
``check`` compares what the program produced with the generator's
truth and returns a list of problems (empty when the op was right)
plus the op's counts.

``sync_mix`` runs the two sync targets of one day back to back in
each op: the incremental row path into sqlite and the churn staged
path into Derby. They are one workload, not two, because a run of
this program costs half a minute of JVM start and cold warm-up before
the first timed op, and the benchmark's whole schedule of runs has a
fixed time budget.
"""

from __future__ import annotations

import csv
import datetime as dt
import math
import os
import sqlite3
import time
from contextlib import nullcontext
from zoneinfo import ZoneInfo

import numpy as np

import datagen as G

# scd2_orders_history and incremental_rollup are left out: together
# they are 40% of a pass and of the cold oracle pass, and with them a
# run cannot afford the warm-up passes that make its timed passes
# steady.
QUERY_LIST = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "sessionization",
    "ann_cosine_topk",
    "tfidf_top_terms",
    "dedup_exact",
]


# The sync targets hold a tenth of the sf0.01 row counts: a sync op is
# bound by its ~70 Spark jobs, not by its rows, and at full size the
# run's cold warm-up op plus two timed ops left no margin in the
# benchmark's time budget on a slow host.
SYNC_ORDERS = G.N_ORDERS // 10
SYNC_CUSTOMERS = G.N_CUSTOMER // 10


def _instant(value) -> dt.datetime:
    """A DB-side timestamp (string in either ISO spelling, or a
    datetime) as a naive UTC datetime, so instants compare equal
    whatever their text form."""
    if isinstance(value, str):
        value = dt.datetime.fromisoformat(value.replace("Z", "+00:00"))
    if hasattr(value, "to_pydatetime"):
        value = value.to_pydatetime()
    if value.tzinfo is not None:
        value = value.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return value


def _same(a, b) -> bool:
    if isinstance(b, dt.datetime):
        return _instant(a) == b
    if isinstance(b, float):
        return a is not None and math.isclose(float(a), b, rel_tol=0, abs_tol=5e-7)
    if isinstance(b, int):
        return a is not None and int(a) == b
    return a == b


def diff_rows(got: dict, truth: G.TableState, table: str) -> list[str]:
    """Row-by-row comparison of a table read back from the database
    against the generator's truth; at most three examples listed."""
    problems = []
    if len(got) != len(truth.rows):
        problems.append(f"{table}: {len(got)} rows, expected {len(truth.rows)}")
    bad = [
        k
        for k, row in truth.rows.items()
        if k not in got or not all(map(_same, got[k], row))
    ]
    bad += [k for k in got if k not in truth.rows]
    if bad:
        problems.append(
            f"{table}: {len(bad)} rows differ, e.g. "
            + "; ".join(f"{k}: {got.get(k)} vs {truth.rows.get(k)}" for k in bad[:3])
        )
    return problems


def check_counts(table: str, stats, change: G.Change) -> list[str]:
    problems = []
    for leg in ("inserted", "deleted"):
        want, got = len(getattr(change, leg)), getattr(stats, leg)
        if got != want:
            problems.append(f"{table}: reported {leg}={got}, truth {want}")
    if stats.updated < len(change.updated):
        problems.append(
            f"{table}: reported updated={stats.updated} < truth {len(change.updated)}"
        )
    return problems


class SyncIncremental:
    """One 1.5k-row ``orders`` table in an in-memory sqlite database;
    each op reconciles a daily CSV snapshot that inserts, updates and
    deletes 5 rows each (1% of the table) with ``sync()`` over
    ``DbApiBackend`` on the default row-batched path."""

    n_each = 5
    variants = 6

    def setup(self, spark, seed: int, work: str) -> None:
        from mydatasyncer_spark.config import SyncConfig, TableSpec
        from mydatasyncer_spark.sinks.applier import DbApiBackend

        self.spark = spark
        self.rng = np.random.default_rng([seed, 2])
        base = G.orders(self.rng, np.arange(SYNC_ORDERS), np.arange(SYNC_CUSTOMERS))
        self.truth = G.TableState.from_columns(G.ORDER_COLS, base)
        self.conn = sqlite3.connect(":memory:")
        self.conn.execute(
            "CREATE TABLE orders (o_orderkey INTEGER PRIMARY KEY, "
            "o_custkey INTEGER, o_orderstatus TEXT, o_totalprice REAL, "
            "o_orderdate TEXT, o_orderpriority TEXT)"
        )
        # loaded from the file's own text form, as an earlier load
        # from the same files would have left it
        self.conn.executemany(
            "INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?)",
            [r[:4] + (G.rfc3339(r[4]), r[5]) for r in self.truth.rows.values()],
        )
        self.conn.commit()
        self.backend = DbApiBackend(self.conn)
        self.path = os.path.join(work, "incremental_orders.csv")
        self.config = SyncConfig(
            tables=[
                TableSpec(
                    name="orders",
                    file_path=self.path,
                    primary_key="o_orderkey",
                    delete_not_in_file=True,
                )
            ]
        )
        self.saved = None
        self.i = 0

    def warmed(self) -> None:
        """After the chained warm-up days: every timed op starts from
        this database state and reconciles one of ``variants``
        next-day snapshots, so each op does the same amount of work
        however many ops a run makes."""
        self.saved = sqlite3.connect(":memory:")
        self.conn.backup(self.saved)
        base = self.truth
        self.days = []
        for _ in range(self.variants):
            state = base.copy()
            change = G.mutate_orders(self.rng, state, self.n_each, np.arange(SYNC_CUSTOMERS))
            self.days.append((state, change))

    def prepare(self) -> None:
        if self.saved is None:
            change = G.mutate_orders(
                self.rng, self.truth, self.n_each, np.arange(SYNC_CUSTOMERS)
            )
        else:
            self.saved.backup(self.conn)
            self.truth, change = self.days[self.i % self.variants]
            self.i += 1
        self.change = change
        G.write_csv(self.truth, self.path)

    def op(self):
        from mydatasyncer_spark.syncer import sync

        return sync(self.spark, self.backend, self.config)

    def check(self, outcome) -> tuple[list[str], dict]:
        stats = outcome.stats["orders"]
        got = {
            r[0]: r
            for r in self.conn.execute(f"SELECT {', '.join(G.ORDER_COLS)} FROM orders")
        }
        problems = check_counts("orders", stats, self.change)
        problems += diff_rows(got, self.truth, "orders")
        true_rows = sum(len(s) for s in vars(self.change).values())
        return problems, {
            "inserted": stats.inserted,
            "updated": stats.updated,
            "deleted": stats.deleted,
            "true_changed_rows": true_rows,
            "spurious_update_rows": stats.updated - len(self.change.updated),
            "snapshot_rows": len(got),
        }


class SyncChurn:
    """FK-linked ``customer`` → ``orders`` (150 + 1.5k rows) in
    in-memory Derby; each op reconciles a day with about 10% churn
    through ``Syncer(staging=True)`` over ``JdbcBackend``. Days are
    chained: every op starts from the state the previous one left."""

    n_cust = 5
    n_ord_upd = 50

    def setup(self, spark, seed: int, work: str) -> None:
        from mydatasyncer_spark.config import SyncConfig, TableSpec
        from mydatasyncer_spark.sinks.jdbc import JdbcBackend

        self.spark = spark
        self.rng = np.random.default_rng([seed, 3])
        self.cust = G.TableState.from_columns(
            G.CUSTOMER_COLS, G.customers(self.rng, np.arange(SYNC_CUSTOMERS))
        )
        self.ords = G.TableState.from_columns(
            G.ORDER_COLS,
            G.orders(self.rng, np.arange(SYNC_ORDERS), np.arange(SYNC_CUSTOMERS)),
        )
        self.url = f"jdbc:derby:memory:perfbench_{seed};create=true"
        self.backend = JdbcBackend(spark, self.url, dialect="derby")
        c = self.backend.conn
        c.execute_update(
            'CREATE TABLE "customer" ("c_custkey" BIGINT PRIMARY KEY, '
            '"c_name" VARCHAR(32), "c_nationkey" INT, "c_acctbal" DOUBLE, '
            '"c_mktsegment" VARCHAR(16))'
        )
        c.execute_update(
            'CREATE TABLE "orders" ("o_orderkey" BIGINT PRIMARY KEY, '
            '"o_custkey" BIGINT REFERENCES "customer" ("c_custkey"), '
            '"o_orderstatus" VARCHAR(1), "o_totalprice" DOUBLE, '
            '"o_orderdate" TIMESTAMP, "o_orderpriority" VARCHAR(16))'
        )
        c.commit()
        # bulk-load with Derby's own import (no Spark job, so the
        # program's cold start stays in the warm-up op); TIMESTAMP text
        # is wall time in the JVM's zone, which is how Spark's JDBC
        # writer stores an instant too
        zone = ZoneInfo(spark._jvm.java.util.TimeZone.getDefault().getID())
        for name, state in (("customer", self.cust), ("orders", self.ords)):
            path = os.path.join(work, f"load_{name}.csv")
            with open(path, "w", newline="") as fh:
                csv.writer(fh).writerows(
                    tuple(
                        v.replace(tzinfo=dt.timezone.utc).astimezone(zone)
                        .strftime("%Y-%m-%d %H:%M:%S")
                        if isinstance(v, dt.datetime) else v
                        for v in r
                    )
                    for r in state.rows.values()
                )
            c.execute_update(
                "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE"
                f"(NULL, '{name}', '{path}', ',', '\"', 'UTF-8', 0)"
            )
        c.commit()
        self.paths = {
            "customer": os.path.join(work, "churn_customer.csv"),
            "orders": os.path.join(work, "churn_orders.csv"),
        }
        self.config = SyncConfig(
            tables=[
                TableSpec(
                    name="customer",
                    file_path=self.paths["customer"],
                    primary_key="c_custkey",
                    delete_not_in_file=True,
                ),
                TableSpec(
                    name="orders",
                    file_path=self.paths["orders"],
                    primary_key="o_orderkey",
                    delete_not_in_file=True,
                    dependencies=["customer"],
                ),
            ]
        )

    def warmed(self) -> None:
        pass

    def prepare(self) -> None:
        self.changes = dict(
            zip(
                ("customer", "orders"),
                G.mutate_customers_and_orders(
                    self.rng, self.cust, self.ords, self.n_cust, self.n_ord_upd
                ),
            )
        )
        G.write_csv(self.cust, self.paths["customer"])
        G.write_csv(self.ords, self.paths["orders"])

    def op(self):
        from mydatasyncer_spark.syncer import Syncer

        return Syncer(self.spark, self.backend, self.config, staging=True).run()

    def _read(self, table: str, cols: list[str]) -> dict:
        pdf = (
            self.spark.read.jdbc(self.url, f'"{table}"').select(*cols).toPandas()
        )
        return {int(r[0]): r for r in pdf.itertuples(index=False, name=None)}

    def check(self, outcome) -> tuple[list[str], dict]:
        problems, info = [], {"true_changed_rows": 0, "spurious_update_rows": 0}
        for table, state in (("customer", self.cust), ("orders", self.ords)):
            stats, change = outcome.stats[table], self.changes[table]
            problems += check_counts(table, stats, change)
            problems += diff_rows(self._read(table, state.cols), state, table)
            info["true_changed_rows"] += sum(len(s) for s in vars(change).values())
            info["spurious_update_rows"] += stats.updated - len(change.updated)
            for leg in ("inserted", "updated", "deleted"):
                info[leg] = info.get(leg, 0) + getattr(stats, leg)
        info["snapshot_rows"] = len(self.cust.rows) + len(self.ords.rows)
        return problems, info


class SyncMix:
    """Each op is one day's reconciliation of both targets, one after
    the other: ``SyncIncremental`` then ``SyncChurn``. Timed as one
    op; each part's wall time is kept in the op's record."""

    name = "sync_mix"
    warmups = 1

    def setup(self, spark, seed: int, work: str) -> None:
        self.parts = {"incremental": SyncIncremental(), "churn": SyncChurn()}
        for p in self.parts.values():
            p.setup(spark, seed, work)

    def warmed(self) -> None:
        for p in self.parts.values():
            p.warmed()

    def prepare(self) -> None:
        for p in self.parts.values():
            p.prepare()

    def op(self):
        out = {}
        for name, p in self.parts.items():
            t0 = time.perf_counter()
            out[name] = (p.op(), time.perf_counter() - t0)
        return out

    def check(self, result) -> tuple[list[str], dict]:
        problems, info = [], {}
        for name, p in self.parts.items():
            outcome, wall = result[name]
            got, part = p.check(outcome)
            problems += [f"{name}: {x}" for x in got]
            info[f"{name}_s"] = wall
            for key, value in part.items():
                info[key] = info.get(key, 0) + value
                info[f"{name}.{key}"] = value
        return problems, info


class QueryMix:
    """One op is one pass over ``QUERY_LIST`` at sf0.01, each query
    fully materialized through the ``noop`` sink. Before timing, every
    query is compared once with its DuckDB twin; each timed pass must
    then give the same row counts."""

    name = "query_mix"
    # after the oracle pass (cold), two untimed noop passes: the first
    # noop pass runs 40-60% slower than the ones after it, and the
    # second still 5-10%
    warmups = 2
    tracer = None

    def setup(self, spark, seed: int, work: str) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.data = os.path.join(work, "sf")
        G.write_star(seed, self.data)
        registry = entry.queries()
        self.fns = {n: registry[n] for n in QUERY_LIST}
        self.rows: dict[str, int] = {}
        self.oracle_s: dict[str, float] = {}

    def warmed(self) -> None:
        pass

    def prepare(self) -> None:
        pass

    def oracle_pass(self) -> list[str]:
        """Untimed warm-up pass: every query's result against its
        DuckDB twin from ``oracle_sql()``, compared as
        ``tests/test_oracle_parity.py`` does (order-insensitive,
        exact values)."""
        import duckdb
        import pandas as pd

        import __spark_entry__ as entry
        from mydatasyncer_spark.contract import TABLES

        sqls = entry.oracle_sql()
        con = duckdb.connect()
        problems = []
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data}/{t}.parquet')"
                )
            for name, fn in self.fns.items():
                t0 = time.perf_counter()
                try:
                    got = _normalize(fn(self.spark, self.data).toPandas())
                except Exception as e:
                    problems.append(f"{name}: raised {e!r}"[:300])
                    continue
                self.oracle_s[name] = time.perf_counter() - t0
                want = _normalize(con.execute(sqls[name]).fetchdf())
                self.rows[name] = len(got)
                if list(got.columns) != list(want.columns):
                    problems.append(f"{name}: columns {list(got.columns)} vs {list(want.columns)}")
                    continue
                try:
                    pd.testing.assert_frame_equal(
                        got, want, check_dtype=False, check_exact=True
                    )
                except AssertionError as e:
                    problems.append(f"{name}: differs from DuckDB: {str(e)[:200]}")
        finally:
            con.close()
        return problems

    def op(self):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        span = self.tracer.span if self.tracer else lambda _: nullcontext()
        counts, walls = {}, {}
        for name, fn in self.fns.items():
            t0 = time.perf_counter()
            with span(f"query.{name}.build"):
                df = fn(self.spark, self.data)
            obs = Observation(name)
            with span(f"query.{name}.exec"):
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                    "noop"
                ).mode("overwrite").save()
            walls[name] = time.perf_counter() - t0
            counts[name] = obs.get["n"]
        return counts, walls

    def check(self, result) -> tuple[list[str], dict]:
        counts, walls = result
        problems = [
            f"{n}: {counts.get(n)} rows, oracle pass gave {want}"
            for n, want in self.rows.items()
            if counts.get(n) != want
        ]
        return problems, {"rows": counts, "query_s": walls}


def _normalize(df):
    """Column-sorted, row-sorted frame with unified datetime units and
    decimals as floats (the rules of the repository's oracle-parity
    test, restated here so the benchmark needs no test module)."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[col]):
            df[col] = (
                pd.to_datetime(df[col]).dt.tz_localize(None).astype("datetime64[ns]")
            )
        if df[col].dtype == object:
            sample = df[col].dropna()
            if len(sample) and all(
                type(v).__name__ == "Decimal" for v in sample.head(5)
            ):
                df[col] = df[col].astype(float)
    return df.sort_values(by=list(df.columns), ignore_index=True)


WORKLOADS = {w.name: w for w in (SyncMix, QueryMix)}
