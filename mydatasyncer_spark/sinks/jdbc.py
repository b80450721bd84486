"""JDBC backend: Spark-parallel staging + single-connection apply.

This is the scale path of SURVEY.md §4.3 (the reference's one hard
physical problem, ref: dbsync.go:915-1011): the diff legs are written
into staging tables by **Spark's parallel JDBC writer** (every
executor opens its own connection, rows go in ``batchsize``-batched
prepared inserts), and only the final *set-based* apply runs over one
driver connection — so no row ever funnels through the Python driver,
and the transaction window covers just the three apply statements.

The apply connection is a ``java.sql`` connection obtained through
the driver JVM (py4j) — the same JVM that already has the JDBC driver
jar on its classpath, so no separate Python DB driver is needed. On a
real cluster this works identically: the driver JVM holds one
connection for the apply while executors stage in parallel.

Tested end-to-end against embedded Derby (in the Spark JVM,
``jdbc:derby:memory:...``) — see ``tests/test_jdbc_backend.py``. For
the reference's production target (MySQL 8.0, compose.yml) pass
``dialect="mysql"`` and a ``jdbc:mysql://...`` URL with the connector
jar on ``spark.jars``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mydatasyncer_spark.sinks.dialects import Dialect, get_dialect


class _JvmConnection:
    """Minimal DB-API-shaped adapter over a ``java.sql.Connection``
    so :class:`~mydatasyncer_spark.sinks.applier.Transaction` can own
    the commit/rollback boundary unchanged."""

    def __init__(self, jconn):
        self._jconn = jconn
        jconn.setAutoCommit(False)

    def commit(self) -> None:
        self._jconn.commit()

    def rollback(self) -> None:
        self._jconn.rollback()

    def close(self) -> None:
        # autocommit is off, so even SELECTs leave a transaction open;
        # Derby refuses to close mid-transaction — discard it first
        self._jconn.rollback()
        self._jconn.close()

    def execute_update(self, sql: str) -> int:
        st = self._jconn.createStatement()
        try:
            return st.executeUpdate(sql)
        finally:
            st.close()

    def query(self, sql: str) -> list[tuple]:
        st = self._jconn.createStatement()
        try:
            rs = st.executeQuery(sql)
            n = rs.getMetaData().getColumnCount()
            out = []
            while rs.next():
                out.append(tuple(rs.getObject(i + 1) for i in range(n)))
            return out
        finally:
            st.close()

    def query_columns(self, sql: str) -> list[str]:
        st = self._jconn.createStatement()
        try:
            md = st.executeQuery(sql).getMetaData()
            return [
                md.getColumnName(i + 1)
                for i in range(md.getColumnCount())
            ]
        finally:
            st.close()


class JdbcBackend:
    """Stages diff legs with ``df.write.jdbc`` and applies set-based
    SQL over one driver connection (S5/S7-S9 at scale).

    Parameters
    ----------
    spark : the session whose JVM holds the JDBC driver jar.
    url : JDBC URL (``jdbc:mysql://...``, ``jdbc:derby:memory:...``).
    dialect : name or :class:`Dialect` controlling apply-SQL syntax
        and identifier quoting (must match what Spark's writer quotes
        with — backticks for MySQL, double quotes otherwise).
    properties : JDBC connection properties (user, password, driver).
    staging_partitions : cap on concurrent staging connections
        (``numPartitions`` on the writer). Size this to what the
        database accepts, not to the cluster — 8-32 is typical.
    batchsize : rows per batched prepared INSERT on each connection.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        dialect: str | Dialect = "ansi",
        properties: dict[str, str] | None = None,
        staging_partitions: int = 8,
        batchsize: int = 10_000,
    ):
        self.spark = spark
        self.url = url
        self.dialect = get_dialect(dialect)
        self.properties = dict(properties or {})
        self.staging_partitions = staging_partitions
        self.batchsize = batchsize
        self._conn: _JvmConnection | None = None

    # -- driver connection (lazy: staging-only flows never open it) --
    @property
    def conn(self) -> _JvmConnection:
        if self._conn is None:
            jvm = self.spark._jvm
            props = jvm.java.util.Properties()
            for k, v in self.properties.items():
                props.setProperty(k, v)
            self._conn = _JvmConnection(
                jvm.java.sql.DriverManager.getConnection(self.url, props)
            )
        return self._conn

    def close(self) -> None:
        if self._conn is not None:
            self._conn.close()
            self._conn = None

    # -- metadata ----------------------------------------------------
    def table_columns(self, table: str) -> list[str]:
        """Column names in ordinal order (ref: getTableColumns,
        dbsync.go:253-279) via result-set metadata on a 0-row probe."""
        q = self.dialect.quote(table)
        return self.conn.query_columns(f"SELECT * FROM {q} WHERE 1=0")

    # -- reads -------------------------------------------------------
    def read_snapshot(
        self,
        spark: SparkSession,
        table: str,
        columns: list[str],
        partition_column: str | None = None,
        num_partitions: int | None = None,
        lower_bound=None,
        upper_bound=None,
    ) -> DataFrame:
        """Distributed DB snapshot (S5, ref: getCurrentDBData,
        dbsync.go:597-679 — but a partitioned ``spark.read.jdbc``
        scan, not a driver hash map). With ``partition_column`` the
        scan fans out over ``num_partitions`` range predicates."""
        reader = (
            spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", self.dialect.quote(table))
        )
        for k, v in self.properties.items():
            reader = reader.option(k, v)
        if partition_column is not None:
            reader = (
                reader.option("partitionColumn", partition_column)
                .option("numPartitions", num_partitions or self.staging_partitions)
                .option("lowerBound", lower_bound)
                .option("upperBound", upper_bound)
            )
        return reader.load().select(*columns)

    # -- staging (SURVEY.md §4.3 step 2) -----------------------------
    def stage_leg(
        self,
        df: DataFrame,
        staging: str,
        columns: list[str],
        source_table: str | None = None,
    ) -> None:
        """Parallel, batched staging write. ``mode="overwrite"``
        drops-and-recreates so stale staging tables can't pollute the
        apply; the writer quotes identifiers, so the staging name is
        pre-quoted to keep its exact (lowercase) spelling. The leg is
        coalesced to at most ``staging_partitions`` writers (coalesce
        never widens, so no partition count is probed first)."""
        out = df.select(*columns).coalesce(self.staging_partitions)
        writer = (
            out.write.mode("overwrite")
            .option("batchsize", str(self.batchsize))
        )
        for k, v in self.properties.items():
            writer = writer.option(k, v)
        writer.jdbc(self.url, self.dialect.quote(staging))

    def drop_staging(self, staging: str) -> None:
        try:
            self.execute_update(self.dialect.drop_staging_sql(staging))
        except Exception:
            pass  # already gone (no portable DROP TABLE IF EXISTS)

    # -- apply -------------------------------------------------------
    def execute_update(self, sql: str) -> int:
        return self.conn.execute_update(sql)

    def truncate(self, table: str) -> None:
        """Full clear, step 1 of overwrite (ref: dbsync.go:496-500).
        ``DELETE`` rather than ``TRUNCATE`` so it stays inside the
        transaction (TRUNCATE implicit-commits on MySQL)."""
        self.execute_update(f"DELETE FROM {self.dialect.quote(table)}")
