"""Pure-Python units: column resolution, dependency DAG, config
validation (mirrors the reference's config_test.go / dbsync_test.go
column suites)."""

from __future__ import annotations

import pytest

from mydatasyncer_spark.config import SyncConfig, TableSpec
from mydatasyncer_spark.dag import DependencyGraph
from mydatasyncer_spark.errors import (
    ConfigError,
    CycleError,
    DependencyError,
    PrimaryKeyMissingError,
    SchemaError,
)
from mydatasyncer_spark.operators.columns import (
    determine_sync_columns,
    filter_columns_by_config,
    find_common_columns,
)


class TestColumns:
    def test_intersection_sorted_file_order(self):
        # ref: dbsync.go:282-292 + sorted headers dbsync.go:436
        got = find_common_columns(["b", "a", "c"], ["a", "b", "x"])
        assert got == ["a", "b"]

    def test_dedup(self):
        assert find_common_columns(["a", "a", "b"], ["a", "b"]) == ["a", "b"]

    def test_config_filter_preserves_order(self):
        assert filter_columns_by_config(["a", "b", "c"], ["c", "a"]) == ["a", "c"]

    def test_empty_config_keeps_all(self):
        assert filter_columns_by_config(["a", "b"], []) == ["a", "b"]

    def test_full_pipeline(self):
        got = determine_sync_columns(["id", "name", "extra"], ["id", "name", "db_only"], [], "id")
        assert got == ["id", "name"]

    def test_no_common_columns_raises(self):
        with pytest.raises(SchemaError):
            determine_sync_columns(["a"], ["b"], [], "a")

    def test_pk_must_survive(self):
        with pytest.raises(PrimaryKeyMissingError):
            determine_sync_columns(["id", "name"], ["id", "name"], ["name"], "id")

    def test_empty_file_falls_back_to_db_columns(self):
        # ref: dbsync.go:447-459
        got = determine_sync_columns([], ["id", "name"], [], "id")
        assert got == ["id", "name"]


class TestDag:
    def test_topo_parent_first(self):
        g = DependencyGraph(
            {
                "order_items": ["orders", "products"],
                "orders": ["categories"],
                "products": ["categories"],
                "categories": [],
            }
        )
        ins, dels = g.sync_order()
        assert ins.index("categories") < ins.index("orders") < ins.index("order_items")
        assert ins.index("products") < ins.index("order_items")
        assert dels == list(reversed(ins))

    def test_deterministic_tie_break(self):
        g = DependencyGraph({"b": [], "a": [], "c": []})
        assert g.topological_order() == ["a", "b", "c"]

    def test_cycle_has_concrete_path(self):
        with pytest.raises(CycleError) as err:
            DependencyGraph({"a": ["b"], "b": ["a"]}).topological_order()
        cycle = err.value.cycle
        assert cycle[0] == cycle[-1] and set(cycle) == {"a", "b"}

    def test_unknown_dependency(self):
        with pytest.raises(DependencyError) as err:
            DependencyGraph({"a": ["ghost"]})
        assert "ghost" in str(err.value) and "a" in str(err.value)


class TestConfig:
    def test_valid_multi_table(self):
        cfg = SyncConfig(
            tables=[
                TableSpec(name="p", file_path="p.csv"),
                TableSpec(name="c", file_path="c.csv", dependencies=["p"]),
            ]
        )
        cfg.validate()
        assert cfg.is_multi_table

    def test_duplicate_table_names(self):
        cfg = SyncConfig(
            tables=[TableSpec(name="t", file_path="a"), TableSpec(name="t", file_path="b")]
        )
        with pytest.raises(ConfigError):
            cfg.validate()

    def test_invalid_mode(self):
        with pytest.raises(ConfigError):
            TableSpec(name="t", file_path="f", sync_mode="upsert").validate()

    def test_diff_requires_pk(self):
        with pytest.raises(ConfigError):
            TableSpec(name="t", file_path="f", sync_mode="diff", primary_key="").validate()

    def test_missing_dependency(self):
        cfg = SyncConfig(tables=[TableSpec(name="t", file_path="f", dependencies=["x"])])
        with pytest.raises(DependencyError):
            cfg.validate()

    def test_from_dict_single_table_defaults(self):
        cfg = SyncConfig.from_dict(
            {"sync": {"tableName": "t", "filePath": "f.csv"}}
        )
        assert cfg.tables[0].sync_mode == "overwrite"
        assert cfg.tables[0].prune_buckets == 0
        assert not cfg.is_multi_table

    def test_prune_buckets_parse_and_inherit(self):
        cfg = SyncConfig.from_dict(
            {
                "sync": {
                    "syncMode": "diff",
                    "primaryKey": "id",
                    "pruneBuckets": 128,
                    "tables": [
                        {"name": "a", "filePath": "a.csv"},
                        {"name": "b", "filePath": "b.csv", "pruneBuckets": 16},
                    ],
                }
            }
        )
        assert cfg.tables[0].prune_buckets == 128  # inherited default
        assert cfg.tables[1].prune_buckets == 16  # per-table override

    def test_prune_buckets_negative_rejected(self):
        from mydatasyncer_spark.config import ConfigError

        cfg = SyncConfig(
            tables=[TableSpec(name="t", file_path="f", prune_buckets=-1)]
        )
        with pytest.raises(ConfigError, match="pruneBuckets"):
            cfg.validate()


class TestYamlConfig:
    def test_single_table_yaml(self, tmp_path):
        from mydatasyncer_spark.config import SyncConfig

        p = tmp_path / "cfg.yml"
        p.write_text(
            """
db:
  url: jdbc:sqlite:/tmp/x.db
sync:
  filePath: ./data.csv
  tableName: users
  primaryKey: id
  syncMode: diff
  deleteNotInFile: true
  timestampColumns: [updated_at]
  immutableColumns: [created_at]
dryRun: true
"""
        )
        cfg = SyncConfig.from_yaml(str(p))
        assert not cfg.is_multi_table
        assert cfg.dry_run
        t = cfg.tables[0]
        assert (t.name, t.primary_key, t.sync_mode) == ("users", "id", "diff")
        assert t.delete_not_in_file
        assert t.timestamp_columns == ["updated_at"]

    def test_multi_table_yaml_with_dependencies(self, tmp_path):
        from mydatasyncer_spark.config import SyncConfig

        p = tmp_path / "cfg.yml"
        p.write_text(
            """
sync:
  syncMode: diff
  primaryKey: id
  tables:
    - name: parents
      filePath: ./parents.csv
    - name: children
      filePath: ./children.csv
      dependencies: [parents]
"""
        )
        cfg = SyncConfig.from_yaml(str(p))
        assert cfg.is_multi_table
        assert cfg.tables[1].dependencies == ["parents"]

    def test_missing_file_raises(self, tmp_path):
        import pytest as _pytest

        from mydatasyncer_spark.config import ConfigError, SyncConfig

        with _pytest.raises(ConfigError, match="not found"):
            SyncConfig.from_yaml(str(tmp_path / "absent.yml"))

    def test_non_strict_missing_file_falls_back_to_defaults(self, tmp_path):
        """strict=False mirrors the reference exactly (ref:
        config.go:79-113): missing file -> warn + NewDefaultConfig
        (products table, ./testdata.csv, diff on id, delete on)."""
        import warnings

        from mydatasyncer_spark.config import SyncConfig

        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            cfg = SyncConfig.from_yaml(
                str(tmp_path / "absent.yml"), strict=False
            )
        assert any("default configuration" in str(w.message).lower()
                   for w in caught)
        [t] = cfg.tables
        assert t.name == "products"
        assert t.file_path == "./testdata.csv"
        assert t.primary_key == "id"
        assert t.columns == ["id", "name", "price"]
        assert t.sync_mode == "diff"
        assert t.delete_not_in_file is True

    def test_non_strict_unparsable_file_falls_back(self, tmp_path):
        import warnings

        from mydatasyncer_spark.config import ConfigError, SyncConfig

        p = tmp_path / "bad.yml"
        p.write_text("sync: [unclosed")
        import pytest as _pytest

        with _pytest.raises(ConfigError, match="parse"):
            SyncConfig.from_yaml(str(p))  # strict default stays loud
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            cfg = SyncConfig.from_yaml(str(p), strict=False)
        assert any("parse" in str(w.message).lower() for w in caught)
        assert cfg.tables[0].name == "products"


class TestCli:
    """CLI surface parity: -config + -dry-run (ref: main.go:40-51),
    run lifecycle incl. nonzero exit on failure (ref: main.go:59-134)."""

    def _write(self, tmp_path, db_path):
        import sqlite3

        conn = sqlite3.connect(db_path)
        conn.execute("CREATE TABLE items (id INTEGER PRIMARY KEY, name TEXT)")
        conn.executemany(
            "INSERT INTO items VALUES (?,?)", [(1, "a"), (2, "b"), (3, "c")]
        )
        conn.commit()
        conn.close()
        csv = tmp_path / "items.csv"
        csv.write_text("id,name\n1,a\n2,B\n4,d\n")
        cfg = tmp_path / "sync.yml"
        cfg.write_text(
            "sync:\n"
            "  tableName: items\n"
            f"  filePath: {csv}\n"
            "  primaryKey: id\n"
            "  syncMode: diff\n"
            "  deleteNotInFile: true\n"
        )
        return str(cfg)

    def test_cli_sync_and_dry_run(self, spark, tmp_path, capsys):
        import sqlite3

        from mydatasyncer_spark.__main__ import main

        db_path = str(tmp_path / "cli.db")
        cfg = self._write(tmp_path, db_path)

        rc = main(["-config", cfg, "--dry-run", "--sqlite", db_path], spark=spark)
        assert rc == 0
        out = capsys.readouterr().out
        assert "DRY RUN" in out and "items" in out
        conn = sqlite3.connect(db_path)
        assert conn.execute("SELECT count(*) FROM items").fetchone()[0] == 3

        rc = main(["-config", cfg, "--sqlite", db_path], spark=spark)
        assert rc == 0
        assert conn.execute(
            "SELECT id, name FROM items ORDER BY id"
        ).fetchall() == [(1, "a"), (2, "B"), (4, "d")]
        conn.close()

    def test_cli_syncs_jdbc_target(self, spark, tmp_path, capsys):
        """A ``db.url`` target syncs with no write-path flag: the JDBC
        backend has no per-row methods, so the sync must stage."""
        import uuid

        from mydatasyncer_spark.__main__ import main
        from mydatasyncer_spark.sinks.jdbc import JdbcBackend

        url = f"jdbc:derby:memory:cli_{uuid.uuid4().hex[:8]};create=true"
        backend = JdbcBackend(spark, url, dialect="derby")
        backend.conn.execute_update(
            'CREATE TABLE "items" ("id" BIGINT PRIMARY KEY, '
            '"name" VARCHAR(64))'
        )
        backend.conn.execute_update(
            "INSERT INTO \"items\" VALUES (1, 'a'), (2, 'b'), (3, 'c')"
        )
        backend.conn.commit()
        cfg = self._write(tmp_path, str(tmp_path / "unused.db"))
        with open(cfg, "a") as fh:
            fh.write(f"db:\n  url: '{url}'\n")
        try:
            rc = main(["-config", cfg], spark=spark)
            assert rc == 0, capsys.readouterr().err
            assert sorted(
                backend.conn.query('SELECT "id", "name" FROM "items"')
            ) == [(1, "a"), (2, "B"), (4, "d")]
        finally:
            backend.close()

    def test_cli_fails_loudly(self, spark, tmp_path, capsys):
        from mydatasyncer_spark.__main__ import main

        rc = main(
            ["-config", str(tmp_path / "missing.yml"), "--sqlite", "x.db"],
            spark=spark,
        )
        assert rc == 1
        assert "sync failed" in capsys.readouterr().err

    def test_dialect_for_url(self):
        from mydatasyncer_spark.__main__ import dialect_for_url

        assert dialect_for_url("jdbc:mysql://h/db") == "mysql"
        assert dialect_for_url("jdbc:postgresql://h/db") == "postgres"
        assert dialect_for_url("jdbc:derby:memory:x") == "derby"
        assert dialect_for_url("jdbc:weirddb://h") == "ansi"
        with pytest.raises(Exception):
            dialect_for_url("mysql://not-jdbc")


class TestSchemaDrift:
    def test_added_removed_retyped(self, spark):
        from mydatasyncer_spark.operators.columns import schema_drift

        old = [("id", "bigint"), ("name", "string"), ("score", "double")]
        new = [("id", "bigint"), ("name", "string"), ("score", "string"), ("tag", "string")]
        rep = schema_drift(old, new)
        assert rep == [
            {"column": "score", "status": "type_changed",
             "old_type": "double", "new_type": "string"},
            {"column": "tag", "status": "added",
             "old_type": None, "new_type": "string"},
        ]
        assert schema_drift(new, old) == [
            {"column": "score", "status": "type_changed",
             "old_type": "string", "new_type": "double"},
            {"column": "tag", "status": "removed",
             "old_type": "string", "new_type": None},
        ]

    def test_identical_schemas_empty(self, spark):
        from mydatasyncer_spark.operators.columns import schema_drift

        df = spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s")
        assert schema_drift(df.schema, df.schema) == []

    def test_structtype_input(self, spark):
        from mydatasyncer_spark.operators.columns import schema_drift

        a = spark.range(1).selectExpr("id", "CAST(id AS DOUBLE) AS v")
        b = spark.range(1).selectExpr("id", "CAST(id AS STRING) AS v")
        rep = schema_drift(a.schema, b.schema)
        assert rep == [
            {"column": "v", "status": "type_changed",
             "old_type": "double", "new_type": "string"}
        ]


class TestCliLenientConfig:
    def test_lenient_missing_config_runs_default_job(
        self, spark, tmp_path, capsys, monkeypatch
    ):
        """--lenient-config with a missing file mirrors the reference
        (ref: main.go:40-51 + config.go:79-113): warn, fall back to the
        default products job, then fail on ITS missing CSV — but only
        after config loading succeeded, which is what this pins."""
        import warnings

        from mydatasyncer_spark.__main__ import main

        monkeypatch.chdir(tmp_path)  # no mydatasyncer.yml here
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            rc = main(
                ["--lenient-config", "--sqlite", str(tmp_path / "x.db")],
                spark=spark,
            )
        # default job points at ./testdata.csv which doesn't exist ->
        # the SYNC fails (nonzero), not the config load
        assert rc == 1
        err = capsys.readouterr().err
        assert "sync failed" in err
        assert "config" not in err.split("sync failed")[1][:40].lower()

    def test_strict_missing_config_still_errors(self, spark, tmp_path, capsys):
        from mydatasyncer_spark.__main__ import main

        rc = main(
            ["-config", str(tmp_path / "absent.yml"), "--sqlite",
             str(tmp_path / "x.db")],
            spark=spark,
        )
        assert rc == 1
        assert "not found" in capsys.readouterr().err
