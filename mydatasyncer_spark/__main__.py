"""CLI entry point — ``python -m mydatasyncer_spark -config sync.yml``.

Mirrors the reference's flag surface (ref: main.go:40-51: ``-config``
path + ``-dry-run``) and run lifecycle (ref: RunApp, main.go:59-134),
with one engine-specific addition: the backend comes from the
config's ``db.url`` (a JDBC URL, dialect inferred from its scheme) or
the ``--sqlite`` convenience flag for local/portable use. The backend
picks the write path: a JDBC target syncs through staged set-based
writes, a sqlite file through the per-row batched apply.
"""

from __future__ import annotations

import argparse
import sys

from mydatasyncer_spark.config import SyncConfig
from mydatasyncer_spark.errors import ConfigError

_URL_DIALECTS = {
    "mysql": "mysql",
    "mariadb": "mariadb",
    "postgresql": "postgres",
    "derby": "derby",
}


def dialect_for_url(url: str) -> str:
    """``jdbc:mysql://…`` → ``mysql`` etc.; unknown schemes get the
    ANSI fallback dialect."""
    parts = url.split(":")
    if len(parts) < 2 or parts[0] != "jdbc":
        raise ConfigError(f"not a JDBC URL: {url!r}")
    return _URL_DIALECTS.get(parts[1], "ansi")


def build_backend(spark, config: SyncConfig, sqlite_path: str | None):
    if sqlite_path:
        import sqlite3

        from mydatasyncer_spark.sinks.applier import DbApiBackend

        return DbApiBackend(
            sqlite3.connect(sqlite_path), dialect="sqlite"
        )
    if config.jdbc_url:
        from mydatasyncer_spark.sinks.jdbc import JdbcBackend

        return JdbcBackend(
            spark,
            config.jdbc_url,
            dialect=dialect_for_url(config.jdbc_url),
            properties=config.jdbc_properties,
        )
    raise ConfigError(
        "no database target: set db.url in the config or pass --sqlite"
    )


def main(argv: list[str] | None = None, spark=None) -> int:
    parser = argparse.ArgumentParser(
        prog="mydatasyncer_spark",
        description="Diff-sync file snapshots into a database with Spark.",
    )
    parser.add_argument(
        "-config",
        "--config",
        default="",
        help="path to the YAML config (with --lenient-config, empty "
        "defaults to mydatasyncer.yml like the reference)",
    )
    parser.add_argument(
        "--lenient-config",
        action="store_true",
        help="reproduce the reference's config loading exactly "
        "(ref: config.go:79-113): a missing or unparsable file warns "
        "and continues with the built-in default job instead of "
        "failing",
    )
    parser.add_argument(
        "-dry-run",
        "--dry-run",
        action="store_true",
        dest="dry_run",
        help="compute and print per-table plans; write nothing",
    )
    parser.add_argument(
        "--sqlite", help="sync into this sqlite file instead of db.url"
    )
    args = parser.parse_args(argv)

    own_session = spark is None
    try:
        if not args.config and not args.lenient_config:
            parser.error("-config is required (or pass --lenient-config)")
        config = SyncConfig.from_yaml(
            args.config, strict=not args.lenient_config
        )
        if args.dry_run:
            config.dry_run = True
        if own_session:
            from mydatasyncer_spark.session import get_spark

            spark = get_spark("mydatasyncer-cli")
        backend = build_backend(spark, config, args.sqlite)
        from mydatasyncer_spark.syncer import sync

        outcome = sync(spark, backend, config)
        if outcome.dry_run:
            for plan in outcome.plans.values():
                print(plan.render())
        else:
            for name, st in outcome.stats.items():
                print(
                    f"{name}: inserted={st.inserted} "
                    f"updated={st.updated} deleted={st.deleted}"
                )
        return 0
    except Exception as exc:  # ref: main.go:129-133 — fail loudly, nonzero
        print(f"sync failed: {exc}", file=sys.stderr)
        return 1
    finally:
        if own_session and spark is not None:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
