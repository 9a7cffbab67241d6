"""End-to-end table migration (K9) — the reference's
``migrate_all_tables`` / ``migrate_all_tables_data`` loop
(tablemigrator.py:121-178) composed from the engine's pieces:

discover tables -> generate DDL -> execute it against the Spark
catalog -> partitioned read -> column policy -> write (counting the
source rows as they pass) -> count reconciliation.  Count
reconciliation is the reference's own acceptance method
(docs/manual.md:436-443: compare MySQL COUNT(*) with ClickHouse
COUNT(*) after migration).

Scale shape: each table is one distributed read -> one distributed
write; the driver only touches table *names* and *counts*. Tables
migrate sequentially (like the reference) but each lands with full
executor parallelism — at 100 TB per-table parallelism is the lever,
not cross-table overlap, because the source scan dominates. A
month-partitioned table pays one shuffle at landing (``write_parquet``
rebalances by month) and in return lands each month as a few
size-bounded files instead of one file per write task per month, so
every later scan of it opens that many fewer files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.catalog.names import (
    NameResolver,
    create_full_table_name,
)
from clickhouse_mysql_data_reader_spark.config import AppConfig
from clickhouse_mysql_data_reader_spark.schema.ddl import (
    create_database_ddl,
    create_table_ddl,
    create_table_json,
    elect_partition_date_field,
    schema_to_columns,
)
from clickhouse_mysql_data_reader_spark.sinks.batch import write_csv, write_parquet
from clickhouse_mysql_data_reader_spark.sources.csv import read_csv
from clickhouse_mysql_data_reader_spark.sources.jdbc import (
    JdbcSourceConfig,
    discover_tables,
    read_table,
)
from clickhouse_mysql_data_reader_spark.sources.parquet import load_table
from clickhouse_mysql_data_reader_spark.transforms.row_ops import (
    apply_defaults,
    empty_string_to_null,
    skip_columns,
)


def _observed_rows(obs: Observation, df: DataFrame) -> int:
    """The row count ``obs`` observed while ``df`` was written. When a
    scan stage comes back empty, AQE collapses the plan to an empty
    relation and drops the observing node with it, so no metric
    arrives (PySpark then fails to convert the empty metrics row);
    count ``df`` instead — an empty source is one cheap job."""
    try:
        return obs.get["n"]
    except Py4JJavaError:
        return df.count()


@dataclass
class MigrationReport:
    """One table's migration outcome; ``reconciled`` is the acceptance
    bit (src/dst COUNT(*) equality, docs/manual.md:436-443)."""

    src_db: str
    src_table: str
    dst_db: str
    dst_table: str
    location: str | None
    ddl: str | None
    src_rows: int
    dst_rows: int

    @property
    def reconciled(self) -> bool:
        return self.src_rows == self.dst_rows

    def as_dict(self) -> dict:
        return {
            "src": f"{self.src_db}.{self.src_table}",
            "dst": f"{self.dst_db}.{self.dst_table}",
            "location": self.location,
            "src_rows": self.src_rows,
            "dst_rows": self.dst_rows,
            "reconciled": self.reconciled,
        }


class Migrator:
    """Wires AppConfig into the discover->DDL->copy->reconcile loop."""

    def __init__(self, spark: SparkSession, cfg: AppConfig):
        self.spark = spark
        self.cfg = cfg
        self.resolver = NameResolver(
            dst_schema=cfg.dst.schema,
            dst_table=cfg.dst.table,
            dst_table_prefix=cfg.dst.table_prefix,
            distribute=cfg.dst.distribute,
        )

    # -- discovery ---------------------------------------------------------

    def discover(self) -> dict[str, list[str]]:
        src = self.cfg.src
        if src.parquet_dir:
            db = src.schemas[0] if src.schemas else os.path.basename(
                src.parquet_dir.rstrip("/")
            ).replace(".", "_")
            names = sorted(
                f[: -len(".parquet")]
                for f in os.listdir(src.parquet_dir)
                if f.endswith(".parquet")
            )
            # union-of-inclusions over the FULL discovered list, same
            # semantics as the JDBC path (jdbc.match_tables): a table
            # kept by EITHER --src-tables OR a prefix survives
            if src.tables or src.tables_prefixes:
                keep = {t for t in names if t in src.tables} | {
                    t
                    for t in names
                    if any(t.startswith(p) for p in src.tables_prefixes)
                }
                names = sorted(keep)
            return {db: names}
        if src.file:
            table = os.path.splitext(os.path.basename(src.file))[0]
            return {(src.schemas[0] if src.schemas else "default"): [table]}
        if src.jdbc_url:
            return discover_tables(
                self.spark,
                self._jdbc_cfg(),
                dbs=src.schemas,
                tables=src.tables or None,
                prefixes=src.tables_prefixes or None,
            )
        raise ValueError("no source configured (src-host / src-file / src-parquet-dir)")

    def _jdbc_cfg(self) -> JdbcSourceConfig:
        src = self.cfg.src
        return JdbcSourceConfig(url=src.jdbc_url, user=src.user, password=src.password)

    # -- read --------------------------------------------------------------

    def read_source(self, db: str, table: str) -> DataFrame:
        src = self.cfg.src
        if src.parquet_dir:
            df = load_table(self.spark, src.parquet_dir, table)
            where = src.where_for(table)
            return df.filter(where) if where else df
        if src.file:
            return read_csv(self.spark, src.file)
        return read_table(
            self.spark,
            self._jdbc_cfg(),
            db,
            table,
            skip_columns=self.cfg.columns.skip or None,
            where=src.where_for(table),
            partition_column=src.partition_column,
            lower_bound=src.lower_bound,
            upper_bound=src.upper_bound,
            num_partitions=src.num_partitions,
        )

    def apply_column_policy(self, df: DataFrame) -> DataFrame:
        pol = self.cfg.columns
        if pol.skip:
            df = skip_columns(df, pol.skip)
        if pol.empty_string_as_null:
            df = empty_string_to_null(df)
        if pol.defaults:
            df = apply_defaults(df, pol.defaults)
        return df

    # -- DDL ---------------------------------------------------------------

    def ddl_for(self, db: str, table: str, df: DataFrame, location: str | None) -> str:
        dst_db, dst_table = self.resolver.resolve(db, table)
        cols = schema_to_columns(df.schema)
        stmts = []
        if self.cfg.with_create_database:
            stmts.append(create_database_ddl(dst_db))
        stmts.append(
            create_table_ddl(dst_db, dst_table, cols, location=location)
        )
        return ";\n".join(stmts)

    def json_template_for(self, db: str, table: str, df: DataFrame) -> str:
        dst_db, dst_table = self.resolver.resolve(db, table)
        return create_table_json(dst_db, dst_table, schema_to_columns(df.schema))

    # -- migrate -----------------------------------------------------------

    def migrate_table(self, db: str, table: str) -> MigrationReport:
        spark, cfg = self.spark, self.cfg
        dst_db, dst_table = self.resolver.resolve(db, table)
        df = self.apply_column_policy(self.read_source(db, table))
        date_col = elect_partition_date_field(schema_to_columns(df.schema))

        location = None
        if cfg.dst.parquet_dir:
            location = os.path.join(cfg.dst.parquet_dir, dst_db, dst_table)
        ddl = self.ddl_for(db, table, df, location) if cfg.dst.create_table else None

        if cfg.dry:
            return MigrationReport(
                db, table, dst_db, dst_table, location, ddl,
                src_rows=df.count(), dst_rows=0,
            )

        # count the source rows in the scan that writes them: a separate
        # count() would read the source a second time (a second full
        # SELECT against JDBC), and the reconciled count belongs to the
        # snapshot that actually landed
        obs = Observation()
        observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
        if cfg.dst.file:
            write_csv(observed, cfg.dst.file)
            dst_rows = spark.read.option("header", True).csv(cfg.dst.file).count()
            return MigrationReport(
                db, table, dst_db, dst_table, cfg.dst.file, ddl,
                _observed_rows(obs, df), dst_rows,
            )

        if location is None:
            raise ValueError("no destination configured (dst-parquet-dir / dst-file)")
        write_parquet(observed, location, date_col=date_col)
        src_rows = _observed_rows(obs, df)

        if ddl:
            # land the table in the catalog over the files just written,
            # then sync partitions (tablemigrator.py:136-158's CREATE
            # DATABASE/TABLE step, Spark-style)
            for stmt in ddl.split(";\n"):
                spark.sql(stmt)
            full = create_full_table_name(dst_db, dst_table)
            if date_col:
                spark.sql(f"MSCK REPAIR TABLE {full}")
            dst_rows = spark.table(full).count()
        else:
            dst_rows = spark.read.parquet(location).count()
        return MigrationReport(
            db, table, dst_db, dst_table, location, ddl, src_rows, dst_rows
        )

    def check_drift(self, db: str, table: str):
        """Schema drift between the CURRENT source table and what was
        previously landed at the destination: `schema_diff(landed,
        current)` (schema/drift.py), [] when nothing changed.

        The mechanical replacement for the reference's diff-DESCRIBE-
        by-eye re-migration workflow: run before an incremental
        re-land; all-safe changes (nullable adds, lossless widenings)
        can proceed via parquet schema merge, any unsafe one means
        re-migrate. Nullability verdicts reflect what the engines
        REPORT (landed parquet reads back nullable), so type changes
        are the primary signal here.
        """
        from clickhouse_mysql_data_reader_spark.schema.drift import schema_diff

        if not self.cfg.dst.parquet_dir:
            raise ValueError("check_drift: needs dst-parquet-dir (landed schema)")
        dst_db, dst_table = self.resolver.resolve(db, table)
        location = os.path.join(self.cfg.dst.parquet_dir, dst_db, dst_table)
        landed = self.spark.read.parquet(location).schema
        current = self.apply_column_policy(self.read_source(db, table)).schema
        return schema_diff(landed, current)

    def migrate_all(self) -> list[MigrationReport]:
        """The per-table loop of tablemigrator.py:121-178."""
        reports = []
        for db, tables in sorted(self.discover().items()):
            for table in tables:
                reports.append(self.migrate_table(db, table))
        return reports
