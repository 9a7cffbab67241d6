"""Type map + DDL unit tests against the FIXTURES.md boundary table
(the reference's own correctness methodology, docs/manual.md type table)."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import types as T

from clickhouse_mysql_data_reader_spark.catalog.names import (
    NameResolver,
    create_full_table_name,
    table_matches_prefix,
)
from clickhouse_mysql_data_reader_spark.schema.ddl import (
    create_table_ddl,
    elect_partition_date_field,
    elect_primary_key_fields,
)
from clickhouse_mysql_data_reader_spark.schema.typemap import ColumnSpec, map_type


def test_integer_widening():
    assert map_type("tinyint(4)") == T.ByteType()
    assert map_type("tinyint(3) unsigned") == T.ShortType()
    assert map_type("smallint(6)") == T.ShortType()
    assert map_type("smallint(5) unsigned") == T.IntegerType()
    assert map_type("mediumint(9)") == T.IntegerType()
    assert map_type("int(11)") == T.IntegerType()
    assert map_type("int(10) unsigned") == T.LongType()
    assert map_type("bigint(20)") == T.LongType()


def test_uint64_does_not_overflow():
    # UInt64 max must round-trip: 18446744073709551615 > 2^63-1
    t = map_type("bigint(20) unsigned")
    assert t == T.DecimalType(20, 0)
    assert Decimal("18446744073709551615") < Decimal(10) ** 20
    assert map_type("serial") == T.DecimalType(20, 0)


def test_decimal_improved_vs_strict_parity():
    assert map_type("decimal(3,2)") == T.DecimalType(3, 2)
    assert map_type("numeric(10)") == T.DecimalType(10, 0)
    # reference degrades DECIMAL to String (tablesqlbuilder.py:293-294)
    assert map_type("decimal(3,2)", strict_parity=True) == T.StringType()


def test_temporal_and_misc():
    assert map_type("date") == T.DateType()
    assert map_type("datetime") == T.TimestampType()
    assert map_type("timestamp") == T.TimestampType()
    assert map_type("time") == T.StringType()  # ±838h range, no Spark type
    assert map_type("year(4)") == T.IntegerType()
    assert map_type("enum('a','b')") == T.StringType()
    assert map_type("set('a','b')") == T.ArrayType(T.StringType())
    assert map_type("set('a','b')", strict_parity=True) == T.StringType()
    assert map_type("json") == T.StringType()
    assert map_type("varchar(255)") == T.StringType()
    assert map_type("longblob") == T.BinaryType()
    assert map_type("longblob", strict_parity=True) == T.StringType()
    assert map_type("float") == T.FloatType()
    assert map_type("double") == T.DoubleType()
    assert map_type("bool") == T.BooleanType()
    assert map_type("totally_unknown_type") == T.StringType()


FIXTURE_COLS = [
    ColumnSpec("id", "bigint(20) unsigned", nullable=False, is_key=True),
    ColumnSpec("day", "date"),
    ColumnSpec("str", "longtext"),
]


def test_partition_and_pk_election():
    assert elect_partition_date_field(FIXTURE_COLS) == "day"
    assert elect_primary_key_fields(FIXTURE_COLS) == ["id"]
    # fallback: no key flag -> date field becomes the pk
    no_key = [ColumnSpec("day", "date"), ColumnSpec("v", "int(11)")]
    assert elect_primary_key_fields(no_key) == ["day"]


def test_create_table_ddl_shape():
    ddl = create_table_ddl("db", "log_unified", FIXTURE_COLS)
    assert "CREATE TABLE IF NOT EXISTS `db`.`log_unified`" in ddl
    assert "`id` DECIMAL(20,0)" in ddl
    assert "PARTITIONED BY (`_yyyymm`)" in ddl
    assert "USING parquet" in ddl


def test_ddl_runs_in_spark(spark, tmp_path):
    ddl = create_table_ddl(
        "default", "ddl_smoke", FIXTURE_COLS, location=str(tmp_path / "t")
    )
    spark.sql(ddl)
    assert spark.catalog.tableExists("default.ddl_smoke")
    spark.sql("DROP TABLE default.ddl_smoke")


def test_full_table_names():
    assert create_full_table_name("db", "t") == "`db`.`t`"
    assert create_full_table_name(None, "t") == "`t`"
    assert create_full_table_name("we` ird", "t.x") == "`we`` ird`.`t.x`"


def test_prefix_match_and_resolver():
    assert table_matches_prefix("log_201801_1", ["log_"])
    assert not table_matches_prefix("audit", ["log_"])
    r = NameResolver(dst_schema="ch", dst_table="logunified", distribute=True)
    assert r.resolve("mysql_db", "log_201801_1") == ("ch", "logunified_all")
    r2 = NameResolver(dst_table_prefix="ch_")
    assert r2.resolve("db", "t") == ("db", "ch_t")
    r3 = NameResolver(rename_map={("a", "b"): ("x", "y")})
    assert r3.resolve("a", "b") == ("x", "y")


# schema drift (schema/drift.py)


def test_schema_diff_classifies_changes():
    from pyspark.sql import types as T

    from clickhouse_mysql_data_reader_spark.schema.drift import schema_diff

    old = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("qty", T.FloatType(), True),
            T.StructField("price", T.DecimalType(10, 2), True),
            T.StructField("note", T.StringType(), True),
            T.StructField("gone", T.StringType(), True),
            T.StructField("d", T.DateType(), True),
        ]
    )
    new = T.StructType(
        [
            T.StructField("id", T.LongType(), False),          # widen: safe
            T.StructField("qty", T.DoubleType(), True),        # widen: safe
            T.StructField("price", T.DecimalType(12, 2), True),# widen: safe
            T.StructField("note", T.StringType(), False),      # tighten: unsafe
            T.StructField("d", T.TimestampType(), True),       # date->ts: safe
            T.StructField("extra", T.StringType(), True),      # nullable add: safe
        ]
    )
    by = {(c.kind, c.column): c for c in schema_diff(old, new)}
    assert by[("type_changed", "id")].safe
    assert by[("type_changed", "qty")].safe
    assert by[("type_changed", "price")].safe
    assert by[("type_changed", "d")].safe
    assert by[("added", "extra")].safe
    assert not by[("removed", "gone")].safe
    assert not by[("nullability_changed", "note")].safe

    # narrowing / scale-loss / required-add are unsafe
    o2 = T.StructType([T.StructField("v", T.LongType(), True)])
    assert not schema_diff(o2, T.StructType([T.StructField("v", T.IntegerType(), True)]))[0].safe
    assert not schema_diff(
        T.StructType([T.StructField("v", T.DecimalType(10, 4), True)]),
        T.StructType([T.StructField("v", T.DecimalType(12, 2), True)]),
    )[0].safe
    assert not schema_diff(o2, T.StructType(
        [T.StructField("v", T.LongType(), True), T.StructField("w", T.LongType(), False)]
    ))[0].safe
    # long fits decimal(20,0) but not decimal(18,0)
    assert schema_diff(o2, T.StructType([T.StructField("v", T.DecimalType(20, 0), True)]))[0].safe
    assert not schema_diff(o2, T.StructType([T.StructField("v", T.DecimalType(18, 0), True)]))[0].safe
    # atomic -> string is the reference's own degrade move: safe
    assert schema_diff(o2, T.StructType([T.StructField("v", T.StringType(), True)]))[0].safe
    # identical schemas: no drift
    assert schema_diff(old, old) == []
