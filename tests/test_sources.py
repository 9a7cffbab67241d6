"""Sources: JDBC plan construction (S2/S4/S5 — no MySQL server in this
container, so the pure seams are tested: SELECT building, partition
slicing, discovery matching, the post-read cast layer) and the CSV
source end-to-end (S3/T6)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_mysql_data_reader_spark.schema.typemap import ColumnSpec
from clickhouse_mysql_data_reader_spark.sources.csv import read_csv, sniff_dialect
from clickhouse_mysql_data_reader_spark.sources.jsonl import (
    quarantine_split,
    read_jsonl,
    write_jsonl,
)
from clickhouse_mysql_data_reader_spark.sources.jdbc import (
    JdbcSourceConfig,
    build_select,
    match_tables,
    partition_options,
)
from clickhouse_mysql_data_reader_spark.transforms.row_ops import cast_to_schema
from clickhouse_mysql_data_reader_spark.schema.typemap import mysql_description_to_schema


def test_build_select_prunes_and_pushes_where():
    sql = build_select(
        "shop",
        "orders",
        columns=["id", "price", "secret"],
        skip_columns=["secret"],
        where="id > 100",
    )
    assert sql == "SELECT `id`,`price` FROM `shop`.`orders` WHERE id > 100"


def test_build_select_star_when_no_columns():
    assert build_select("db", "t") == "SELECT * FROM `db`.`t`"


def test_partition_options_range_slicing():
    opts = partition_options("id", 0, 1_000_000, 16)
    assert opts == {
        "partitionColumn": "id",
        "lowerBound": "0",
        "upperBound": "1000000",
        "numPartitions": "16",
    }
    with pytest.raises(ValueError):
        partition_options("id", None, None, 16)


def test_jdbc_config_fetchsize_default_matches_reference_chunk():
    cfg = JdbcSourceConfig(url="jdbc:mysql://h:3306")
    # pool_max_rows_num = 100k (tablemigrator.py:21) -> fetchsize
    assert cfg.base_options()["fetchsize"] == "100000"


def test_match_tables_prefix_and_db_expansion():
    found = {
        "app": ["log_2024_01", "log_2024_02", "users"],
        "other": ["t1"],
    }
    # prefix fan-in selection (log_* -> logunified, docs/manual.md:531-553)
    got = match_tables(found, dbs=["app"], prefixes=["log_"])
    assert got == {"app": ["log_2024_01", "log_2024_02"]}
    # db-only spec expands to all tables
    assert match_tables(found, dbs=["other"]) == {"other": ["t1"]}


def test_cast_layer_applies_unsigned_widening(spark):
    desc = [
        ColumnSpec("id", "bigint unsigned", nullable=False, is_key=True),
        ColumnSpec("qty", "int", nullable=True),
    ]
    df = spark.createDataFrame([("18446744073709551615", 5)], "id string, qty int")
    out = cast_to_schema(df, mysql_description_to_schema(desc))
    assert dict(out.dtypes) == {"id": "decimal(20,0)", "qty": "int"}
    # UInt64 max survives (would overflow a signed long)
    assert str(out.collect()[0]["id"]) == "18446744073709551615"


def test_csv_source_sniff_and_null_handling(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("id;name;city\n1;alice;paris\n2;;berlin\n3;carol;\n")
    delimiter, has_header = sniff_dialect(str(p))
    assert delimiter == ";"
    assert has_header
    df = read_csv(
        spark, str(p), schema="id int, name string, city string"
    ).orderBy("id")
    rows = df.collect()
    assert rows[1]["name"] is None  # T6: empty string -> NULL
    assert rows[2]["city"] is None
    assert rows[0]["name"] == "alice"


def test_csv_explicit_schema_runs_no_inference_job(spark, tmp_path):
    """The csv.py scale claim, asserted: with an explicit schema,
    building the frame launches ZERO Spark jobs (no inference pass);
    with inference on, at least one job runs before any action."""
    p = tmp_path / "probe.csv"
    p.write_text("id,name\n" + "\n".join(f"{i},n{i}" for i in range(50)) + "\n")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    sc.setJobGroup("csv_no_infer", "schema given")
    read_csv(spark, str(p), schema="id int, name string")  # build only
    assert tracker.getJobIdsForGroup("csv_no_infer") == []

    sc.setJobGroup("csv_infer", "inference")
    read_csv(spark, str(p))  # inference path pays a sampled scan
    assert len(tracker.getJobIdsForGroup("csv_infer")) >= 1
    sc.setJobGroup(None, None)


def test_csv_source_reads_spark_written_directory(spark, tmp_path):
    src = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    out = os.path.join(str(tmp_path), "out_csv")
    src.write.option("header", True).csv(out)
    back = read_csv(spark, out, schema="id int, v string").orderBy("id")
    assert [tuple(r) for r in back.collect()] == [(1, "a"), (2, "b")]


def test_partitioned_scan_uses_dbtable_subquery():
    # Spark forbids query+partitionColumn together: the partitioned
    # path must ship the SELECT as a dbtable subquery instead
    from clickhouse_mysql_data_reader_spark.sources.jdbc import scan_options

    cfg = JdbcSourceConfig(url="jdbc:mysql://h:3306")
    opts = scan_options(
        cfg, "db", "t", where="id > 5",
        partition_column="id", lower_bound=0, upper_bound=100, num_partitions=4,
    )
    assert "query" not in opts
    assert opts["dbtable"] == "(SELECT * FROM `db`.`t` WHERE id > 5) AS __scan"
    assert opts["partitionColumn"] == "id"
    # unpartitioned path keeps the plain query option
    opts1 = scan_options(cfg, "db", "t")
    assert opts1["query"] == "SELECT * FROM `db`.`t`"
    assert "dbtable" not in opts1


def test_sniff_dialect_clear_error_and_extensionless_fallback(tmp_path):
    import pytest as _pytest

    empty = tmp_path / "emptydir"
    empty.mkdir()
    with _pytest.raises(ValueError, match="no data files"):
        sniff_dialect(str(empty))
    d = tmp_path / "partdir"
    d.mkdir()
    (d / "_SUCCESS").write_text("")
    (d / "part-00000").write_text("id,v\n1,a\n2,b\n")
    delimiter, has_header = sniff_dialect(str(d))
    assert delimiter == ","


# ---------------------------------------------------------------------------
# JSONL source/sink (sources/jsonl.py)
# ---------------------------------------------------------------------------


def test_jsonl_permissive_quarantine_split(spark, tmp_path):
    """A malformed line lands in the quarantine frame with the raw
    bytes preserved; good rows parse clean and drop the corrupt col."""
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello"}\n'
        '{"doc_id": 2, "text": "wor\n'  # truncated mid-record
        '{"doc_id": 3, "text": "third"}\n'
    )
    df = read_jsonl(spark, str(p), schema="doc_id bigint, text string")
    good, bad = quarantine_split(df)
    assert "_corrupt_record" not in good.columns
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 3]
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert bad_rows[0]["raw_line"] == '{"doc_id": 2, "text": "wor'
    # unparseable line => data columns all NULL alongside the raw bytes
    assert bad_rows[0]["doc_id"] is None and bad_rows[0]["text"] is None


def test_jsonl_dropmalformed_and_failfast(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text('{"doc_id": 1}\nnot json at all\n{"doc_id": 2}\n')
    dropped = read_jsonl(
        spark, str(p), schema="doc_id bigint", mode="DROPMALFORMED"
    )
    assert sorted(r["doc_id"] for r in dropped.collect()) == [1, 2]
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_jsonl(spark, str(p), schema="doc_id bigint", mode="FAILFAST").collect()
    with pytest.raises(ValueError, match="mode must be one of"):
        read_jsonl(spark, str(p), schema="doc_id bigint", mode="LENIENT")


def test_jsonl_explicit_schema_runs_no_inference_job(spark, tmp_path):
    """Same zero-extra-pass guarantee as the CSV source: an explicit
    schema must not launch any job at frame-build time."""
    p = tmp_path / "probe.jsonl"
    p.write_text("\n".join(f'{{"id": {i}, "v": "n{i}"}}' for i in range(50)) + "\n")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    sc.setJobGroup("jsonl_no_infer", "schema given")
    read_jsonl(spark, str(p), schema="id bigint, v string")  # build only
    assert tracker.getJobIdsForGroup("jsonl_no_infer") == []

    sc.setJobGroup("jsonl_infer", "inference")
    read_jsonl(spark, str(p))  # inference path pays a sampled scan
    assert len(tracker.getJobIdsForGroup("jsonl_infer")) >= 1
    sc.setJobGroup(None, None)


def test_jsonl_roundtrip_preserves_hostile_text(spark, tmp_path):
    """Newlines, quotes, backslashes, unicode, and NULLs survive the
    write->read round-trip byte-exactly (what the registry query
    verifies corpus-wide via md5)."""
    hostile = [
        (1, 'line1\nline2\ttab "quoted" back\\slash'),
        (2, "unicode: é中文 \U0001f600 end"),
        (3, None),
        (4, ""),
    ]
    src = spark.createDataFrame(hostile, "doc_id bigint, text string")
    out = os.path.join(str(tmp_path), "round")
    write_jsonl(src, out, num_files=1)
    back = read_jsonl(spark, out, schema="doc_id bigint, text string")
    good, bad = quarantine_split(back)
    assert bad.collect() == []
    got = {r["doc_id"]: r["text"] for r in good.collect()}
    # Spark's json writer drops null-valued fields per line; a missing
    # key reads back as NULL, and empty string stays empty — both pinned.
    assert got == {k: v for k, v in hostile}


def test_jsonl_quarantine_requires_corrupt_column(spark):
    df = spark.createDataFrame([(1,)], "doc_id bigint")
    with pytest.raises(ValueError, match="_corrupt_record"):
        quarantine_split(df)


def test_read_jsonl_does_not_mutate_caller_schema(spark, tmp_path):
    from pyspark.sql import types as T

    p = tmp_path / "s.jsonl"
    p.write_text('{"a": 1}\n')
    schema = T.StructType([T.StructField("a", T.LongType(), True)])
    df = read_jsonl(spark, str(p), schema=schema)
    assert "_corrupt_record" in df.columns
    # the CALLER's object must be untouched (StructType.add mutates in
    # place — a leaked phantom column breaks every later reuse)
    assert schema.fieldNames() == ["a"]
