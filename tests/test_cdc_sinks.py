"""CDC merge semantics (FIXTURES F5) + sink policy tests."""

from __future__ import annotations

import glob
import os

import pytest

from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.operators.cdc import apply_cdc_batch, cdc_final_state
from clickhouse_mysql_data_reader_spark.sinks.batch import (
    fan_in,
    with_month_partition,
    write_csv,
    write_parquet,
)


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "op string, log_file string, log_pos long, id long, day string, str string"
    )


BASE_ROWS = [("f1", 0, 1, "2018-01-01", "one"), ("f1", 0, 2, "2018-01-01", "two")]


def _base(spark):
    return spark.createDataFrame(
        [r[2:] for r in BASE_ROWS], "id long, day string, str string"
    )


def test_cdc_insert_update_delete(spark):
    base = _base(spark)
    changes = _changes(
        spark,
        [
            ("insert", "f1", 10, 3, "2018-01-02", "three"),
            ("update", "f1", 11, 1, "2018-01-01", "one-v2"),
            ("delete", "f1", 12, 2, "2018-01-01", "two"),
        ],
    )
    out = apply_cdc_batch(base, changes, ["id"], ["log_file", "log_pos"])
    got = {r["id"]: r["str"] for r in out.collect()}
    assert got == {1: "one-v2", 3: "three"}


def test_cdc_last_write_wins_within_batch(spark):
    base = _base(spark)
    changes = _changes(
        spark,
        [
            ("update", "f1", 10, 1, "2018-01-01", "v1"),
            ("update", "f1", 12, 1, "2018-01-01", "v3"),
            ("update", "f1", 11, 1, "2018-01-01", "v2"),
            # file rollover: f2 positions restart lower but are later
            ("update", "f2", 1, 1, "2018-01-01", "v4"),
        ],
    )
    out = apply_cdc_batch(base, changes, ["id"], ["log_file", "log_pos"])
    got = {r["id"]: r["str"] for r in out.collect()}
    assert got[1] == "v4"


def test_cdc_redelivery_idempotent(spark):
    """Replaying the same batch twice lands in the same state."""
    base = _base(spark)
    rows = [
        ("update", "f1", 11, 1, "2018-01-01", "one-v2"),
        ("delete", "f1", 12, 2, "2018-01-01", "two"),
    ]
    once = apply_cdc_batch(base, _changes(spark, rows), ["id"], ["log_file", "log_pos"])
    twice = apply_cdc_batch(once, _changes(spark, rows), ["id"], ["log_file", "log_pos"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_cdc_delete_then_reinsert(spark):
    base = _base(spark)
    changes = _changes(
        spark,
        [
            ("delete", "f1", 10, 1, "2018-01-01", "one"),
            ("insert", "f1", 11, 1, "2018-01-03", "reborn"),
        ],
    )
    out = apply_cdc_batch(base, changes, ["id"], ["log_file", "log_pos"])
    got = {r["id"]: r["str"] for r in out.collect()}
    assert got[1] == "reborn"


def test_cdc_final_state_fold(spark):
    changes = _changes(
        spark,
        [
            ("insert", "f1", 1, 1, "d", "a"),
            ("update", "f1", 2, 1, "d", "b"),
            ("insert", "f1", 3, 2, "d", "x"),
            ("delete", "f1", 4, 2, "d", "x"),
        ],
    )
    out = cdc_final_state(changes, ["id"], ["log_file", "log_pos"], ["id", "str"])
    assert [tuple(r) for r in out.collect()] == [(1, "b")]


def _files_per_month(path):
    return {
        os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(path, "_yyyymm=*"))
    }


def test_write_parquet_month_partitions(spark, sf_dir, tmp_path):
    # spread over 4 write tasks: without the rebalance by month each
    # task would land its own file in every month it holds rows for
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(200).repartition(4)
    write_parquet(orders, str(tmp_path / "o"), date_col="o_orderdate")
    dirs = glob.glob(str(tmp_path / "o" / "_yyyymm=*"))
    assert len(dirs) > 1  # monthly layout materialized
    assert set(_files_per_month(str(tmp_path / "o")).values()) == {1}
    back = spark.read.parquet(str(tmp_path / "o"))
    assert back.count() == 200
    # partition pruning: filter on the partition col reads a subset of files
    one_month = back.filter(F.col("_yyyymm") == int(dirs[0].split("=")[-1]))
    assert 0 < one_month.count() < 200


def test_write_csv_sorted_columns(spark, sf_dir, tmp_path):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    write_csv(nation, str(tmp_path / "n"))
    header = open(glob.glob(str(tmp_path / "n" / "*.csv"))[0]).readline().strip()
    assert header.split(",") == sorted(nation.columns)


def test_fan_in_tags_and_aligns(spark):
    a = spark.createDataFrame([(1, "a")], "id long, v string")
    b = spark.createDataFrame([(2,)], "id long")  # missing column v
    out = fan_in(spark, [a, b], ["t1", "t2"])
    rows = {r["_src_table"]: (r["id"], r["v"]) for r in out.collect()}
    assert rows == {"t1": (1, "a"), "t2": (2, None)}


def test_with_month_partition_value(spark):
    df = spark.createDataFrame([("2018-03-05",)], "d string").select(
        F.col("d").cast("date").alias("d")
    )
    assert with_month_partition(df, "d").collect()[0]["_yyyymm"] == 201803


def test_write_parquet_replace_partitions_is_idempotent(spark, tmp_path):
    p = str(tmp_path / "landed")
    day = lambda d, v: (d, v)
    df1 = spark.createDataFrame(
        [day("2018-01-05", "jan-a"), day("2018-01-20", "jan-b"),
         day("2018-02-03", "feb-a")],
        "d string, v string",
    ).select(F.col("d").cast("date").alias("d"), "v")
    write_parquet(df1, p, date_col="d")

    # re-land ONLY February with corrected rows: January must survive
    feb_fix = (
        spark.createDataFrame(
            [day("2018-02-03", "feb-FIXED"), day("2018-02-14", "feb-NEW")],
            "d string, v string",
        )
        .select(F.col("d").cast("date").alias("d"), "v")
        .repartition(2)
    )
    write_parquet(feb_fix, p, date_col="d", replace_partitions=True)

    got = {r["v"] for r in spark.read.parquet(p).collect()}
    assert got == {"jan-a", "jan-b", "feb-FIXED", "feb-NEW"}
    # the re-landed month is one file, like a month landed by append
    assert _files_per_month(p)["_yyyymm=201802"] == 1

    # re-running the same re-land changes nothing (idempotent)
    write_parquet(feb_fix, p, date_col="d", replace_partitions=True)
    again = {r["v"] for r in spark.read.parquet(p).collect()}
    assert again == got

    # conf restored after the write
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "STATIC"
    ).upper() == "STATIC"

    with pytest.raises(ValueError, match="needs date_col"):
        write_parquet(feb_fix, p, replace_partitions=True)


def test_infer_json_schema_merging_and_flatten(spark):
    from pyspark.sql import types as T

    from clickhouse_mysql_data_reader_spark.transforms.row_ops import (
        flatten_json,
        infer_json_schema,
    )

    rows = [
        (1, '{"a": 1, "b": "x", "nested": {"p": 1}}'),
        (2, '{"a": 2.5, "c": [1, 2], "nested": {"q": true}}'),  # a widens
        (3, None),                       # skipped
        (4, "not json at all"),          # skipped
        (5, '{"a": 3, "b": 7}'),         # b conflicts str/int -> string
    ]
    df = spark.createDataFrame(rows, "event_id long, props string")
    schema = infer_json_schema(df, "props")
    by = {f.name: f.dataType for f in schema.fields}
    assert by["a"] == T.DoubleType()          # long + double -> double
    assert by["b"] == T.StringType()          # string + long -> string
    assert by["c"] == T.ArrayType(T.LongType(), True)
    assert by["nested"] == T.StructType(
        [
            T.StructField("p", T.LongType(), True),
            T.StructField("q", T.BooleanType(), True),
        ]
    )

    flat = flatten_json(df, "props", schema=schema)
    got = {r["event_id"]: r for r in flat.collect()}
    assert got[1]["a"] == 1.0 and got[1]["b"] == "x" and got[1]["nested"]["p"] == 1
    assert got[2]["c"] == [1, 2] and got[2]["nested"]["q"] is True
    assert got[3]["a"] is None and got[4]["a"] is None
    assert got[5]["b"] == "7"  # degraded-to-string field keeps the value
    assert "props" not in flat.columns

    with pytest.raises(ValueError, match="collide"):
        flatten_json(
            df.withColumnRenamed("event_id", "a"), "props", schema=schema
        )
    with pytest.raises(ValueError, match="no parseable JSON"):
        infer_json_schema(
            spark.createDataFrame([(1, "[]")], "i long, props string"), "props"
        )
