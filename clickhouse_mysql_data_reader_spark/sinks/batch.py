"""Batch sinks (SURVEY §2.2).

The reference's writer chain (CHWriter row-INSERT batches, CSVWriter
with sorted headers, CHCSVWriter shelling out to clickhouse-client,
ProcessWriter forking per flush) collapses into Spark's native write
path: executors parallelize, the format batches, and partitioning
replaces the per-table belt routing. What remains worth keeping is the
*policy*: destination naming (NameResolver), sorted-column CSV parity,
monthly partition layout, and idempotent last-write-wins landing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

YYYYMM_COL = "_yyyymm"


def with_month_partition(df: DataFrame, date_col: str) -> DataFrame:
    """Materialize the reference's ``toYYYYMM(date)`` partition key
    (tablesqlbuilder.py:393-398) as a column; month-range predicates
    then prune partitions at scan time."""
    return df.withColumn(
        YYYYMM_COL, (F.year(date_col) * 100 + F.month(date_col)).cast("int")
    )


def write_parquet(
    df: DataFrame,
    path: str,
    date_col: str | None = None,
    mode: str = "append",
    replace_partitions: bool = False,
) -> None:
    """K1-equivalent append sink. With ``date_col``, lays out monthly
    partitions — the same pruning contract as MergeTree's PARTITION BY.

    Layout contract: each month lands as about ⌈month bytes / 64 MB⌉
    files, not one file per write task per month. The partitioned
    frame is rebalanced by month first (AQE's REBALANCE: a hash
    exchange on ``_yyyymm`` whose partitions AQE splits when a month
    exceeds the advisory size and merges when months are small), so a
    write task holds whole months or one bounded slice of a big one.
    MergeTree merges each month into a few large parts after the
    insert; here the one shuffle at landing does it before. At 100 TB
    a landed table is then ~|table| / 64 MB files instead of ~800k
    input splits × months, and every scan of it opens and footer-reads
    that many fewer files. REBALANCE needs AQE
    (``spark.sql.adaptive.enabled``, on in ``session.get_spark``);
    without it the hint is a plain hash repartition by month into
    ``spark.sql.shuffle.partitions`` tasks — one file per month, however
    large the month.

    ``replace_partitions=True`` (needs ``date_col``) makes a re-land
    IDEMPOTENT at partition granularity: dynamic partition-overwrite
    replaces ONLY the months present in ``df`` and leaves every other
    landed month untouched — the safe daily/monthly re-run primitive
    (a plain "overwrite" would drop the whole table; the reference's
    recipe for a bad day is a manual DROP PARTITION + re-copy,
    docs/manual.md). Static vs dynamic is a session conf in Spark, so
    it is set per-write here and restored after.
    """
    if replace_partitions and not date_col:
        raise ValueError("write_parquet: replace_partitions needs date_col")
    if not date_col:
        df.write.mode(mode).parquet(path)
        return
    writer = (
        with_month_partition(df, date_col)
        .hint("rebalance", YYYYMM_COL)
        .write.partitionBy(YYYYMM_COL)
    )
    if not replace_partitions:
        writer.mode(mode).parquet(path)
        return
    spark = df.sparkSession
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, "STATIC")
    spark.conf.set(conf_key, "dynamic")
    try:
        writer.mode("overwrite").parquet(path)
    finally:
        spark.conf.set(conf_key, prev)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K2 — CSV export with lexicographically sorted columns, matching
    the reference's sorted fieldnames contract (csvwriter.py:122)."""
    df.select(*sorted(df.columns)).write.mode(mode).option("header", True).csv(path)


def fan_in(
    spark: SparkSession, frames: list[DataFrame], source_names: list[str] | None = None
) -> DataFrame:
    """T9 many-tables -> one-table fan-in (``log_* -> logunified``,
    docs/manual.md:531-553): schema-aligned union, optionally tagged
    with the source table name."""
    out = []
    for i, f in enumerate(frames):
        if source_names:
            f = f.withColumn("_src_table", F.lit(source_names[i]))
        out.append(f)
    result = out[0]
    for f in out[1:]:
        result = result.unionByName(f, allowMissingColumns=True)
    return result


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table — the co-located-join layout.

    Two tables bucketed by the same key into the same bucket count
    join WITHOUT a shuffle: each task reads matching bucket files from
    both sides. At 100 TB this converts the nightly fact-fact join's
    dominant exchange into a scan-local merge; the price is paid once
    at write time. (The reference's analogue is MergeTree ORDER BY —
    physically clustering by join/sort key at landing time.)

    The write repartitions on the bucket columns FIRST (same Murmur3
    hash family as the bucket-id assignment, so rows co-locate 1:1
    with their bucket): without it every write task emits a file for
    every bucket it holds rows for — N_tasks x N_buckets tiny files —
    and Spark only reports the scan as SORTED when each bucket is
    exactly ONE file, so the downstream sort-merge join re-sorts the
    "pre-sorted" layout (measured: the multi-file landing made the
    exchange-free join SLOWER than the plain shuffle join at sf0.1).
    One shuffle at landing is the layout's stated price anyway.
    """
    writer = (
        df.repartition(num_buckets, *bucket_cols)
        .write.mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)
