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

from clickhouse_mysql_data_reader_spark.catalog.names import NameResolver

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


def write_jdbc(
    df: DataFrame,
    url: str,
    db: str,
    table: str,
    resolver: NameResolver | None = None,
    num_partitions: int | None = None,
    batch_size: int = 10_000,
    properties: dict[str, str] | None = None,
) -> None:
    """JDBC append with destination-name resolution (rename/prefix/
    fan-in/_all — chwriter.py:35-38, 89-91) and explicit write fan-out.
    ``batch_size`` plays the role of the reference's pool flush size."""
    dst_db, dst_table = (resolver or NameResolver()).resolve(db, table)
    if num_partitions:
        df = df.repartition(num_partitions)
    props = {"batchsize": str(batch_size), **(properties or {})}
    df.write.mode("append").jdbc(url, f"{dst_db}.{dst_table}", properties=props)


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


def write_range_sorted(
    df: DataFrame,
    path: str,
    keys: list[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-partitioned, key-sorted parquet landing — the min/max
    skipping layout (the reference destination's MergeTree ``ORDER BY``
    primary-key analog, tablesqlbuilder.py:393-398, done Spark-side).

    ``repartitionByRange`` samples the key distribution and assigns
    each output file a DISJOINT key range; ``sortWithinPartitions``
    orders rows inside, so every parquet row group carries tight
    min/max statistics on the sort keys. A selective key predicate then
    prunes at two levels with zero index structures: Spark's parquet
    reader (filterPushdown) drops whole row groups whose stats exclude
    the predicate, and at 100 TB a time-range or key-range query reads
    ~|selected range| instead of |table|. Same one-time-landing
    discipline as ``write_bucketed``: pay the range shuffle once, every
    subsequent scan benefits.

    ``num_files`` sizes the layout (defaults to Spark's partition
    heuristics); at scale pick |table| / target-file-size.
    """
    part = (
        df.repartitionByRange(num_files, *keys)
        if num_files
        else df.repartitionByRange(*keys)
    )
    part.sortWithinPartitions(*keys).write.mode(mode).parquet(path)


def zorder_key(
    cols: list, los: list[float], his: list[float], bits: int = 10
) -> "F.Column":
    """Morton (Z-order) interleaved key over ``cols`` as one LONG
    Column expression. Each column is scaled to an UNSIGNED ``bits``-bit
    bucket by the caller-supplied [lo, hi] envelope (values outside
    clamp to the edge buckets), then the buckets' bits are interleaved
    — dimension j contributes bit i to output position ``i*n + j``, so
    nearby (x, y) pairs land near each other in z and a file range
    covers a HYPER-RECTANGLE of the key space instead of a slab.

    Pure arithmetic (no rank, no shuffle): equi-width bucketing after
    envelope clamping. The envelope should be robust quantiles (p1/p99
    — ``write_zorder`` measures them), not true min/max: one outlier
    would compress every real value into a handful of buckets.
    ``n_cols * bits`` must fit a signed LONG (<= 62).
    """
    n = len(cols)
    if n < 2:
        raise ValueError("z-ordering needs >= 2 columns; use write_range_sorted for 1")
    if n * bits > 62:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed LONG")
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for j, (c, lo, hi) in enumerate(zip(cols, los, his)):
        col = F.col(c) if isinstance(c, str) else c
        span = float(hi) - float(lo)
        if span <= 0:  # constant column: every row in bucket 0
            continue
        scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(span) * F.lit(top)
        b = F.least(F.greatest(F.round(scaled).cast("long"), F.lit(0)), F.lit(top))
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    return z


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 10,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order clustered parquet landing — multi-column data skipping
    (the Delta OPTIMIZE ZORDER BY / MergeTree multi-column ORDER BY
    move, done with plain Spark). ``write_range_sorted`` gives perfect
    pruning on its FIRST key and none on the rest; interleaving the
    key bits instead makes every file cover a tight hyper-rectangle,
    so selective predicates on ANY of the z-columns prune files and
    row groups via ordinary parquet min/max stats — no index.

    Envelope measurement is one bounded driver action (2 quantiles per
    column via approxQuantile — same bounded-metadata class as kmeans
    centroid collection); the z key itself is pure row arithmetic, and
    the landing is the usual one-time ``repartitionByRange(z) +
    sortWithinPartitions(z)`` shuffle. At 100 TB: pay the layout once,
    then a (time-range x key-range) query reads the files whose
    rectangle intersects it — ~|selection| instead of |table|.
    """
    # one pass for every envelope: approxQuantile takes the column LIST,
    # so k z-columns cost one corpus scan, not k. An all-null or
    # non-numeric column yields an EMPTY quantile list — fail with the
    # column's name here rather than an opaque IndexError below.
    envs = df.stat.approxQuantile(cols, [0.01, 0.99], 0.001)
    bad = [c for c, e in zip(cols, envs) if len(e) != 2]
    if bad:
        raise ValueError(
            f"write_zorder: no numeric envelope for column(s) {bad} — "
            "z-columns must be numeric with at least one non-null value"
        )
    los = [e[0] for e in envs]
    his = [e[1] for e in envs]
    zed = df.withColumn("_z", zorder_key(cols, los, his, bits=bits))
    part = (
        zed.repartitionByRange(num_files, "_z")
        if num_files
        else zed.repartitionByRange("_z")
    )
    part.sortWithinPartitions("_z").drop("_z").write.mode(mode).parquet(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    cols: list[str],
    id_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "shuffle",
    mode: str = "overwrite",
) -> None:
    """Export the curated corpus as SHARDED JSONL in deterministic
    shuffled training order — the files a trainer actually consumes.
    Each output directory ``shard=<k>/`` holds one shard's documents as
    one-JSON-object-per-line (newlines inside text are escaped by JSON,
    so the line==doc contract always holds), ordered by the
    ``training_shuffle`` rank: reproducible across runs/retries, new
    ``salt`` = fresh epoch order.

    Layout mechanics: the shuffle's (shard, rank) order does NOT need
    ``training_shuffle``'s row_number window here — the rank is only a
    sort key, so the export computes the same md5 draw inline and does
    ONE repartition on the shard key + sortWithinPartitions(shard,
    draw, id): identical order (rank = position by (draw, id)), half
    the exchanges, no window. The JSON line is built from the ORIGINAL
    columns before any internal column is added, so user columns named
    ``shard``/``pos`` export untouched.
    """
    from clickhouse_mysql_data_reader_spark.operators.sampling import hash_bucket

    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    line = F.to_json(F.struct(*[F.col(c) for c in cols]))
    staged = df.select(
        line.alias("_line"),
        hash_bucket(F.col(id_col), salt).alias("_draw"),
        F.col(id_col).alias("_id"),
    ).withColumn(
        "shard",
        (F.conv(F.col("_draw"), 16, 10).cast("long") % n_shards).cast("int"),
    )
    (
        staged.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "_draw", "_id")
        .select("shard", F.col("_line").alias("value"))
        .write.mode(mode)
        .partitionBy("shard")
        .text(path)
    )
