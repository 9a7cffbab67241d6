"""Advanced analytics surface [B]: as-of / range joins, GROUPING SETS,
exact percentiles, sessionization, sliding windows, CSV round-trip.

These extend SURVEY.md §2.4 beyond the basics: the reference delegates
all analytics to ClickHouse, whose dialect offers ASOF JOIN, quantile
functions, and window frames over the landed MergeTree tables — here
they are Catalyst plans with DuckDB oracles.

Timestamps cross the oracle boundary as ``unix_micros`` BIGINTs: epoch
microseconds are exact integers in both engines, immune to session-
timezone and float-epoch hazards.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.operators.asof import asof_join
from clickhouse_mysql_data_reader_spark.queries.registry import QUERIES, register
from clickhouse_mysql_data_reader_spark.sinks.batch import write_csv
from clickhouse_mysql_data_reader_spark.sources.parquet import load_table


@register(
    "join_asof_attrib",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, event_id AS click_id, value AS click_value
               FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
           c.click_id, c.click_value
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
    doc="As-of join: attribute each purchase to the user's most recent "
    "click at-or-before it. Spark side uses the union+running-window "
    "formulation (operators/asof.py) — one key shuffle, linear pass, no "
    "quadratic range-join intermediate; identical plan shape at 100 TB.",
)
def join_asof_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    joined = asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload_cols=["click_id", "click_value"],
        seq_col="click_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "click_id",
        "click_value",
    )


@register(
    "join_range_bands",
    """
    WITH bands(band, lo, hi) AS (VALUES
        ('b1_lt50k', 0, 50000), ('b2_50_150k', 50000, 150000),
        ('b3_150_300k', 150000, 300000), ('b4_ge300k', 300000, 600000))
    SELECT band, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM orders JOIN bands
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
    doc="Range (band) join: orders bucketed into price bands via a "
    "non-equi join. The band table is broadcast, so Catalyst runs a "
    "BroadcastNestedLoopJoin — each fact row tests a handful of in-"
    "memory intervals; the fact side never shuffles.",
)
def join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = spark.createDataFrame(
        [
            ("b1_lt50k", 0, 50_000),
            ("b2_50_150k", 50_000, 150_000),
            ("b3_150_300k", 150_000, 300_000),
            ("b4_ge300k", 300_000, 600_000),
        ],
        "band string, lo int, hi int",
    )
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("sum_price"),
        )
    )


@register(
    "agg_grouping_sets",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="Explicit GROUPING SETS (the general form behind rollup/cube). "
    "Catalyst's Expand emits one copy of each input row per set in a "
    "single pass; only grouped state shuffles.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gsets")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               count(*) AS n_rows
        FROM lineitem_gsets
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "agg_percentile",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Exact continuous percentiles (linear interpolation — the same "
    "definition as quantile_cont). At 100 TB swap to percentile_approx "
    "(t-digest sketch, constant memory, mergeable map-side) — the exact "
    "form is the correctness anchor.",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "window_session_gaps",
    """
    WITH t AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > 3600000000
                  THEN 1 ELSE 0 END AS is_new
      FROM t
    ),
    sess AS (
      SELECT user_id, us,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(us) AS session_start_us
    FROM sess GROUP BY user_id, session_id
    """,
    doc="Sessionization (gaps-and-islands): a new session starts after "
    ">1h of inactivity; session id is the running sum of gap flags. One "
    "shuffle on user_id serves both windows; session assignment is a "
    "linear per-partition pass.",
)
def window_session_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    order = [F.col("us").asc(), F.col("event_id").asc()]
    w_lag = W.partitionBy("user_id").orderBy(*order)
    w_run = w_lag.rowsBetween(W.unboundedPreceding, W.currentRow)
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(w_lag).isNull()
            | ((F.col("us") - F.lag("us").over(w_lag)) > 3_600_000_000),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn("session_id", F.sum("is_new").over(w_run))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("session_start_us"),
    )


@register(
    "window_sliding_counts",
    """
    WITH slots AS (
      SELECT event_type, value,
             (epoch_us(ts) - epoch_us(ts) % 1800000000)
               - i * 1800000000 AS win_start_us
      FROM events, UNNEST([0, 1]) AS t(i)
    )
    SELECT win_start_us, event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM slots GROUP BY win_start_us, event_type
    """,
    doc="Sliding-window aggregate (1h window, 30m slide) in batch form: "
    "window() assigns each event to its 2 overlapping slots JVM-side "
    "(an Expand, no self-join), then a plain hash aggregate.",
)
def window_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("win.start")).alias("win_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "csv_roundtrip_nation",
    "SELECT n_name, n_nationkey, n_regionkey FROM nation",
    doc="S3/K2 surface: write a table through the sorted-column CSV sink "
    "(the reference's CSVWriter contract, csvwriter.py:122) and read it "
    "back with an explicit schema — values must survive the round-trip "
    "bit-exactly. Local-path only; at scale the same writer targets "
    "object storage.",
)
def csv_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"cmdrs_csv_roundtrip_{tag}")
    write_csv(load_table(spark, sf_dir, "nation"), path)
    # write_csv sorts columns lexicographically; mirror that order here.
    return spark.read.option("header", True).schema(
        "n_name string, n_nationkey int, n_regionkey int"
    ).csv(path)


@register(
    "jsonl_roundtrip_documents",
    """
    SELECT doc_id, lang, source, n_chars, md5(text) AS fp
    FROM documents
    """,
    doc="JSONL source/sink surface (sources/jsonl.py): write the "
    "documents table through the JSONL sink and read it back with an "
    "explicit schema (zero-inference path) under PERMISSIVE mode — "
    "every row must survive the round-trip byte-exactly, verified by "
    "a per-document md5 of the text next to every scalar column. "
    "JSONL is how LLM corpora actually move between pipeline stages; "
    "the oracle is the identity query over the original parquet, so "
    "any escaping/encoding loss in the round-trip hash-fails.",
)
def jsonl_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.sources.jsonl import (
        quarantine_split,
        read_jsonl,
        write_jsonl,
    )

    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"cmdrs_jsonl_roundtrip_{tag}")
    write_jsonl(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source", "n_chars"
        ),
        path,
    )
    back = read_jsonl(
        spark,
        path,
        schema="doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    good, _bad = quarantine_split(back)
    return good.select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("fp")
    )


@register(
    "profile_orders_table",
    """
    WITH n AS (SELECT count(*) AS n_rows FROM orders)
    SELECT * FROM (
      SELECT 'o_orderkey' AS "column", n.n_rows,
             CAST(count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS BIGINT) AS n_nulls,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
             coalesce(CAST(min(o_orderkey) AS VARCHAR), '') AS min_value,
             coalesce(CAST(max(o_orderkey) AS VARCHAR), '') AS max_value
      FROM orders, n GROUP BY n.n_rows
      UNION ALL
      SELECT 'o_custkey', n.n_rows,
             CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT),
             CAST(count(DISTINCT o_custkey) AS BIGINT),
             coalesce(CAST(min(o_custkey) AS VARCHAR), ''),
             coalesce(CAST(max(o_custkey) AS VARCHAR), '')
      FROM orders, n GROUP BY n.n_rows
      UNION ALL
      SELECT 'o_orderstatus', n.n_rows,
             CAST(count(CASE WHEN o_orderstatus IS NULL THEN 1 END) AS BIGINT),
             CAST(count(DISTINCT o_orderstatus) AS BIGINT),
             coalesce(min(o_orderstatus), ''),
             coalesce(max(o_orderstatus), '')
      FROM orders, n GROUP BY n.n_rows
      UNION ALL
      SELECT 'o_orderpriority', n.n_rows,
             CAST(count(CASE WHEN o_orderpriority IS NULL THEN 1 END) AS BIGINT),
             CAST(count(DISTINCT o_orderpriority) AS BIGINT),
             coalesce(min(o_orderpriority), ''),
             coalesce(max(o_orderpriority), '')
      FROM orders, n GROUP BY n.n_rows
    )
    """,
    doc="Post-landing data-quality profile (operators/profile.py): row "
    "count, per-column null count, exact distinct cardinality, native-"
    "type min/max — the reference users' manual count(*) parity checks "
    "(docs/manual.md:436-443) as one operator. ALL columns profile in "
    "ONE scan/aggregate (a 1-row wide result unpivoted by a constant "
    "explode — profiling N columns costs the scan of one); the exact "
    "multi-distinct pays Catalyst's Expand shuffle, and "
    "exact_distinct=False swaps in HLL for the 100 TB monitoring path.",
)
def profile_orders_table_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.profile import profile_table

    orders = load_table(spark, sf_dir, "orders")
    return profile_table(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    )


@register(
    "corpus_snapshot_diff",
    """
    WITH old AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END AS text
      FROM documents WHERE doc_id % 7 <> 0
    ), new AS (
      SELECT doc_id, source, text FROM documents WHERE doc_id % 11 <> 0
    ), o AS (
      SELECT doc_id, source, md5(text) AS fp, length(text) AS len FROM old
    ), nn AS (
      SELECT doc_id, source, md5(text) AS fp, length(text) AS len FROM new
    ), j AS (
      SELECT coalesce(nn.source, o.source) AS source,
             CASE WHEN o.fp IS NULL THEN 'added'
                  WHEN nn.fp IS NULL THEN 'removed'
                  WHEN o.fp <> nn.fp THEN 'changed'
                  ELSE 'unchanged' END AS status,
             o.len AS old_len, nn.len AS new_len
      FROM o FULL OUTER JOIN nn ON o.doc_id = nn.doc_id
    )
    SELECT source,
           CAST(count(CASE WHEN status = 'added' THEN 1 END) AS BIGINT) AS n_added,
           CAST(count(CASE WHEN status = 'removed' THEN 1 END) AS BIGINT) AS n_removed,
           CAST(count(CASE WHEN status = 'changed' THEN 1 END) AS BIGINT) AS n_changed,
           CAST(count(CASE WHEN status = 'unchanged' THEN 1 END) AS BIGINT) AS n_unchanged,
           CAST(coalesce(sum(CASE WHEN status = 'added' THEN new_len END), 0) AS BIGINT) AS chars_added,
           CAST(coalesce(sum(CASE WHEN status = 'removed' THEN old_len END), 0) AS BIGINT) AS chars_removed,
           CAST(coalesce(sum(CASE WHEN status = 'changed' THEN new_len - old_len END), 0) AS BIGINT) AS chars_delta
    FROM j
    GROUP BY source
    """,
    doc="Snapshot-over-snapshot corpus drift report (operators/"
    "profile.py corpus_diff): per-source added/removed/changed/"
    "unchanged doc counts and character deltas — the paired count(*)/"
    "checksum parity check the reference's users run by hand after a "
    "migration (docs/manual.md:436-443), as one plan over both "
    "snapshots. The 'old' snapshot is a deterministic derivation of "
    "documents (doc_id%7 removed, doc_id%5 text-mutated) and 'new' "
    "drops doc_id%11, so all four statuses are exercised. Scale: each "
    "side projects to (id, md5 fp, length, source) at the scan — text "
    "never shuffles — then one full-outer id join (AQE-coalesced) and "
    "a map-side-combined agg with one row per (source, status).",
)
def corpus_snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.profile import corpus_diff

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") % 5 == 0, F.upper(F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    new = docs.filter(F.col("doc_id") % 11 != 0).select("doc_id", "source", "text")
    return corpus_diff(old, new)


@register(
    "anomaly_events_zscore",
    """
    WITH v AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS HUGEINT) AS val
      FROM events
    ), st AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             sum(val) AS ssum,
             sum(val * val) AS qsum
      FROM v GROUP BY event_type
    )
    SELECT v.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(CASE WHEN (n * val - ssum) * (n * val - ssum) * (n - 1)
                              > 9 * n * (n * qsum - ssum * ssum)
                      THEN 1 END) AS BIGINT) AS n_anomalies,
           CAST(min(ssum) // min(n) AS BIGINT) AS mean_x1e6,
           CAST(max(val) AS BIGINT) AS max_value_x1e6
    FROM v JOIN st ON v.event_type = st.event_type
    GROUP BY v.event_type
    """,
    doc="Per-type z-score anomaly report over the events stream "
    "(operators/profile.py anomaly_zscore): |x - mean| > 3*stddev_samp "
    "with the test multiplied out into DECIMAL(38,0)/HUGEINT integers "
    "so the FLAG itself is engine-exact (float stddev would make "
    "boundary rows engine-dependent). Scale: per-key (n, S, Q) stats "
    "are a map-side-combined one-row-per-key aggregate that BROADCASTS "
    "back onto the fact scan — events never shuffle — and the final "
    "count is a second map-side agg. No window, no sort.",
)
def anomaly_events_zscore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.profile import anomaly_zscore

    events = load_table(spark, sf_dir, "events")
    return anomaly_zscore(events, "event_type", "value", threshold=3)


@register(
    "validate_orders_rules",
    """
    WITH n AS (SELECT count(*) AS n_rows FROM orders)
    SELECT rule, "column", n_checked, n_violations, n_violations = 0 AS passed
    FROM (
      SELECT 'not_null' AS rule, 'o_orderkey' AS "column", n.n_rows AS n_checked,
             CAST(count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS BIGINT) AS n_violations
      FROM orders, n GROUP BY n.n_rows
      UNION ALL
      SELECT 'unique', 'o_orderkey', n.n_rows,
             CAST(count(o_orderkey) - count(DISTINCT o_orderkey)
                  + greatest(count(CASE WHEN o_orderkey IS NULL THEN 1 END) - 1, 0)
               AS BIGINT)
      FROM orders, n GROUP BY n.n_rows
      UNION ALL
      SELECT 'in_range[0,100000]', 'o_totalprice', n.n_rows,
             CAST(count(CASE WHEN o_totalprice IS NOT NULL
                              AND NOT o_totalprice BETWEEN 0 AND 100000
                         THEN 1 END) AS BIGINT)
      FROM orders, n GROUP BY n.n_rows
      UNION ALL
      SELECT 'in_set[O,F]', 'o_orderstatus', n.n_rows,
             CAST(count(CASE WHEN o_orderstatus IS NOT NULL
                              AND o_orderstatus NOT IN ('O', 'F')
                         THEN 1 END) AS BIGINT)
      FROM orders, n GROUP BY n.n_rows
      UNION ALL
      SELECT 'matches[^[1-5]-[A-Z ]+$]', 'o_orderpriority', n.n_rows,
             CAST(count(CASE WHEN o_orderpriority IS NOT NULL
                              AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                         THEN 1 END) AS BIGINT)
      FROM orders, n GROUP BY n.n_rows
    )
    """,
    doc="Declarative data-quality gate (operators/profile.py "
    "validate_table): not_null / unique / in_range / in_set / matches "
    "rules over orders, one report row per rule — the programmatic "
    "form of the reference users' post-migration spot checks "
    "(docs/manual.md:436-443). All rules evaluate in ONE scan-stage "
    "aggregate (adding a rule costs an expression, not a pass); the "
    "unique rule's count(DISTINCT) is the only shuffle-bearing term, "
    "and the report unpivots a 1-row wide agg by constant explode "
    "(the profile_table shape).",
)
def validate_orders_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.profile import validate_table

    orders = load_table(spark, sf_dir, "orders")
    return validate_table(
        orders,
        [
            ("not_null", "o_orderkey"),
            ("unique", "o_orderkey"),
            ("in_range", "o_totalprice", 0, 100000),
            ("in_set", "o_orderstatus", ["O", "F"]),
            ("matches", "o_orderpriority", "^[1-5]-[A-Z ]+$"),
        ],
    )


@register(
    "anomaly_event_rate",
    """
    WITH hourly AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events
      GROUP BY event_type, CAST(ts AS DATE), extract(hour FROM ts)
    ), v AS (
      SELECT event_type, CAST(n AS HUGEINT) * 1000000 AS val FROM hourly
    ), st AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS cnt,
             sum(val) AS ssum,
             sum(val * val) AS qsum
      FROM v GROUP BY event_type
    )
    SELECT v.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(CASE WHEN (cnt * val - ssum) * (cnt * val - ssum) * (cnt - 1)
                              > 9 * cnt * (cnt * qsum - ssum * ssum)
                      THEN 1 END) AS BIGINT) AS n_anomalies,
           CAST(min(ssum) // min(cnt) AS BIGINT) AS mean_x1e6,
           CAST(max(val) AS BIGINT) AS max_value_x1e6
    FROM v JOIN st ON v.event_type = st.event_type
    GROUP BY v.event_type
    """,
    doc="RATE anomaly per event type: hourly event counts (the "
    "window_tumbling_hourly aggregate) piped into the exact z-score "
    "detector — a two-operator composition where one hour whose volume "
    "deviates >3 sigma from its type's hourly distribution flags. "
    "Counts are integers so the scaled-integer test is exact end-to-"
    "end. Scale: the hourly pre-aggregate is map-side combined down to "
    "types x hours rows BEFORE the detector's broadcast join — the "
    "detector's input is already tiny no matter how many raw events.",
)
def anomaly_event_rate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.profile import anomaly_zscore

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        F.hour("ts").alias("h"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return anomaly_zscore(hourly, "event_type", "n", threshold=3)


@register(
    "sketch_lang_rollup",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_distinct_est
    FROM documents
    GROUP BY source
    """,
    doc="Landed mergeable distinct-count sketches (operators/"
    "profile.py distinct_sketches + sketch_rollup): per-source "
    "DataSketches-HLL sketch rows re-aggregated WITHOUT touching raw "
    "data — land one sketch per (day, source) partition at 100 TB and "
    "answer quarter-wide distincts by merging kilobyte sketches. The "
    "oracle anchors on exact count(DISTINCT): at this column's tiny "
    "cardinality the HLL estimate is exactly the true count (the "
    "agg_approx_distinct exact-anchor pattern); union losslessness vs "
    "a fresh full-data sketch is pinned separately in pytest.",
)
def sketch_lang_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.profile import (
        distinct_sketches,
        sketch_rollup,
    )

    docs = load_table(spark, sf_dir, "documents")
    # land at (source, lang-hash-bucket) granularity, then roll up to
    # source — the query exercises the MERGE path, not just the agg
    landed = distinct_sketches(
        docs.withColumn("bucket", F.pmod(F.col("doc_id"), F.lit(4))),
        ["source", "bucket"],
        "lang",
    )
    return sketch_rollup(landed, ["source"])


@register(
    "anomaly_events_flags",
    """
    WITH v AS (
      SELECT event_id, event_type,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS HUGEINT) AS val
      FROM events
    ), ref AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             sum(val) AS ssum,
             sum(val * val) AS qsum
      FROM v WHERE event_id % 2 = 0 GROUP BY event_type
    )
    SELECT b.event_id, b.event_type,
           CAST(b.val AS BIGINT) AS value_x1e6,
           (n * val - ssum) * (n * val - ssum) * (n - 1)
             > 9 * n * (n * qsum - ssum * ssum) AS is_anomaly
    FROM (SELECT * FROM v WHERE event_id % 2 = 1) b
    JOIN ref ON b.event_type = ref.event_type
    """,
    doc="Per-ROW anomaly flags against a FROZEN reference window "
    "(operators/profile.py anomaly_flags + anomaly_stats): the even "
    "event_id half lands the per-type moment stats, the odd half is "
    "the scored batch. The same call is stateless in Structured "
    "Streaming (broadcast stream-static join; batch==stream parity in "
    "test_streaming.py) — this is the deployed shape of the monitor, "
    "driver-verified row by row via the exact DECIMAL(38,0)/HUGEINT "
    "z-test. Every batch key is covered by the reference window here, "
    "so no NULL verdicts (engines render nullable booleans "
    "differently; the NULL path is unit-test pinned).",
)
def anomaly_events_flags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.profile import (
        anomaly_flags,
        anomaly_stats,
    )

    ev = load_table(spark, sf_dir, "events")
    stats = anomaly_stats(ev.filter(F.col("event_id") % 2 == 0), "event_type", "value")
    batch = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "event_type", "value"
    )
    flagged = anomaly_flags(batch, "event_type", "value", threshold=3, stats=stats)
    # keys absent from the reference window get NULL verdicts; the
    # oracle inner-joins, so pin the contract here instead of assuming
    # the even half covers every odd-half key on future testdata
    return flagged.filter(F.col("is_anomaly").isNotNull()).select(
        "event_id", "event_type", "value_x1e6", "is_anomaly"
    )


@register(
    "hist_quantiles_events",
    """
    WITH t AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS HUGEINT)
               // 5000000 AS bin
      FROM events
    ), hist AS (
      SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n
      FROM t GROUP BY event_type, bin
    ), cum AS (
      SELECT event_type, bin, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS c,
             sum(n) OVER (PARTITION BY event_type) AS total
      FROM hist
    )
    SELECT event_type, q,
           CAST((min(bin) + 1) * 5000000 AS BIGINT) AS est_upper
    FROM cum, (VALUES (0.5), (0.9), (0.99)) AS qs(q)
    WHERE c >= ceil(q * total)
    GROUP BY event_type, q
    """,
    doc="Mergeable quantile estimation from landed equi-width "
    "histograms (operators/profile.py value_histogram + "
    "histogram_quantile): integer tick bins merge by SUMMING counts, "
    "so per-day landed histograms answer quarter-wide quantiles "
    "without re-scanning raw data — the quantile twin of "
    "sketch_lang_rollup, with EXACT integer arithmetic end to end "
    "(estimate = first bin whose cumulative count reaches ceil(q*n); "
    "true quantile lies within one bin width below it). The "
    "cumulative window runs over BINS, not raw rows.",
)
def hist_quantiles_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.profile import (
        histogram_quantile,
        value_histogram,
    )

    ev = load_table(spark, sf_dir, "events")
    hist = value_histogram(ev, ["event_type"], "value", bin_width=5.0)
    return histogram_quantile(hist, ["event_type"], [0.5, 0.9, 0.99], bin_width=5.0)


@register(
    "json_flatten_events",
    """
    SELECT event_id, event_type,
           CAST(props->>'$.k' AS BIGINT) AS k
    FROM events
    """,
    doc="Semi-structured landing: the JSON props column's fields "
    "promoted to typed columns (transforms/row_ops.py flatten_json) "
    "with a schema INFERRED from a bounded driver-side sample — typed "
    "columns instead of the reference CDC path's destroyed JSON values "
    "(mysqlreader.py:253-262). from_json is JVM-side codegen; "
    "production pins an explicit schema, inference is the exploration "
    "/ first-landing path.",
)
def json_flatten_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.transforms.row_ops import flatten_json

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "props")
    return flatten_json(ev, "props")


@register(
    "join_salted_skew",
    """
    SELECT 'flag_' || l_returnflag AS flag_label,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Skew-salted equi-join (operators/skew.py salted_join): "
    "lineitem's 3-value l_returnflag is the textbook hot-key join — "
    "every row of a key lands on ONE reducer in a plain shuffle join. "
    "The skewed side salts into 8 sub-keys and the dim side replicates "
    "8x, so each hot key spreads over 8 reducers. Semantics-preserving "
    "and RNG-free, so the oracle is the PLAIN join+aggregate — "
    "identical results, skew-proof plan (the agg_salted_skew pattern "
    "at the join level; the plan-level tool for when AQE's runtime "
    "skew split can't engage).",
)
def join_salted_skew_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    dim = (
        li.select("l_returnflag")
        .distinct()
        .withColumn("flag_label", F.concat(F.lit("flag_"), F.col("l_returnflag")))
    )
    joined = salted_join(li, dim, ["l_returnflag"], num_salts=8)
    return joined.groupBy("flag_label").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_qty"),
    )


@register(
    "events_transition_topk",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    ORDER BY n_transitions DESC, prev_type ASC, next_type ASC
    LIMIT 10
    """,
    doc="Event-transition mining: top-10 (prev, next) event-type "
    "bigrams over per-user time-ordered streams — the "
    "sequenceMatch-adjacent analysis next to funnel/retention "
    "(reference users run these against the ClickHouse destination). "
    "One shuffle on user_id for the lag window (event_id tie-break "
    "makes same-timestamp ordering deterministic), map-side-combined "
    "pair counts, TakeOrderedAndProject top-k with full tie-breaks.",
)
def events_transition_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    return (
        seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy(
            F.col("n_transitions").desc(),
            F.col("prev_type").asc(),
            F.col("next_type").asc(),
        )
        .limit(10)
    )


@register(
    "agg_conditional_funcs",
    """
    SELECT o_orderpriority,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderstatus = 'P') AS any_pending,
           arg_max(o_orderstatus, o_orderkey) AS status_of_latest_key
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Conditional/selective aggregate surface: count_if, "
    "bool_and/bool_or, and max_by keyed on the UNIQUE o_orderkey "
    "(a non-unique ordering key would make max_by engine-dependent on "
    "ties — the determinism rule every query here follows). All "
    "map-side-combinable single-pass aggregates.",
)
def agg_conditional_funcs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderstatus") == "P").alias("any_pending"),
        F.max_by("o_orderstatus", "o_orderkey").alias("status_of_latest_key"),
    )


@register(
    "events_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n,
           CAST(CAST(n AS HUGEINT) * 1000000
                // sum(n) OVER (PARTITION BY prev_type) AS BIGINT)
             AS prob_x1e6
    FROM pairs
    """,
    doc="Markov transition matrix over per-user event streams: the "
    "normalized form of events_transition_topk — P(next | prev) as "
    "EXACT scaled-integer probabilities (n*1e6 div row total, the "
    "truncating-div idiom) so the matrix is engine-identical. Scale: "
    "the pair counts reduce to types^2 rows before the per-prev window "
    "normalization, so the window runs over a tiny frame no matter "
    "how many raw events.",
)
def events_transition_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("event_type", F.lag("event_type").over(w).alias("prev_type"))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n").over(W.partitionBy("prev_type"))
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.expr("n * 1000000").alias("_num"),
        total.alias("_den"),
    ).select(
        "prev_type",
        "next_type",
        "n",
        F.expr("_num div _den").alias("prob_x1e6"),
    )


@register(
    "agg_salted_skew",
    """
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           min(l_orderkey) AS min_key,
           max(l_orderkey) AS max_key
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Skew-salted two-phase aggregation: groupBy(key, salt) spreads "
    "a hot key over 16 reducers, then the tiny per-salt partials merge. "
    "Semantics-preserving (algebraic aggs only, deterministic salt), so "
    "the oracle is the PLAIN group-by — identical results, skew-proof "
    "plan. lineitem's 3-value l_returnflag is exactly the shape that "
    "melts a single reducer at 100 TB.",
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.skew import salted_aggregate

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "qty_dec", F.col("l_quantity").cast("decimal(18,4)")
    )
    out = salted_aggregate(
        li,
        keys=["l_returnflag"],
        aggs={
            "n_rows": ("l_quantity", "count"),
            "sum_qty": ("qty_dec", "sum"),
            "min_key": ("l_orderkey", "min"),
            "max_key": ("l_orderkey", "max"),
        },
        num_salts=16,
    )
    return out.withColumn("sum_qty", F.col("sum_qty").cast("double"))


@register(
    "agg_approx_percentile",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90_exact,
           TRUE AS p50_within_2pct, TRUE AS p90_within_2pct
    FROM orders GROUP BY o_orderpriority
    """,
    doc="percentile_approx (mergeable sketch, constant memory per group) "
    "— the 100 TB path for agg_percentile; the exact form is its "
    "correctness anchor at test scale. Sketch values are engine-"
    "specific, so the oracle is a bounded check — but the exact "
    "percentile is in the compared output: DuckDB's quantile_cont "
    "independently verifies Spark's exact anchor (round-4 hash match, "
    "same pairing as agg_percentile), and the booleans bound-check the "
    "sketch against that verified anchor within 2%.",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    def within(approx, exact, tol=0.02):
        return F.abs(approx - exact) <= tol * F.abs(exact)

    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.percentile_approx("o_totalprice", 0.5, 1000).alias("p50_approx"),
            F.percentile_approx("o_totalprice", 0.9, 1000).alias("p90_approx"),
            F.expr("percentile(o_totalprice, 0.5)").alias("p50_raw"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90_raw"),
        )
        .select(
            "o_orderpriority",
            F.round("p50_raw", 4).alias("p50_exact"),
            F.round("p90_raw", 4).alias("p90_exact"),
            within(F.col("p50_approx"), F.col("p50_raw")).alias("p50_within_2pct"),
            within(F.col("p90_approx"), F.col("p90_raw")).alias("p90_within_2pct"),
        )
    )


@register(
    "funnel_window_3step",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_type
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts_us) AS t2
           FROM e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click'
             AND e.ts_us > s1.t1 AND e.ts_us <= s1.t1 + 259200000000
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts_us) AS t3
           FROM e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase'
             AND e.ts_us > s2.t2 AND e.ts_us <= s1.t1 + 259200000000
           GROUP BY e.user_id),
    lvl AS (
      SELECT u.user_id,
             CASE WHEN t3 IS NOT NULL THEN 3
                  WHEN t2 IS NOT NULL THEN 2
                  WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS funnel_level
      FROM (SELECT DISTINCT user_id FROM e) u
      LEFT JOIN s1 USING (user_id)
      LEFT JOIN s2 USING (user_id)
      LEFT JOIN s3 USING (user_id)
    )
    SELECT CAST(funnel_level AS INT) AS funnel_level,
           CAST(count(*) AS BIGINT) AS n_users
    FROM lvl GROUP BY funnel_level
    """,
    doc="ClickHouse-windowFunnel-style analysis: per-user depth through "
    "the view->click->purchase chain, each step after the previous and "
    "within 3 days of the chain start (greedy earliest-start semantics). "
    "Spark computes it in ONE shuffle — per-user sorted-array fold over "
    "integer-microsecond timestamps — where the oracle's staged-CTE "
    "formulation rejoins the events table once per funnel step.",
)
def funnel_window_3step_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.funnel import funnel_histogram

    ev = load_table(spark, sf_dir, "events")
    return funnel_histogram(ev, ["view", "click", "purchase"], window_seconds=259200)


@register(
    "retention_cohorts",
    """
    SELECT user_id,
           CAST(max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS INT)
             AS r0,
           CAST((max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) = 1
                 AND max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) = 1)
                AS INT) AS r1,
           CAST((max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) = 1
                 AND max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1)
                AS INT) AS r2
    FROM events GROUP BY user_id
    """,
    doc="ClickHouse-retention-style flags: r0 = user signed up, "
    "r_i = r0 AND condition_i matched (clicked / purchased). One "
    "conditional aggregation, one shuffle on the user key.",
)
def retention_cohorts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.funnel import retention_flags

    ev = load_table(spark, sf_dir, "events")
    return retention_flags(
        ev,
        [
            F.col("event_type") == "signup",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
    )


@register(
    "monitor_psi_drift",
    """
    WITH s AS (SELECT doc_id, n_chars, (doc_id % 2 = 1) AS is_new FROM documents),
    mm AS (SELECT CAST(min(n_chars) AS BIGINT) AS mn,
                  CAST(max(n_chars) AS BIGINT) AS mx
           FROM s WHERE NOT is_new),
    b AS (
      SELECT is_new,
             greatest(0, least(9,
               CAST(floor((CAST(n_chars - mn AS DOUBLE) * 10.0)
                          / greatest(mx - mn, 1)) AS BIGINT))) AS bucket
      FROM s CROSS JOIN mm
    ),
    c AS (
      SELECT bucket,
             CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS n_old,
             CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      FROM b GROUP BY bucket
    ),
    spine AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(10)),
    f AS (
      SELECT spine.bucket,
             COALESCE(c.n_old, 0) AS n_old,
             COALESCE(c.n_new, 0) AS n_new
      FROM spine LEFT JOIN c USING (bucket)
    ),
    tot AS (SELECT CAST(sum(n_old) AS BIGINT) AS t_old,
                   CAST(sum(n_new) AS BIGINT) AS t_new
            FROM f)
    SELECT bucket, n_old, n_new,
           round(((n_new + 1.0) / (t_new + 10) - (n_old + 1.0) / (t_old + 10))
                 * ln(((n_new + 1.0) / (t_new + 10))
                      / ((n_old + 1.0) / (t_old + 10))), 6) AS psi_contrib
    FROM f CROSS JOIN tot
    """,
    doc="Population Stability Index between corpus snapshots (baseline "
    "= even doc_ids, new = odd): fixed-width bins frozen from the "
    "baseline's min/max n_chars, Laplace-smoothed shares, per-bin "
    "(p_new - p_old) * ln(p_new / p_old) — the standard drift score "
    "next to the z-score and diff monitors. Counts are mergeable "
    "map-side aggregates; edges/totals are 1-row broadcasts; nothing "
    "in the plan grows with the corpus.",
)
def monitor_psi_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.profile import psi_drift

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    new = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    return psi_drift(old, new, "n_chars", n_buckets=10)


@register(
    "anomaly_events_mad",
    """
    WITH v AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vt
      FROM events
    ),
    m AS (
      SELECT event_type, CAST(2 * quantile_cont(vt, 0.5) AS BIGINT) AS med2
      FROM v GROUP BY event_type
    ),
    d AS (
      SELECT v.event_type, abs(2 * vt - med2) AS dev2, med2
      FROM v JOIN m USING (event_type)
    ),
    md AS (
      SELECT event_type, CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
      FROM d GROUP BY event_type
    )
    SELECT d.event_type AS key,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(CASE WHEN CAST(dev2 AS HUGEINT) * 20000
                              > CAST(44478 AS HUGEINT) * mad4
                      THEN 1 END) AS BIGINT) AS n_outliers,
           CAST(min(med2) AS BIGINT) AS med_x2e6,
           CAST(min(mad4) AS BIGINT) AS mad_x4e6
    FROM d JOIN md USING (event_type)
    GROUP BY d.event_type
    """,
    doc="Robust per-type outlier report (operators/profile.py "
    "anomaly_mad): |x - median| > 3 * 1.4826 * MAD — the median/MAD "
    "sibling of anomaly_events_zscore for heavy-tailed metrics, where "
    "outliers inflate mean/stddev and hide themselves (median/MAD have "
    "a 50% breakdown point). The flag is multiplied out into exact "
    "scaled integers (medians of ints are halves, so med_x2e6/mad_x4e6 "
    "are exact; dev2*20000 > 3*14826*mad4 in DECIMAL/HUGEINT) — no "
    "float boundary rows. Stats broadcast back onto the fact scan; "
    "events never shuffle, no window, no sort.",
)
def anomaly_events_mad_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.profile import anomaly_mad

    events = load_table(spark, sf_dir, "events")
    return anomaly_mad(events, "event_type", "value", threshold=3)


# identical oracle by construction: the frozen path scores the same new
# half against a baseline built from the same old half, and the bucket
# expression + smoothing tail are the shared helpers (_psi_bucket /
# _psi_from_counts) — the same move as text_bm25_frozen's frozen stats
_PSI_ORACLE = QUERIES["monitor_psi_drift"].oracle


@register(
    "monitor_psi_frozen",
    _PSI_ORACLE,
    doc="The DEPLOYMENT shape of monitor_psi_drift: the baseline corpus "
    "is reduced ONCE to a landed psi_baseline reference (per-bucket "
    "counts + frozen edges, mergeable by summing counts under equal "
    "edges) and each new batch is scored against that fixed "
    "distribution via psi_drift_frozen — batch flags cannot shift "
    "their own reference. Oracle identical to monitor_psi_drift by "
    "construction (same old/new split, shared bucket + smoothing "
    "helpers); the frozen==direct equality is additionally pinned by "
    "test_round11_ops.",
)
def monitor_psi_frozen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.profile import (
        psi_baseline,
        psi_drift_frozen,
    )

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    new = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    # production LANDS the baseline once; persisting the bucket-count
    # reference here models that instead of re-deriving it from the
    # baseline corpus per consumer (edges join + totals). Caller-owned,
    # released by bench.py clearCache.
    from pyspark import StorageLevel

    base = psi_baseline(old, "n_chars").persist(StorageLevel.MEMORY_AND_DISK)
    return psi_drift_frozen(base, new, "n_chars")


@register(
    "monitor_heavy_hitters",
    """
    WITH it AS (
      SELECT CAST(user_id AS VARCHAR) AS s FROM events
      WHERE user_id IS NOT NULL
    ),
    sk AS (
      SELECT row_idx, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM (
        SELECT r.range AS row_idx,
               ('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':' || s),
                               1, 8))::BIGINT % 1024 AS bucket
        FROM it CROSS JOIN range(3) r
      ) GROUP BY row_idx, bucket
    ),
    cand AS (SELECT DISTINCT user_id FROM events WHERE user_id < 40),
    cb AS (
      SELECT c.user_id, r.range AS row_idx,
             ('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':'
                                 || CAST(c.user_id AS VARCHAR)),
                             1, 8))::BIGINT % 1024 AS bucket
      FROM cand c CROSS JOIN range(3) r
    )
    SELECT cb.user_id,
           CAST(min(COALESCE(sk.cnt, 0)) AS BIGINT) AS est_count,
           CAST(min(COALESCE(sk.cnt, 0)) >= 75 AS INT) AS is_heavy
    FROM cb LEFT JOIN sk USING (row_idx, bucket)
    GROUP BY cb.user_id
    """,
    doc="Count-min-sketch heavy-hitter report (operators/cms.py): the "
    "event stream folds into a depth=3 x width=1024 sketch (ONE "
    "shuffle; map-side combine bounds each task's output at "
    "depth*width rows regardless of scan size), then a bounded "
    "candidate set (user_id < 40) is point-estimated against the "
    "broadcast sketch — min over the item's 3 md5-derived bucket "
    "counts, flag at est >= 75. Error is one-sided (never "
    "under-counts), the sketch is additive/mergeable and lands next "
    "to the HLL/histogram monitoring state; the corpus is never "
    "rescanned at estimate time. The oracle replays the identical "
    "md5 bucket arithmetic, so values hash-match exactly.",
)
def monitor_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.cms import (
        cms_build,
        cms_estimate,
    )

    ev = load_table(spark, sf_dir, "events")
    sketch = cms_build(ev, "user_id", depth=3, width=1024)
    cand = ev.where(F.col("user_id") < 40).select("user_id").distinct()
    est = cms_estimate(sketch, cand, "user_id", depth=3, width=1024)
    return est.select(
        "user_id",
        "est_count",
        (F.col("est_count") >= 75).cast("int").alias("is_heavy"),
    )


@register(
    "match_fuzzy_names",
    """
    WITH d AS (
      SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n,
             split_part(p_name, ' ', 2) AS blk
      FROM part WHERE p_name IS NOT NULL GROUP BY p_name
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist,
           a.n AS n_a, b.n AS n_b
    FROM d a JOIN d b ON a.blk = b.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 2
    """,
    doc="Blocked fuzzy record linkage (operators/linkage.py "
    "fuzzy_match_pairs): near-match pairs among DISTINCT part names — "
    "one dictionary groupBy (names + carried frequencies), a "
    "self-join blocked on the noun token (never all-pairs), and a "
    "JVM-native Levenshtein gate at distance <= 2. The dictionary "
    "move is the scale story: a 100 TB row stream with a "
    "million-name dictionary pairs within blocks of that dictionary, "
    "not within the corpus. Output is the reviewable merge proposal "
    "(name_a < name_b once, with both frequencies).",
)
def match_fuzzy_names_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.linkage import (
        fuzzy_match_pairs,
    )

    part = load_table(spark, sf_dir, "part")
    return fuzzy_match_pairs(
        part,
        "p_name",
        block_fn=lambda c: F.split(c, " ").getItem(1),
        max_dist=2,
    )


@register(
    "match_entity_resolve",
    """
    WITH RECURSIVE d AS (
      SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n,
             split_part(p_name, ' ', 2) AS blk
      FROM part WHERE p_name IS NOT NULL GROUP BY p_name
    ),
    pairs AS (
      SELECT a.name AS name_a, b.name AS name_b
      FROM d a JOIN d b ON a.blk = b.blk AND a.name < b.name
      WHERE levenshtein(a.name, b.name) <= 2
    ),
    edges AS (
      SELECT name_a AS u, name_b AS v FROM pairs
      UNION SELECT name_b, name_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS name, least(u, min(v)) AS component FROM reach GROUP BY u
    ),
    labeled AS (
      SELECT d.name, d.n, coalesce(c.component, d.name) AS component
      FROM d LEFT JOIN comp c USING (name)
    ),
    canon AS (
      SELECT component, name AS canonical FROM (
        SELECT component, name,
               row_number() OVER (
                 PARTITION BY component ORDER BY n DESC, name ASC
               ) AS rn
        FROM labeled
      ) WHERE rn = 1
    ),
    sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS n_names,
             CAST(sum(n) AS BIGINT) AS n_rows
      FROM labeled GROUP BY component
    )
    SELECT l.name, l.n, l.component, c.canonical,
           CAST(l.name = c.canonical AS INT) AS is_canonical,
           s.n_names, s.n_rows
    FROM labeled l JOIN canon c USING (component) JOIN sizes s USING (component)
    """,
    doc="End-to-end entity resolution (operators/linkage.py "
    "resolve_entities): the match_fuzzy_names pair proposals become an "
    "APPLICABLE mapping — connected components over the name graph "
    "(transitive closure merges a~b~c even where levenshtein(a,c) "
    "exceeds the gate; the oracle replays it as a recursive CTE, the "
    "dedup_semdedup idiom) and a golden-record election per component "
    "(highest row frequency wins so applying the mapping rewrites the "
    "fewest rows, lexicographic tie-break — one min(struct(-n, name)) "
    "aggregate, the near-dup keeper idiom). Everything runs over the "
    "DISTINCT-name dictionary: components and the election touch "
    "|dictionary| rows, never the 100 TB row stream; singletons skip "
    "the graph via the left join. Apply with one broadcast join.",
)
def match_entity_resolve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from clickhouse_mysql_data_reader_spark.operators.linkage import (
        resolve_entities,
    )

    part = load_table(spark, sf_dir, "part")
    # caller-owned dictionary persist (released by bench.py clearCache):
    # the dictionary feeds the pair generation, the components probe,
    # the label join and the election — four evaluations without it
    return resolve_entities(
        part,
        "p_name",
        block_fn=lambda c: F.split(c, " ").getItem(1),
        max_dist=2,
        storage=StorageLevel.MEMORY_AND_DISK,
    )


@register(
    "match_entity_apply",
    """
    WITH RECURSIVE d AS (
      SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n,
             split_part(p_name, ' ', 2) AS blk
      FROM part WHERE p_name IS NOT NULL GROUP BY p_name
    ),
    pairs AS (
      SELECT a.name AS name_a, b.name AS name_b
      FROM d a JOIN d b ON a.blk = b.blk AND a.name < b.name
      WHERE levenshtein(a.name, b.name) <= 2
    ),
    edges AS (
      SELECT name_a AS u, name_b AS v FROM pairs
      UNION SELECT name_b, name_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS name, least(u, min(v)) AS component FROM reach GROUP BY u
    ),
    labeled AS (
      SELECT d.name, d.n, coalesce(c.component, d.name) AS component
      FROM d LEFT JOIN comp c USING (name)
    ),
    canon AS (
      SELECT component, name AS canonical FROM (
        SELECT component, name,
               row_number() OVER (
                 PARTITION BY component ORDER BY n DESC, name ASC
               ) AS rn
        FROM labeled
      ) WHERE rn = 1
    ),
    mapping AS (
      SELECT l.name, c.canonical
      FROM labeled l JOIN canon c USING (component)
    )
    SELECT coalesce(m.canonical, p.p_name) AS name,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM part p LEFT JOIN mapping m ON p.p_name = m.name
    GROUP BY 1
    """,
    doc="The REWRITE completing entity resolution (operators/linkage.py "
    "apply_entity_mapping): the match_entity_resolve golden-record "
    "mapping applied back to the ROW STREAM — every variant spelling "
    "becomes its component's canonical via ONE broadcast left join "
    "riding the part scan (the mapping is dictionary-sized; the row "
    "stream never shuffles on content), unmapped/NULL values pass "
    "through verbatim, then the rewritten corpus aggregates per "
    "canonical — so the hash check verifies resolution AND application "
    "end-to-end: every variant's row count folds into its canonical's "
    "group and nothing else moves.",
)
def match_entity_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from clickhouse_mysql_data_reader_spark.operators.linkage import (
        apply_entity_mapping,
        resolve_entities,
    )

    part = load_table(spark, sf_dir, "part")
    mapping = resolve_entities(
        part,
        "p_name",
        block_fn=lambda c: F.split(c, " ").getItem(1),
        max_dist=2,
        storage=StorageLevel.MEMORY_AND_DISK,
    )
    rewritten = apply_entity_mapping(
        part.select("p_partkey", "p_name"), mapping, "p_name"
    )
    return rewritten.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )


@register(
    "monitor_psi_by_source",
    """
    WITH s AS (SELECT doc_id, source, n_chars, (doc_id % 2 = 1) AS is_new
               FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
    mm AS (SELECT source, CAST(min(n_chars) AS BIGINT) AS mn,
                  CAST(max(n_chars) AS BIGINT) AS mx
           FROM s WHERE NOT is_new GROUP BY source),
    b AS (
      SELECT s.source, is_new,
             greatest(0, least(9,
               CAST(floor((CAST(n_chars - mn AS DOUBLE) * 10.0)
                          / greatest(mx - mn, 1)) AS BIGINT))) AS bucket
      FROM s JOIN mm ON s.source = mm.source
    ),
    c AS (
      SELECT source, bucket,
             CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS n_old,
             CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      FROM b GROUP BY source, bucket
    ),
    spine AS (SELECT mm.source, CAST(r.range AS BIGINT) AS bucket
              FROM mm CROSS JOIN range(10) r),
    f AS (
      SELECT spine.source, spine.bucket,
             COALESCE(c.n_old, 0) AS n_old,
             COALESCE(c.n_new, 0) AS n_new
      FROM spine LEFT JOIN c
        ON c.source = spine.source AND c.bucket = spine.bucket
    ),
    tot AS (SELECT source, CAST(sum(n_old) AS BIGINT) AS t_old,
                   CAST(sum(n_new) AS BIGINT) AS t_new
            FROM f GROUP BY source)
    SELECT f.source, f.bucket, n_old, n_new,
           round(((n_new + 1.0) / (t_new + 10) - (n_old + 1.0) / (t_old + 10))
                 * ln(((n_new + 1.0) / (t_new + 10))
                      / ((n_old + 1.0) / (t_old + 10))), 6) AS psi_contrib
    FROM f JOIN tot ON f.source = tot.source
    """,
    doc="Per-source PSI drift (operators/profile.py psi_drift_by): the "
    "monitor_psi_drift score computed independently WITHIN each "
    "source, edges frozen per source from the baseline half — the "
    "dashboard view that says WHICH slice moved, where the global "
    "score averages one shifted source against nineteen stable ones "
    "into 'fine'. Keys absent from the baseline are excluded (new-"
    "source detection is corpus_snapshot_diff's job). Same mergeable-"
    "counts scale shape as the global monitor with an |keys|-row edge "
    "broadcast; each source's rows equal a standalone psi_drift on "
    "that slice (pinned by test).",
)
def monitor_psi_by_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.profile import psi_drift_by

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    new = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    return psi_drift_by(old, new, "n_chars", "source", n_buckets=10)


_FK_RELS = (
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def _fk_oracle() -> str:
    parts = [
        f"""
    SELECT '{name}' AS relation,
           (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS n_child,
           (SELECT CAST(count(*) AS BIGINT) FROM {child}
            WHERE {fk} IS NULL) AS n_null_fk,
           (SELECT CAST(count(*) AS BIGINT) FROM {child} ch
            WHERE ch.{fk} IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM {parent} p
                              WHERE p.{pk} = ch.{fk})) AS n_orphans"""
        for name, child, fk, parent, pk in _FK_RELS
    ]
    return (
        "SELECT relation, n_child, n_null_fk, n_orphans,\n"
        "       CAST(n_orphans = 0 AS INT) AS ok\n"
        "FROM (" + "\n    UNION ALL".join(parts) + "\n    )"
    )


@register(
    "validate_fk_orphans",
    _fk_oracle(),
    doc="Referential-integrity report (operators/profile.py "
    "fk_orphan_report) across the seven TPC-H foreign keys: child "
    "rows, NULL FKs, and ORPHANS (non-null FK with no parent) per "
    "relationship — the post-migration check the reference's "
    "MySQL->ClickHouse copy leaves to eyeballs (ClickHouse enforces "
    "no FK constraints, so a partial copy silently strands children). "
    "Relationships are GROUPED BY CHILD: one scan per child table "
    "with one presence left-join per FK riding it (lineitem's three "
    "FKs = one lineitem read, not three — the fact is the 100 TB "
    "side) and a single aggregate counting rows/nulls/orphans for "
    "all of them at once (broadcast for dim parents, AQE decides); "
    "output is 7 rows.",
)
def validate_fk_orphans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.profile import (
        fk_orphan_report,
    )

    # one DataFrame per table: fk_orphan_report groups relationships
    # on child identity, so lineitem's three FKs share one scan
    tables = {
        t: load_table(spark, sf_dir, t)
        for t in {x for rel in _FK_RELS for x in (rel[1], rel[3])}
    }
    rels = [
        (name, tables[child], fk, tables[parent], pk)
        for name, child, fk, parent, pk in _FK_RELS
    ]
    return fk_orphan_report(rels)


@register(
    "monitor_heavy_hitters_scan",
    """
    WITH it AS (
      SELECT user_id, CAST(user_id AS VARCHAR) AS s FROM events
      WHERE user_id IS NOT NULL
    ),
    sk AS (
      SELECT row_idx, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM (
        SELECT r.range AS row_idx,
               ('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':' || s),
                               1, 8))::BIGINT % 1024 AS bucket
        FROM it CROSS JOIN range(3) r
      ) GROUP BY row_idx, bucket
    ),
    rb AS (
      SELECT user_id, r.range AS row_idx,
             ('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':' || s),
                             1, 8))::BIGINT % 1024 AS bucket
      FROM it CROSS JOIN range(3) r
    ),
    je AS (
      SELECT rb.user_id,
             CAST(min(COALESCE(sk.cnt, 0)) AS BIGINT) AS est_count
      FROM rb LEFT JOIN sk USING (row_idx, bucket)
      GROUP BY rb.user_id
    )
    SELECT user_id, est_count FROM je WHERE est_count >= 70
    """,
    doc="Heavy-hitter MINING with no candidate list (operators/cms.py "
    "cms_heavy_hitters) — the other half of the two-pass recipe next "
    "to the point-query monitor_heavy_hitters: pass 1 builds the "
    "sketch, pass 2 re-scans the stream scoring EVERY row via depth "
    "chained broadcast joins against the per-depth sketch slices "
    "(scan-stage, the stream never shuffles) and keeps est >= 70; the "
    "only shuffle is the distinct over the survivors, bounded by "
    "(heavy items x tasks) after map-side combine. One-sided error = "
    "perfect recall; false positives sit within sketch error of the "
    "threshold and are exact-verifiable with one small groupBy.",
)
def monitor_heavy_hitters_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_mysql_data_reader_spark.operators.cms import (
        cms_heavy_hitters,
    )

    ev = load_table(spark, sf_dir, "events")
    return cms_heavy_hitters(ev, "user_id", depth=3, width=1024, threshold=70)
