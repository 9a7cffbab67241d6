"""End-to-end mergeable-monitoring lifecycle (round-8 verdict item #6):
land per-batch `anomaly_stats` / `distinct_sketches` / `value_histogram`
facts through SnapshotStore (one immutable partition per batch — the
land-small-daily-facts shape their docstrings promise), then pin that
folding the LANDED rows equals the from-scratch computation over the
concatenated raw data — the batch≡increment discipline the dedup state
tables already have, applied to the ops loop."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.operators.profile import (
    anomaly_stats,
    anomaly_zscore,
    distinct_sketches,
    histogram_quantile,
    sketch_rollup,
    value_histogram,
)
from clickhouse_mysql_data_reader_spark.streaming.pump import MANIFEST, SnapshotStore

BIN_W = 5.0

_B1 = [
    ("a", 1.0, 100), ("a", 2.5, 101), ("a", 17.25, 100),
    ("b", 7.0, 200), ("b", 8.5, 201), ("b", 40.0, 202),
]
_B2 = [
    ("a", 50.0, 102), ("a", 3.0, 100),
    ("b", 9.0, 201), ("c", 3.0, 300), ("c", 3.25, 301), ("c", 12.0, 300),
]


def _events(spark, rows):
    return spark.createDataFrame(rows, "k string, value double, user long")


def _land(spark, store, table, facts, batch_tag, pos0):
    """Land one batch's fact rows as an immutable SnapshotStore
    partition (partition_expr='batch'): the daily-append lifecycle —
    earlier batches' files are never rewritten."""
    changes = (
        facts.withColumn("batch", F.lit(batch_tag))
        .withColumn("op", F.lit("insert"))
        .withColumn("log_file", F.lit("f1"))
        .withColumn("log_pos", F.monotonically_increasing_id() + pos0)
    )
    store.apply(spark, "mon", table, changes)


def _partitions(store, table):
    """Live partition values, as the table's MANIFEST.json lists them."""
    with open(os.path.join(store.path_for("mon", table), MANIFEST)) as f:
        return set(json.load(f)["partitions"])


def _fold_stats(landed):
    """(n, S, Q) moments are additive: fold landed `anomaly_stats`
    rows by per-key SUM."""
    return landed.groupBy("key").agg(
        *(F.sum(c).cast("decimal(38,0)").alias(c) for c in ("n_obs", "sum_x", "sum_sq"))
    )


def test_monitoring_facts_land_merge_equals_from_scratch(spark, tmp_path):
    b1, b2 = _events(spark, _B1), _events(spark, _B2)
    both = b1.unionByName(b2)

    stats_store = SnapshotStore(
        root=str(tmp_path / "stats"), key_cols=["key"], partition_expr="batch"
    )
    sk_store = SnapshotStore(
        root=str(tmp_path / "sk"), key_cols=["k"], partition_expr="batch"
    )
    hist_store = SnapshotStore(
        root=str(tmp_path / "hist"), key_cols=["k", "bin"], partition_expr="batch"
    )

    for tag, batch, pos0 in (("d1", b1, 0), ("d2", b2, 1000)):
        _land(spark, stats_store, "anomaly_stats",
              anomaly_stats(batch, "k", "value"), tag, pos0)
        _land(spark, sk_store, "sketches",
              distinct_sketches(batch, ["k"], "user"), tag, pos0)
        _land(spark, hist_store, "hist",
              value_histogram(batch, ["k"], "value", BIN_W), tag, pos0)

    # both batches live as separate immutable partitions
    assert _partitions(stats_store, "anomaly_stats") == {"d1", "d2"}

    # --- anomaly stats: landed-fold == from-scratch, exactly ----------
    merged = _fold_stats(stats_store.read(spark, "mon", "anomaly_stats"))
    fresh = anomaly_stats(both, "k", "value")
    as_rows = lambda df: sorted(
        (r["key"], int(r["n_obs"]), int(r["sum_x"]), int(r["sum_sq"]))
        for r in df.collect()
    )
    assert as_rows(merged) == as_rows(fresh)

    # the merged landed stats drive the frozen-stats detector
    # identically to stats computed over the concatenated raw data
    day3 = _events(spark, [("a", 45.0, 1), ("a", 2.0, 2), ("c", 3.1, 3)])
    via_merged = sorted(
        map(tuple, anomaly_zscore(day3, "k", "value", 2, stats=merged).collect())
    )
    via_fresh = sorted(
        map(tuple, anomaly_zscore(day3, "k", "value", 2, stats=fresh).collect())
    )
    assert via_merged == via_fresh

    # --- HLL sketches: rollup of landed rows == fresh sketch ----------
    landed_sk = sk_store.read(spark, "mon", "sketches")
    rolled = {
        r["k"]: (int(r["n_rows"]), float(r["n_distinct_est"]))
        for r in sketch_rollup(landed_sk, ["k"]).collect()
    }
    fresh_sk = {
        r["k"]: (int(r["n_rows"]), float(r["n_distinct_est"]))
        for r in distinct_sketches(both, ["k"], "user").collect()
    }
    assert rolled == fresh_sk  # HLL union is lossless: same estimate
    # user 100/201 repeat across batches — the merged estimate must
    # count them once (tiny cardinalities: HLL is exact here)
    assert rolled["a"] == (5, 3.0) and rolled["b"] == (4, 3.0)
    # global rollup (keys=[]) == one fresh global sketch
    g_rolled = sketch_rollup(landed_sk, []).collect()[0]
    g_fresh = distinct_sketches(
        both.withColumn("_g", F.lit(1)), ["_g"], "user"
    ).collect()[0]
    assert (int(g_rolled["n_rows"]), float(g_rolled["n_distinct_est"])) == (
        int(g_fresh["n_rows"]), float(g_fresh["n_distinct_est"])
    )

    # --- histograms: summed landed bins == from-scratch, bit-exact ----
    landed_h = hist_store.read(spark, "mon", "hist")
    merged_h = landed_h.groupBy("k", "bin").agg(F.sum("n").alias("n"))
    hist_rows = lambda df: sorted(
        (r["k"], int(r["bin"]), int(r["n"])) for r in df.collect()
    )
    fresh_h = value_histogram(both, ["k"], "value", BIN_W)
    assert hist_rows(merged_h) == hist_rows(fresh_h)
    # and the landed-merged histogram answers quantiles identically
    q = lambda df: sorted(
        (r["k"], float(r["q"]), int(r["est_upper"]))
        for r in histogram_quantile(df, ["k"], [0.5, 0.9], BIN_W).collect()
    )
    assert q(merged_h) == q(fresh_h)


def test_cms_lands_merges_and_estimates_like_fresh(spark, tmp_path):
    """Count-min sketches get the same landed lifecycle as HLL
    sketches and histograms (round-11 verdict item #5): land one CMS
    per batch as an immutable SnapshotStore partition, sum the LANDED
    rows per bucket, and both point estimates and candidate-free heavy-
    hitter mining over the merged sketch equal the from-scratch sketch
    over the concatenated raw data — counts are additive, so the
    equality is exact, not approximate."""
    from clickhouse_mysql_data_reader_spark.operators.cms import (
        cms_build,
        cms_estimate,
        cms_heavy_hitters,
    )

    b1, b2 = _events(spark, _B1), _events(spark, _B2)
    both = b1.unionByName(b2)
    store = SnapshotStore(
        root=str(tmp_path / "cms"),
        key_cols=["row_idx", "bucket"],
        partition_expr="batch",
    )
    for tag, batch, pos0 in (("d1", b1, 0), ("d2", b2, 1000)):
        _land(spark, store, "cms", cms_build(batch, "user", depth=3, width=64),
              tag, pos0)
    assert _partitions(store, "cms") == {"d1", "d2"}

    landed = store.read(spark, "mon", "cms")
    merged = landed.groupBy("row_idx", "bucket").agg(F.sum("cnt").alias("cnt"))
    fresh = cms_build(both, "user", depth=3, width=64)
    sk_rows = lambda df: sorted(
        (int(r["row_idx"]), int(r["bucket"]), int(r["cnt"]))
        for r in df.collect()
    )
    assert sk_rows(merged) == sk_rows(fresh)

    # the merged landed sketch answers point queries like fresh —
    # user 100 and 201 repeat ACROSS batches, so a non-additive merge
    # would under-count exactly these
    cand = spark.createDataFrame([(100,), (201,), (300,), (999,)], "user long")
    est = lambda sk: {
        int(r["user"]): int(r["est_count"])
        for r in cms_estimate(sk, cand, "user", depth=3, width=64).collect()
    }
    got = est(merged)
    assert got == est(fresh)
    assert got[100] >= 3 and got[201] >= 2  # cross-batch totals visible

    # and drives candidate-free mining identically (sketch= seam)
    hh = lambda sk: sorted(
        (int(r["user"]), int(r["est_count"]))
        for r in cms_heavy_hitters(
            both, "user", depth=3, width=64, threshold=2, sketch=sk
        ).collect()
    )
    assert hh(merged) == hh(fresh) and hh(merged)


def test_monitoring_fact_landing_is_idempotent_per_batch(spark, tmp_path):
    """A replayed batch landing (same partition value, recomputed fact
    rows) must leave the folded view unchanged — the partition is
    REPLACED via the last-write-wins merge, not double-counted."""
    store = SnapshotStore(
        root=str(tmp_path / "stats"), key_cols=["key"], partition_expr="batch"
    )
    b1 = _events(spark, _B1)
    _land(spark, store, "anomaly_stats", anomaly_stats(b1, "k", "value"), "d1", 0)
    # replay the SAME batch landing (crash after commit, redelivery)
    _land(spark, store, "anomaly_stats", anomaly_stats(b1, "k", "value"), "d1", 0)
    merged = _fold_stats(store.read(spark, "mon", "anomaly_stats"))
    fresh = anomaly_stats(b1, "k", "value")
    as_rows = lambda df: sorted(
        (r["key"], int(r["n_obs"]), int(r["sum_x"]), int(r["sum_sq"]))
        for r in df.collect()
    )
    assert as_rows(merged) == as_rows(fresh)
