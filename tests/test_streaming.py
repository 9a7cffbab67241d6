"""Streaming CDC pump and the stream-static monitoring operators, driven
by deterministic event files (FIXTURES F5 methodology) with availableNow
triggers."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_mysql_data_reader_spark.streaming.pump import (
    SnapshotStore,
    read_cdc_stream,
    start_pump,
)

PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("day", T.StringType(), True),
        T.StructField("str", T.StringType(), True),
    ]
)


def _write_events(path, events):
    path.mkdir(parents=True, exist_ok=True)
    for i, batch in enumerate(events):
        with open(path / f"batch_{i}.json", "w") as f:
            for e in batch:
                f.write(json.dumps(e) + "\n")


def _ev(op, pos, id_, s, table="log_a", file="f1"):
    return {
        "op": op, "log_file": file, "log_pos": pos,
        "schema": "db", "table": table, "id": id_, "day": "2018-01-01", "str": s,
    }


def _await_done(query, timeout=60):
    query.processAllAvailable()
    query.stop()
    query.awaitTermination(timeout)


def test_cdc_pump_end_to_end(spark, tmp_path):
    src = tmp_path / "cdc_src"
    _write_events(
        src,
        [
            [
                _ev("insert", 1, 1, "one"),
                _ev("insert", 2, 2, "two"),
                _ev("insert", 3, 10, "ten", table="log_b"),
            ],
            [
                _ev("update", 4, 1, "one-v2"),
                _ev("delete", 5, 2, "two"),
                _ev("update", 6, 10, "ten-v2", table="log_b"),
            ],
        ],
    )
    store = SnapshotStore(root=str(tmp_path / "snap"), key_cols=["id"])
    stream = read_cdc_stream(spark, str(src), PAYLOAD, max_files_per_trigger=1)
    q = start_pump(
        stream, store, str(tmp_path / "ckpt"), trigger={"availableNow": True}
    )
    _await_done(q)

    a = store.read(spark, "db", "log_a")
    got = {r["id"]: r["str"] for r in a.collect()}
    assert got == {1: "one-v2"}
    b = store.read(spark, "db", "log_b")
    assert {r["id"]: r["str"] for r in b.collect()} == {10: "ten-v2"}


def test_cdc_pump_many_tables_parallel_apply(spark, tmp_path):
    """A micro-batch touching many tables drives start_pump's driver-
    side thread pool (independent tables apply concurrently instead of
    as N serial Spark jobs); every table's snapshot lands its final
    state and a same-batch update still beats its insert per table."""
    src = tmp_path / "many_src"
    _write_events(
        src,
        [
            [_ev("insert", 10 * t + 1, 1, f"t{t}-a", table=f"log_{t}") for t in range(6)]
            + [_ev("update", 10 * t + 2, 1, f"t{t}-b", table=f"log_{t}") for t in range(6)]
        ],
    )
    store = SnapshotStore(root=str(tmp_path / "snap"), key_cols=["id"])
    q = start_pump(
        read_cdc_stream(spark, str(src), PAYLOAD),
        store,
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
        max_parallel_tables=4,
    )
    _await_done(q)
    for t in range(6):
        got = {r["id"]: r["str"] for r in store.read(spark, "db", f"log_{t}").collect()}
        assert got == {1: f"t{t}-b"}, f"table log_{t}: {got}"


def test_cdc_pump_parallel_apply_failure_fails_the_batch(spark, tmp_path):
    """Exactly-once depends on a failed table apply FAILING the whole
    micro-batch (so the trigger retries it): the thread-pool drain in
    start_pump must propagate the first per-table exception, not
    swallow it, and sibling tables' successes must not mask it."""
    import pytest

    src = tmp_path / "fail_src"
    _write_events(
        src,
        [[_ev("insert", 10 * t + 1, 1, f"t{t}-a", table=f"log_{t}") for t in range(4)]],
    )

    class PoisonedStore(SnapshotStore):
        def apply(self, spark_, db, table, changes):
            if table == "log_2":
                raise RuntimeError("poisoned table apply")
            return super().apply(spark_, db, table, changes)

    store = PoisonedStore(root=str(tmp_path / "snap"), key_cols=["id"])
    q = start_pump(
        read_cdc_stream(spark, str(src), PAYLOAD),
        store,
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
        max_parallel_tables=4,
    )
    with pytest.raises(Exception, match="poisoned table apply"):
        q.processAllAvailable()
        q.awaitTermination(60)
    q.stop()


def test_cdc_pump_resume_from_checkpoint(spark, tmp_path):
    """New files after restart are picked up; old ones not reapplied —
    the binlog-position-file contract (O5) via checkpointLocation."""
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    store = SnapshotStore(root=str(tmp_path / "snap"), key_cols=["id"])
    _write_events(src, [[_ev("insert", 1, 1, "v1")]])
    q = start_pump(
        read_cdc_stream(spark, str(src), PAYLOAD), store, ckpt,
        trigger={"availableNow": True},
    )
    _await_done(q)
    assert {r["id"]: r["str"] for r in store.read(spark, "db", "log_a").collect()} == {1: "v1"}

    with open(src / "batch_9.json", "w") as f:
        f.write(json.dumps(_ev("update", 2, 1, "v2")) + "\n")
    q2 = start_pump(
        read_cdc_stream(spark, str(src), PAYLOAD), store, ckpt,
        trigger={"availableNow": True},
    )
    _await_done(q2)
    assert {r["id"]: r["str"] for r in store.read(spark, "db", "log_a").collect()} == {1: "v2"}


def _stream_from(spark, df, tmp_path, name):
    p = str(tmp_path / name)
    df.write.mode("overwrite").parquet(p)
    return spark.readStream.schema(df.schema).parquet(p)


@pytest.mark.slow
def test_cdc_pump_fanin_tables_apply_serially_per_destination(spark, tmp_path):
    """NameResolver fan-in (dst_table): many source tables land in ONE
    snapshot dir. Those must not race each other in the thread pool —
    the pool is keyed on the resolved destination, so same-dir sources
    apply serially and no table's changes are lost."""
    from clickhouse_mysql_data_reader_spark.catalog.names import NameResolver

    src = tmp_path / "fanin_src"
    _write_events(
        src,
        [
            [
                _ev("insert", 10 * t + 1, 100 + t, f"t{t}-v", table=f"log_{t}")
                for t in range(6)
            ]
        ],
    )
    store = SnapshotStore(
        root=str(tmp_path / "snap"),
        key_cols=["id"],
        resolver=NameResolver(dst_table="merged"),
    )
    q = start_pump(
        read_cdc_stream(spark, str(src), PAYLOAD),
        store,
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
        max_parallel_tables=4,
    )
    _await_done(q)
    got = {r["id"]: r["str"] for r in store.read(spark, "db", "merged").collect()}
    assert got == {100 + t: f"t{t}-v" for t in range(6)}, got


def test_anomaly_flags_stream_matches_batch(spark, tmp_path):
    """anomaly_flags(stats=frozen) is stateless — a broadcast
    stream-static join plus scan expressions — so the SAME call runs in
    a streaming query and must flag the SAME rows as the batch twin."""
    from clickhouse_mysql_data_reader_spark.operators.profile import (
        anomaly_flags,
        anomaly_stats,
    )

    ref = spark.createDataFrame(
        [("click", float(x)) for x in [1, 2, 3, 2, 1, 2, 3, 2]]
        + [("view", 5.0), ("view", 6.0), ("view", 7.0)],
        "k string, value double",
    )
    stats = anomaly_stats(ref, "k", "value")
    batch = spark.createDataFrame(
        [(1, "click", 2.0), (2, "click", 40.0), (3, "view", 6.0), (4, "new", 1.0)],
        "event_id long, k string, value double",
    )

    expected = {
        (r["event_id"], r["value_x1e6"], r["is_anomaly"])
        for r in anomaly_flags(batch, "k", "value", threshold=2, stats=stats).collect()
    }
    assert expected == {
        (1, 2_000_000, False),
        (2, 40_000_000, True),
        (3, 6_000_000, False),
        (4, 1_000_000, None),  # unseen key: NULL, not a silent False
    }

    stream = _stream_from(spark, batch, tmp_path, "anom_src")
    q = (
        anomaly_flags(stream, "k", "value", threshold=2, stats=stats)
        .writeStream.format("memory")
        .queryName("anom_flags_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["event_id"], r["value_x1e6"], r["is_anomaly"])
        for r in spark.sql("select * from anom_flags_t").collect()
    }
    assert got == expected


def test_psi_frozen_foreachbatch_matches_batch(spark, tmp_path):
    """The drift monitor's streaming deployment: the baseline landed
    once (psi_baseline -> parquet), each micro-batch is scored against
    it via foreachBatch — per-batch results must equal the direct batch
    call on the same rows (psi_drift_frozen is a pure function of
    (landed baseline, batch))."""
    from clickhouse_mysql_data_reader_spark.operators.profile import (
        psi_baseline,
        psi_drift_frozen,
    )

    old = spark.createDataFrame(
        [(i, 100 + (i * 7) % 60) for i in range(60)], "doc_id long, n long"
    )
    base_path = str(tmp_path / "psi_baseline")
    psi_baseline(old, "n").write.parquet(base_path)
    landed = spark.read.parquet(base_path)

    new = spark.createDataFrame(
        [(i, 120 + (i * 5) % 50) for i in range(30)], "doc_id long, n long"
    )
    expected = sorted(
        tuple(r) for r in psi_drift_frozen(landed, new, "n").collect()
    )

    got: list = []

    def score(batch_df, epoch_id):
        got.extend(
            tuple(r) for r in psi_drift_frozen(landed, batch_df, "n").collect()
        )

    q = (
        _stream_from(spark, new, tmp_path, "psi_new")
        .writeStream.foreachBatch(score)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(got) == expected


def test_cms_foreachbatch_merge_matches_full_build(spark, tmp_path):
    """The count-min sketch's streaming deployment: each micro-batch
    builds its own sketch and adds it into the landed one (counts are
    additive per (row_idx, bucket)), so the landed sketch after N epochs
    equals one build over everything seen, bucket for bucket, and
    estimates never rescan the corpus."""
    from clickhouse_mysql_data_reader_spark.operators.cms import (
        cms_build,
        cms_estimate,
    )

    items = spark.createDataFrame(
        [(i, f"u{i % 7}") for i in range(40)], "event_id long, item string"
    )
    landed_path = str(tmp_path / "cms_landed")
    # epoch 0 lands an initial sketch (a prior day's traffic)
    cms_build(items.filter("event_id < 10"), "item", depth=2, width=32).write.parquet(
        landed_path
    )

    def absorb(batch_df, epoch_id):
        merged = (
            spark.read.parquet(landed_path)
            .unionByName(cms_build(batch_df, "item", depth=2, width=32))
            .groupBy("row_idx", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        # land via a temp dir + read-back (the batch plan reads the
        # path it would overwrite)
        tmp = str(tmp_path / f"cms_epoch_{epoch_id}")
        merged.write.parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(landed_path)

    q = (
        _stream_from(
            spark, items.filter("event_id >= 10"), tmp_path, "cms_stream"
        )
        .writeStream.foreachBatch(absorb)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    landed = spark.read.parquet(landed_path)
    full = cms_build(items, "item", depth=2, width=32)
    assert sorted(tuple(r) for r in landed.select(*full.columns).collect()) == sorted(
        tuple(r) for r in full.collect()
    )
    # and the landed sketch answers point queries exactly here (7 items
    # in 2x32 buckets, no forced collisions): u0..u4 appear 6x, u5/u6 5x
    cand = spark.createDataFrame([(f"u{k}",) for k in range(7)], "item string")
    est = {
        r["item"]: r["est_count"]
        for r in cms_estimate(landed, cand, "item", depth=2, width=32).collect()
    }
    assert all(est[f"u{k}"] >= (6 if k < 5 else 5) for k in range(7))
