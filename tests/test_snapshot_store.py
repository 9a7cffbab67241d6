"""SnapshotStore durability + partition-aware merge (VERDICT r2 item 1).

The store models ReplacingMergeTree's partitioned last-write-wins
contract (reference tablesqlbuilder.py:393-398): commits are an atomic
manifest swap, and a merge rewrites ONLY the partitions the batch
touches.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import pytest

from clickhouse_mysql_data_reader_spark.streaming.pump import MANIFEST, SnapshotStore


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "op string, log_file string, log_pos long, id long, day string, str string"
    )


def _rows(op, pos, id_, day, s):
    return (op, "f1", pos, id_, day, s)


def _state(spark, store, db="db", table="t"):
    df = store.read(spark, db, table)
    return {r["id"]: (r["day"], r["str"]) for r in df.collect()}


def _store(tmp_path, **kw):
    kw.setdefault("partition_expr", "substring(day, 1, 7)")
    return SnapshotStore(root=str(tmp_path / "snap"), key_cols=["id"], **kw)


def _partition_paths(store, db="db", table="t"):
    """Live partition value -> data dir, as the table's MANIFEST.json lists it."""
    tdir = store.path_for(db, table)
    mp = os.path.join(tdir, MANIFEST)
    if not os.path.exists(mp):
        return {}
    with open(mp) as f:
        parts = json.load(f)["partitions"]
    return {pv: os.path.join(tdir, rel) for pv, rel in parts.items()}


def _data_files(part_dir):
    out = {}
    for p in glob.glob(os.path.join(part_dir, "*.parquet")):
        out[os.path.relpath(p, part_dir)] = hashlib.sha256(
            open(p, "rb").read()
        ).hexdigest()
    return out


def test_apply_and_read_partitioned(spark, tmp_path):
    store = _store(tmp_path)
    store.apply(
        spark, "db", "t",
        _changes(spark, [
            _rows("insert", 1, 1, "2018-01-05", "jan"),
            _rows("insert", 2, 2, "2018-02-05", "feb"),
        ]),
    )
    assert _state(spark, store) == {1: ("2018-01-05", "jan"), 2: ("2018-02-05", "feb")}
    assert set(_partition_paths(store)) == {"2018-01", "2018-02"}


def test_untouched_partition_files_byte_identical(spark, tmp_path):
    """A merge touching only February must leave January's files —
    paths AND bytes — exactly as the previous commit wrote them."""
    store = _store(tmp_path)
    store.apply(
        spark, "db", "t",
        _changes(spark, [
            _rows("insert", 1, 1, "2018-01-05", "jan"),
            _rows("insert", 2, 2, "2018-02-05", "feb"),
        ]),
    )
    jan_dir = _partition_paths(store)["2018-01"]
    before = _data_files(jan_dir)
    assert before  # sanity: january holds data files

    store.apply(
        spark, "db", "t",
        _changes(spark, [_rows("update", 3, 2, "2018-02-05", "feb-v2")]),
    )
    after_paths = _partition_paths(store)
    assert after_paths["2018-01"] == jan_dir  # same generation dir
    assert _data_files(jan_dir) == before  # byte-identical
    # february moved to a new generation and carries the update
    assert after_paths["2018-02"] != jan_dir
    assert _state(spark, store)[2] == ("2018-02-05", "feb-v2")


def test_crash_between_write_and_commit_preserves_snapshot(spark, tmp_path, monkeypatch):
    """Kill the commit after the generation write but before the
    manifest swap: the snapshot must still read the pre-batch content,
    and a retry of the same batch must land cleanly."""
    store = _store(tmp_path)
    store.apply(spark, "db", "t", _changes(spark, [_rows("insert", 1, 1, "2018-01-05", "v1")]))
    pre = _state(spark, store)

    real_commit = SnapshotStore._commit_manifest

    def crash(self, tdir, manifest):
        raise RuntimeError("simulated crash before manifest swap")

    monkeypatch.setattr(SnapshotStore, "_commit_manifest", crash)
    batch2 = [_rows("update", 2, 1, "2018-01-05", "v2")]
    with pytest.raises(RuntimeError):
        store.apply(spark, "db", "t", _changes(spark, batch2))
    # pre-crash state fully intact (the old store's overwrite would have
    # deleted the live dir before this point)
    assert _state(spark, store) == pre

    monkeypatch.setattr(SnapshotStore, "_commit_manifest", real_commit)
    store.apply(spark, "db", "t", _changes(spark, batch2))  # retry
    assert _state(spark, store) == {1: ("2018-01-05", "v2")}
    # the crashed orphan generation was cleared, manifest is consistent
    tdir = store.path_for("db", "t")
    gens = {d for d in os.listdir(tdir) if d.startswith("gen-")}
    live = {os.path.basename(os.path.dirname(p)) for p in _partition_paths(store).values()}
    assert gens == live


def test_delete_all_keys_leaves_readable_empty_snapshot(spark, tmp_path):
    store = _store(tmp_path)
    store.apply(spark, "db", "t", _changes(spark, [_rows("insert", 1, 1, "2018-01-05", "x")]))
    store.apply(spark, "db", "t", _changes(spark, [_rows("delete", 2, 1, "2018-01-05", "x")]))
    df = store.read(spark, "db", "t")
    assert df is not None and df.count() == 0
    assert set(df.columns) == {"id", "day", "str"}
    assert _partition_paths(store) == {}


def test_single_data_write_per_commit(spark, tmp_path):
    """The commit writes the merged rows exactly once: one generation
    dir per apply, and the manifest references only current gens."""
    store = _store(tmp_path)
    store.apply(spark, "db", "t", _changes(spark, [_rows("insert", 1, 1, "2018-01-05", "a")]))
    store.apply(spark, "db", "t", _changes(spark, [_rows("insert", 2, 2, "2018-01-06", "b")]))
    tdir = store.path_for("db", "t")
    gens = sorted(d for d in os.listdir(tdir) if d.startswith("gen-"))
    # gen-1 was superseded (jan touched twice) and garbage-collected
    assert gens == ["gen-000002"]
    assert os.path.exists(os.path.join(tdir, MANIFEST))


def test_default_single_partition_mode(spark, tmp_path):
    """Without partition_expr the store degrades to one logical
    partition — same semantics as before, still atomic."""
    store = SnapshotStore(root=str(tmp_path / "snap"), key_cols=["id"])
    store.apply(spark, "db", "t", _changes(spark, [_rows("insert", 1, 1, "2018-01-05", "a")]))
    store.apply(spark, "db", "t", _changes(spark, [_rows("update", 2, 1, "2018-01-05", "a2")]))
    assert _state(spark, store) == {1: ("2018-01-05", "a2")}


def test_partition_pruned_read(spark, tmp_path):
    """read(partitions=[...]) lists only the selected partitions' files
    (manifest-level pruning): one month back from a multi-month
    snapshot reads 1/N of the data dirs; unknown values read as empty
    with the landed schema."""
    store = _store(tmp_path)
    store.apply(
        spark, "db", "t",
        _changes(spark, [
            _rows("insert", 1, 1, "2018-01-05", "jan"),
            _rows("insert", 2, 2, "2018-02-05", "feb"),
            _rows("insert", 3, 3, "2018-02-06", "feb2"),
        ]),
    )
    jan = store.read(spark, "db", "t", partitions=["2018-01"])
    assert {r["id"] for r in jan.collect()} == {1}
    # pruning happens at the file-listing level, not as a filter
    assert all("2018-01" in f for f in jan.inputFiles())
    feb = store.read(spark, "db", "t", partitions=["2018-02"])
    assert {r["id"] for r in feb.collect()} == {2, 3}
    none = store.read(spark, "db", "t", partitions=["2099-12"])
    assert none.count() == 0 and set(none.columns) == set(jan.columns)
    # default: everything
    assert store.read(spark, "db", "t").count() == 3


def test_read_uses_manifest_schema_without_a_job(spark, tmp_path):
    """read() takes the schema the manifest records, so building the
    frame starts no Spark job (no parquet schema inference)."""
    store = _store(tmp_path)
    store.apply(
        spark, "db", "t",
        _changes(spark, [
            _rows("insert", 1, 1, "2018-01-05", "jan"),
            _rows("insert", 2, 2, "2018-02-05", "feb"),
        ]),
    )
    sc = spark.sparkContext
    sc.setJobGroup("snapshot_read", "build the read frame")
    try:
        df = store.read(spark, "db", "t")
        assert sc.statusTracker().getJobIdsForGroup("snapshot_read") == []
    finally:
        sc.setJobGroup(None, None)
    assert df.columns == ["id", "day", "str"]
    assert _state(spark, store) == {1: ("2018-01-05", "jan"), 2: ("2018-02-05", "feb")}


def test_profile_and_validate_landed_state(spark, tmp_path):
    store = _store(tmp_path)
    from clickhouse_mysql_data_reader_spark.operators.profile import (
        profile_table,
        validate_table,
    )

    assert store.read(spark, "db", "t") is None  # nothing landed

    store.apply(
        spark,
        "db",
        "t",
        _changes(
            spark,
            [
                _rows("insert", 1, 1, "2018-01-02", "a"),
                _rows("insert", 2, 2, "2018-01-03", "b"),
                _rows("update", 3, 1, "2018-01-02", "a2"),  # latest wins
            ],
        ),
    )
    landed = store.read(spark, "db", "t")
    prof = {r["column"]: r for r in profile_table(landed).collect()}
    assert prof["id"]["n_rows"] == 2
    assert prof["id"]["n_distinct"] == 2
    assert prof["str"]["min_value"] == "a2"

    # the latest-wins invariant, as a rule gate over the landed state
    checks = {
        r["rule"]: r
        for r in validate_table(landed, [("unique", "id"), ("not_null", "id")]).collect()
    }
    assert checks["unique"]["passed"] is True
    assert checks["not_null"]["n_violations"] == 0
