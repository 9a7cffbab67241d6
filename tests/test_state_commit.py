"""Crash injection at every commit point of ``CurationState``.

A state commit writes its files under a fresh generation and then adds
one manifest version. These tests raise at each step — after each table
write of an increment (line fps and split assignment included), after
the Bloom and manifest files, inside the post-commit garbage collection,
and inside ``compact`` and a backfill — and check that (1) the state
reads as exactly the snapshot before or after the commit, in every
table, and (2) a plain retry (no epoch tag) lands the batch exactly
once."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from clickhouse_mysql_data_reader_spark.curation import (
    CurationConfig,
    CurationState,
    curate_increment,
)

_CFG = CurationConfig(
    near_dup_jaccard=0.5,
    min_quality_score=0.0,
    drop_repetitive=False,
    redact_pii=False,
    dedup_lines=True,
    split_fractions=(("train", 0.5), ("test", 0.5)),
)
_TABLES = ("fingerprints", "shingles", "bands", "line_fps", "splits")
_BANNER = "accept all cookies to continue reading this site today"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _text(topic: str) -> str:
    return f"{topic} " + " ".join(f"{topic}{j}" for j in range(24))


def _b1(spark):
    return _docs(spark, [(1, "web", _text("river") + "\n" + _BANNER),
                         (2, "web", _text("mountain"))])


def _b2(spark):
    # fresh docs; 12 repeats the banner line landed by batch 1
    return _docs(spark, [(11, "web", _text("harvest")),
                         (12, "web", _text("winter") + "\n" + _BANNER)])


class Crash(RuntimeError):
    pass


def _crash_after(monkeypatch, n: int) -> None:
    """Raise right after the n-th file write (a table's parquet write, or
    a Bloom/manifest file), or — for n = 0 — inside the garbage
    collection that follows a successful commit (which the commit
    survives: collection is best-effort)."""
    real_parquet, real_put = DataFrameWriter.parquet, CurationState._put
    count = [0]

    def step():
        count[0] += 1
        if count[0] == n:
            raise Crash(f"crash after write {n}")

    def parquet(self, *a, **kw):
        real_parquet(self, *a, **kw)
        step()

    def put(self, *a, **kw):
        real_put(self, *a, **kw)
        step()

    def gc(self, *a, **kw):
        raise Crash("crash during gc")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(CurationState, "_put", put)
    if n == 0:
        monkeypatch.setattr(CurationState, "_gc", gc)


def _snapshot(spark, state, tables=_TABLES) -> dict:
    """Every table's rows as a sorted multiset (absent table: None)."""
    return {
        t: sorted(tuple(r) for r in state._read(spark, t, None, None).collect())
        if state.landed(spark, t)
        else None
        for t in tables
    }


def _state(path) -> CurationState:
    return CurationState(str(path), bloom_bits=1 << 12)


def test_write_crash_at_every_commit_point_then_plain_retry(spark, tmp_path, monkeypatch):
    base = tmp_path / "base"
    curate_increment(_b1(spark), _state(base), _CFG)
    before = _snapshot(spark, _state(base))
    # batch 2's commit inputs, as curate_increment hands them to write()
    fps_out, sp_out = {}, {}
    kept = curate_increment(
        _b2(spark), _state(base), _CFG, update_state=False,
        line_fps_out=fps_out, splits_out=sp_out,
    ).localCheckpoint()
    batch = dict(
        line_fps=fps_out["line_fps"].localCheckpoint(),
        split_comps=sp_out["comps"].localCheckpoint(),
        split_fractions=_CFG.split_fractions,
    )
    clean = tmp_path / "clean"
    shutil.copytree(base, clean)
    _state(clean).write(kept, **batch)
    after = _snapshot(spark, _state(clean))
    assert after != before

    # 5 table writes, the Bloom file, the manifest temp file, then gc
    for n in (1, 2, 3, 4, 5, 6, 7, 0):
        d = tmp_path / f"crash{n}"
        shutil.copytree(base, d)
        state = _state(d)
        with monkeypatch.context() as mp:
            _crash_after(mp, n)
            if n == 0:
                state.write(kept, **batch)
            else:
                with pytest.raises(Crash):
                    state.write(kept, **batch)
        assert _snapshot(spark, state) == (after if n == 0 else before), n
        assert state.read_bloom(spark) == _state(base if n else clean).read_bloom(spark)

    # a plain retry (epoch_id=None) of the whole increment lands the
    # batch exactly once: after the increment's own commit crashed with
    # its fingerprint table written, and after the last crash point
    inc = tmp_path / "inc"
    shutil.copytree(base, inc)
    with monkeypatch.context() as mp:
        _crash_after(mp, 1)
        with pytest.raises(Crash):
            curate_increment(_b2(spark), _state(inc), _CFG)
    for d in (inc, tmp_path / "crash7"):
        state = _state(d)
        got = {r["doc_id"] for r in curate_increment(_b2(spark), state, _CFG).collect()}
        assert got == {11, 12}
        assert _snapshot(spark, state) == after, d
        assert state.read_bloom(spark) == _state(clean).read_bloom(spark)


def test_compact_crash_keeps_one_snapshot(spark, tmp_path, monkeypatch):
    state = _state(tmp_path / "st")
    state.write(_b1(spark), epoch_id=0, run_id="r")
    state.write(_b2(spark), epoch_id=1, run_id="r")
    tables = CurationState._CORE
    before = _snapshot(spark, state, tables)
    gens = {t: list(state._manifest(spark)["tables"][t]) for t in tables}
    assert all(len(g) == 2 for g in gens.values())

    # two table writes, the Bloom file, the manifest temp file
    for n in (1, 3, len(tables) + 1, len(tables) + 2):
        with monkeypatch.context() as mp:
            _crash_after(mp, n)
            with pytest.raises(Crash):
                state.compact(spark)
        assert _snapshot(spark, state, tables) == before
        assert {t: state._manifest(spark)["tables"][t] for t in tables} == gens

    with monkeypatch.context() as mp:  # committed; collection failed
        _crash_after(mp, 0)
        state.compact(spark)
    assert _snapshot(spark, state, tables) == before
    assert all(len(state._manifest(spark)["tables"][t]) == 1 for t in tables)
    stale = {rel.split("/")[0] for g in gens.values() for rel in g}
    assert all((tmp_path / "st" / g).exists() for g in stale)

    # the next commit collects the superseded generations; tags survive
    report = state.compact(spark)
    assert set(report) == set(tables)
    assert _snapshot(spark, state, tables) == before
    assert not any((tmp_path / "st" / g).exists() for g in stale)
    assert state.read_bloom(spark) is not None
    assert {r["doc_id"] for r in state.fingerprints(spark, 1, "r").collect()} == {1, 2}


def test_backfill_crash_lands_nothing_then_retry_lands_all(spark, tmp_path, monkeypatch):
    sd = tmp_path / "st"
    CurationState(str(sd)).write(_b1(spark))
    upgraded = CurationState(str(sd), jaccard_exact_threshold=0.8)
    assert not upgraded.landed(spark, "prefixes")

    with monkeypatch.context() as mp:
        _crash_after(mp, 1)  # the prefix table written, never committed
        with pytest.raises(Crash):
            upgraded.ensure_prefixes(spark)
    assert not upgraded.landed(spark, "prefixes")
    # nor were the thresholds pinned: a prefix-less handle still writes
    CurationState(str(sd)).write(_docs(spark, [(5, "web", _text("desert"))]))

    upgraded.ensure_prefixes(spark)
    docs = {r["doc_id"] for r in upgraded.prefixes(spark).select("doc_id").collect()}
    assert docs == {1, 2, 5}


def test_small_write_lands_each_table_in_few_files(spark, tmp_path):
    """A batch-sized commit lands each table of its generation in a file
    or two, not one file per shuffle partition: the session lets AQE
    coalesce the cached shingle relation the doc tables derive from."""
    docs = spark.range(0, 100, numPartitions=2).select(
        F.col("id").alias("doc_id"),
        F.lit("web").alias("source"),
        F.format_string(
            "doc %d tells of the %d rivers and hills of the north", "id", F.col("id") % 7
        ).alias("text"),
    )
    state = _state(tmp_path / "st")
    state.write(docs)
    tables = state._manifest(spark)["tables"]
    for t in CurationState._CORE:
        [rel] = tables[t]
        n_files = len(list((tmp_path / "st" / rel).glob("*.parquet")))
        assert 1 <= n_files <= 2, (t, n_files)
