"""Output checks and small statistics, independent of the program.

- Query results are compared with the registry's DuckDB oracle SQL run
  over the generated source, at the pandas level: columns sorted by
  name, every cell stringified, rows sorted (the repository's oracle
  comparison rules).
- The final pump snapshot is compared with a last-write-wins fold of
  the whole event log, done here in plain Python.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math
import os
import statistics

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count); the maximum when there are too
    few samples for that."""
    s, n = sorted(xs), len(xs)
    if n <= 10:
        return s[-1], 100.0, n
    k = n - 11  # ten samples lie above index k
    return s[k], round(100.0 * (k + 1) / n, 1), n


def duck_views(src: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}/{t}.parquet/*.parquet')")
    return con


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "None"
    if isinstance(v, decimal.Decimal):
        v = float(v)  # DuckDB hands DECIMAL results to pandas as float64
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, np.ndarray):
        return "[" + ", ".join(_cell(x) for x in v.tolist()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_cell(x) for x in v) + "]"
    return str(v)


def _close(a: str, b: str) -> bool:
    """Equal; or doubles a few units in the last place apart, because
    DuckDB converts a DECIMAL result to a double that can be the
    neighbour of the one Python makes from Spark's exact Decimal
    (``2201847595.0171`` against ``2201847595.0171003``); or numbers
    printed with at least three decimals that are one unit apart in the
    last one: Spark rounds an exact .5 tie half-up where DuckDB's binary
    double may round it down (``round(avg(x), 4)`` on a tie, for
    example)."""
    if a == b:
        return True
    try:
        x, y = float(a), float(b)
    except ValueError:
        return False
    if abs(x - y) <= 4 * math.ulp(max(abs(x), abs(y))):
        return True
    places = max(len(v.partition(".")[2]) for v in (a, b))
    return places >= 3 and abs(x - y) <= 10.0 ** -places * 1.000001


def same_result(got: list[tuple[str, ...]], want: list[tuple[str, ...]]) -> bool:
    """Compare two ``signature`` lists cell by cell with ``_close``."""
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


def signature(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in row)
            for row in pdf[cols].itertuples(index=False, name=None)]
    return [tuple(cols)] + sorted(rows)


# -- pump ------------------------------------------------------------------

PAYLOAD = ("id", "grp", "amount", "note")


def lww_fold(event_dirs: list[str]) -> dict[str, set[tuple]]:
    """Final state per table of every event under ``event_dirs``: the
    last event per key in (log_file, log_pos) order wins; a last delete
    removes the key."""
    last: dict[tuple[str, int], dict] = {}
    for d in event_dirs:
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name)) as f:
                for line in f:
                    e = json.loads(line)
                    k = (e["table"], e["id"])
                    if k not in last or (e["log_file"], e["log_pos"]) > (
                            last[k]["log_file"], last[k]["log_pos"]):
                        last[k] = e
    out: dict[str, set[tuple]] = {}
    for (table, _), e in last.items():
        rows = out.setdefault(table, set())
        if e["op"] != "delete":
            rows.add(tuple(e[c] for c in PAYLOAD))
    return out


def snapshot_files(root: str) -> dict[str, list[str]]:
    """Live data files per table, as listed by each table's manifest."""
    out = {}
    for db in sorted(os.listdir(root)):
        for table in sorted(os.listdir(os.path.join(root, db))):
            tdir = os.path.join(root, db, table)
            with open(os.path.join(tdir, "MANIFEST.json")) as f:
                manifest = json.load(f)
            out[table] = [os.path.join(tdir, rel, x)
                          for rel in manifest["partitions"].values()
                          for x in sorted(os.listdir(os.path.join(tdir, rel)))
                          if x.endswith(".parquet")]
    return out


def snapshot_partitions(root: str) -> dict[str, int]:
    """Live partitions per table, from each table's manifest."""
    out = {}
    for db in sorted(os.listdir(root)):
        for table in sorted(os.listdir(os.path.join(root, db))):
            with open(os.path.join(root, db, table, "MANIFEST.json")) as f:
                out[table] = len(json.load(f)["partitions"])
    return out


def read_snapshot(root: str) -> dict[str, set[tuple]]:
    out = {}
    for table, files in snapshot_files(root).items():
        rows = out.setdefault(table, set())
        for f in files:
            t = pq.read_table(f, columns=list(PAYLOAD)).to_pydict()
            rows.update(zip(*(t[c] for c in PAYLOAD)))
    return out


def diff_summary(got: dict[str, set], want: dict[str, set]) -> str:
    parts = []
    for t in sorted(set(got) | set(want)):
        g, w = got.get(t, set()), want.get(t, set())
        if g != w:
            parts.append(f"{t}: {len(g - w)} extra, {len(w - g)} missing")
    return "; ".join(parts)


# -- curation --------------------------------------------------------------

def texts_by_id(docs_root: str) -> dict[int, str]:
    out = {}
    for name in sorted(os.listdir(docs_root)):
        t = pq.read_table(os.path.join(docs_root, name), columns=["doc_id", "text"]).to_pydict()
        out.update(zip(t["doc_id"], t["text"]))
    return out
