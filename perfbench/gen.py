"""Seeded input generator for the benchmark.

Every input is a pure function of ``(seed, scale)``: the same seed
writes byte-identical parquet and JSON files. The value domains follow
the repository's TPC-H-shaped test tables at sf0.1 (key ranges, flag
and segment alphabets, the 1995-2001 date span, the January-2024 event
month, the 30-word document vocabulary), so the registry queries'
filters select the same shares of rows they select there.

Sources are written as several files per table, because a single
row-group file pins a scan to one task.

Each ``make_*`` function returns the inputs' *measured* properties
(shares computed from the generated rows, not the requested ones).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINE_FLAGS = np.array(["A", "N", "R"])
LINE_STATUS = np.array(["F", "O"])
ORDER_STATUS = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.42, 0.145, 0.145, 0.145, 0.145])
N_SOURCES = 20

_US = 1_000_000
_DAY_US = 86_400 * _US


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * _US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_table(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet parts under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


# -- migrate_query: TPC-H-shaped tables -----------------------------------

def make_tpch(seed: int, out_dir: str, scale: float, n_files: int = 4) -> dict:
    """lineitem, orders, customer, nation and events at ``scale`` (1.0 =
    the sf0.1 row counts). Returns row counts and measured shares."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, int(15_000 * scale))
    n_ord = max(200, int(150_000 * scale))
    n_ev = max(200, int(100_000 * scale))
    n_users = max(10, int(1_500 * scale))

    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    d0, d1 = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 2)
    odate = d0 + rng.integers(0, (d1 - d0) // _DAY_US, n_ord) * _DAY_US
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": ORDER_STATUS[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
    })
    lines_per = rng.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines_per)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 20_000, n_li),
        "l_suppkey": rng.integers(0, 1_000, n_li),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, type=pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": LINE_FLAGS[rng.integers(0, 3, n_li)],
        "l_linestatus": LINE_STATUS[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odate, lines_per)
                          + rng.integers(1, 122, n_li) * _DAY_US),
    })
    e0 = _epoch_us(2024, 1, 1)
    ev_ts = np.sort(e0 + rng.integers(0, 30 * _DAY_US, n_ev))
    events = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(2.0, 40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    tables = {"lineitem": lineitem, "orders": orders, "customer": customer,
              "nation": nation, "events": events}
    for name, t in tables.items():
        write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                    1 if t.num_rows < 1000 else n_files)
    months = {name: len(np.unique(t.column(col).to_numpy().astype("datetime64[M]")))
              for name, t, col in (("lineitem", lineitem, "l_shipdate"),
                                   ("orders", orders, "o_orderdate"),
                                   ("events", events, "ts"))}
    return {
        "rows": {k: t.num_rows for k, t in tables.items()},
        "month_partitions": months,
        "q1_filter_share": round(float(
            (lineitem.column("l_shipdate").to_numpy().astype("int64")
             <= _epoch_us(2000, 12, 1)).mean()), 4),
    }


# -- cdc_pump: JSON CDC event backlog ---------------------------------------

def _zipf_ranks(rng: np.random.Generator, n_keys: int, n: int, a: float) -> np.ndarray:
    """Key ranks in [0, n_keys) with P(rank r) ~ 1/(r+1)^a."""
    p = 1.0 / np.arange(1, n_keys + 1) ** a
    return rng.choice(n_keys, size=n, p=p / p.sum())


def make_cdc(seed: int, out_dir: str, n_tables: int, seed_keys: int,
             n_files: int, events_per_file: int,
             mix: tuple[float, float, float] = (0.2, 0.7, 0.1),
             zipf_a: float = 1.1) -> dict:
    """Seed inserts (``<out>/seed``) and a backlog of ``n_files`` event
    files (``<out>/backlog``) spread over ``n_tables`` tables of db
    ``shop``. ``mix`` is the (insert, update, delete) share of backlog
    events; updates and deletes pick keys Zipf-skewed over the live
    keys' ranks. Event files get increasing mtimes so the file source
    reads them in order. Returns the measured shares."""
    rng = np.random.default_rng([seed, 2])
    pos = 0
    live = {t: list(range(seed_keys)) for t in range(n_tables)}
    next_key = {t: seed_keys for t in range(n_tables)}

    def event(op: str, t: int, key: int) -> dict:
        nonlocal pos
        pos += 1
        return {"op": op, "log_file": "mysql-bin.000001", "log_pos": pos,
                "schema": "shop", "table": f"t{t}", "id": key,
                "grp": int(key % 97), "amount": round(float(rng.uniform(0, 1000)), 2),
                "note": VOCAB[int(rng.integers(0, len(VOCAB)))]}

    seed_dir = os.path.join(out_dir, "seed")
    os.makedirs(seed_dir)
    with open(os.path.join(seed_dir, "seed-00000.json"), "w") as f:
        for t in range(n_tables):
            for k in range(seed_keys):
                f.write(json.dumps(event("insert", t, k)) + "\n")

    backlog = os.path.join(out_dir, "backlog")
    os.makedirs(backlog)
    ops = np.array(["insert", "update", "delete"])
    counts = {"insert": 0, "update": 0, "delete": 0}
    hits, top_hits, hit_n = 0, 0, 0
    touched_share = []
    base_mtime = 1_700_000_000
    for i in range(n_files):
        path = os.path.join(backlog, f"events-{i:05d}.json")
        touched: dict[int, set] = {t: set() for t in range(n_tables)}
        with open(path, "w") as f:
            for _ in range(events_per_file):
                t = int(rng.integers(0, n_tables))
                op = str(ops[rng.choice(3, p=mix)])
                keys = live[t]
                if op == "insert" or not keys:
                    op, key = "insert", next_key[t]
                    next_key[t] += 1
                    keys.append(key)
                else:
                    r = int(_zipf_ranks(rng, len(keys), 1, zipf_a)[0])
                    key = keys[r]
                    hit_n += 1
                    top_hits += r < max(1, len(keys) // 100)
                    if op == "delete":
                        keys[r] = keys[-1]
                        keys.pop()
                counts[op] += 1
                touched[t].add(key)
                f.write(json.dumps(event(op, t, key)) + "\n")
        os.utime(path, (base_mtime + i, base_mtime + i))
        touched_share.append(np.mean([len(touched[t]) / max(1, len(live[t]))
                                      for t in range(n_tables)]))
    n_ev = sum(counts.values())
    return {
        "tables": n_tables,
        "seed_rows": n_tables * seed_keys,
        "backlog_events": n_ev,
        "files": n_files,
        "mix": {k: round(v / n_ev, 4) for k, v in counts.items()},
        "top1pct_key_share": round(top_hits / max(1, hit_n), 4),
        "touched_key_share_per_file": round(float(np.mean(touched_share)), 4),
    }


# -- curate_increment: document corpus with planted duplicates -------------

def _doc_text(rng: np.random.Generator) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(25, 90))))


def _near_copy(rng: np.random.Generator, text: str) -> str:
    words = text.split()
    i = int(rng.integers(0, len(words)))
    words[i] = "dup" if words[i] != "dup" else "data"
    return " ".join(words)


def make_docs(seed: int, out_dir: str, batch_docs: int, inc_docs: int,
              increments: int, exact_share: float = 0.06,
              near_share: float = 0.06, n_files: int = 4) -> dict:
    """``<out>/batch`` and ``<out>/inc-<k>`` corpora of (doc_id, text,
    lang, source, n_chars). Each corpus holds a fixed number of exact
    copies (same text, another id and source) and near copies (one word
    replaced) of original documents; an increment copies originals of
    its own and, half the time, of earlier increments. Copies are only
    ever made of originals, so every duplicate group is a star and its
    size does not depend on the seed. Returns the planted exact groups
    per corpus (for the output checks) and the measured shares."""
    rng = np.random.default_rng([seed, 3])
    next_id = 0
    history: list[str] = []  # originals of earlier increments (not the batch)
    groups: dict[str, list[list[int]]] = {}
    measured = {}

    def corpus(name: str, n: int, use_history: bool) -> list[str]:
        nonlocal next_id
        n_exact, n_near = round(n * exact_share), round(n * near_share)
        originals = [_doc_text(rng) for _ in range(n - n_exact - n_near)]
        from_history = 0

        def pick() -> str:
            nonlocal from_history
            if use_history and history and rng.random() < 0.5:
                from_history += 1
                return history[int(rng.integers(0, len(history)))]
            return originals[int(rng.integers(0, len(originals)))]

        texts = (originals + [pick() for _ in range(n_exact)]
                 + [_near_copy(rng, pick()) for _ in range(n_near)])
        texts = [texts[j] for j in rng.permutation(n)]
        ids = list(range(next_id, next_id + n))
        next_id += n
        by_text: dict[str, list[int]] = {}
        for i, t in zip(ids, texts):
            by_text.setdefault(t, []).append(i)
        groups[name] = [g for g in by_text.values() if len(g) > 1]
        table = pa.table({
            "doc_id": pa.array(ids, type=pa.int64()),
            "text": texts,
            "lang": LANGS[rng.choice(5, size=n, p=LANG_P)],
            "source": [f"src{s}" for s in rng.integers(0, N_SOURCES, n)],
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        })
        write_table(table, os.path.join(out_dir, name), n_files)
        measured[name] = {
            "docs": n,
            "exact_copy_share": round(n_exact / n, 4),
            "near_copy_share": round(n_near / n, 4),
            "copies_of_history_share": round(from_history / max(1, n_exact + n_near), 4),
            "in_corpus_exact_dup_docs": sum(len(g) for g in groups[name]),
        }
        return originals

    corpus("batch", batch_docs, False)
    for k in range(increments):
        history.extend(corpus(f"inc-{k}", inc_docs, True))
    return {"corpora": measured, "exact_groups": groups}
