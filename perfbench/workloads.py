"""The benchmark workloads, each driven through the CLI verbs.

A workload generates its inputs from the seed, prepares untimed state,
then runs whole *passes* of its scenario until the run's time is used.
Every pass's outputs are checked; each check counts toward
``attempted``, and each that does not hold toward ``failed``.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import shutil
import threading
import time
import zlib
from contextlib import redirect_stdout

import pyarrow.parquet as pq

from perfbench import checks, gen

QUERIES = ("q1_pricing_summary", "join_shuffle_fact_fact", "join_broadcast_dim",
           "window_topn_per_group", "window_session_gaps", "q18_large_volume_customer")


class Ctx:
    """What a workload needs from the run: the session, its work dir,
    the tracer (None in timed runs) and the op ledger."""

    def __init__(self, spark, work: str, tracer=None):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.all_passes: list[dict] = []

    def cli(self, argv: list[str]) -> tuple[int, list[str]]:
        """One CLI verb, as ``python -m clickhouse_mysql_data_reader_spark``
        would run it, on the shared session; stdout is captured."""
        from clickhouse_mysql_data_reader_spark import cli
        from clickhouse_mysql_data_reader_spark.config import parse_config

        cfg = parse_config(argv)
        buf = io.StringIO()
        with redirect_stdout(buf):
            if self.tracer is None:
                rc = cli.run(cfg, self.spark)
            else:
                with self.tracer.span(_verb_span(cfg.verb())):
                    rc = cli.run(cfg, self.spark)
        return rc, buf.getvalue().splitlines()

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{name}: {detail}")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _verb_span(verb: str) -> str:
    return "curation.report" if verb == "curation-report" else f"cli.{verb}"


def _files_under(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def _sha(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()


# -- migrate_query ---------------------------------------------------------

class MigrateQuery:
    """migrate-table lands five TPC-H-shaped tables (DDL, MSCK REPAIR,
    count reconciliation), then six registry queries run over them."""

    name = "migrate_query"
    scale = 1.0  # x the sf0.1 row counts

    @classmethod
    def scaled(cls, k: float) -> "MigrateQuery":
        wl = cls()
        wl.scale = cls.scale * k
        return wl

    @classmethod
    def tiny(cls) -> "MigrateQuery":
        return cls.scaled(0.002)

    def generate(self, seed: int, ctx: Ctx) -> dict:
        self.src = ctx.path("in", "src")
        self.props = gen.make_tpch(seed, self.src, self.scale)
        return self.props

    def prepare(self, ctx: Ctx) -> None:
        from clickhouse_mysql_data_reader_spark.queries import advanced, analytics  # noqa: F401
        from clickhouse_mysql_data_reader_spark.queries.registry import oracle_sql_map

        oracles = oracle_sql_map()
        con = checks.duck_views(self.src, self.props["rows"])
        self.expected = {q: checks.signature(con.execute(oracles[q]).df()) for q in QUERIES}
        con.close()
        self.digest_parts = None

    def warm(self, seed: int, ctx: Ctx) -> None:
        """One pass over inputs a quarter the run's size, generated from
        the same seed. After a pass over tiny inputs the per-row code
        was still being compiled in the timed pass (JVM CPU 56 s in it
        against 38 s two passes later); after a quarter-size pass each
        per-row loop has run over 10^5 rows, and the timed pass took as
        long as after a full-size one, for 8 s less set-up."""
        wl = type(self)()
        wl.scale = self.scale / 4
        wl.generate(seed, ctx)
        wl.prepare(ctx)
        wl.run_pass(ctx, 0)

    def attach(self, ctx: Ctx) -> None:
        pass

    def close(self, ctx: Ctx) -> None:
        pass

    def run_pass(self, ctx: Ctx, i: int) -> dict:
        from clickhouse_mysql_data_reader_spark.queries.registry import query_map

        # a catalog database per pass and work dir: the session's catalog
        # outlives the pass's landed files
        dst, schema = ctx.path("land", f"p{i}"), f"pb{i}_{zlib.crc32(ctx.work.encode())}"
        t0 = time.perf_counter()
        rc, lines = ctx.cli(["--migrate-table", "--src-parquet-dir", self.src,
                             "--src-schemas", "src", "--dst-parquet-dir", dst,
                             "--dst-schema", schema, "--dst-create-table",
                             "--with-create-database"])
        migrate_s = time.perf_counter() - t0
        reports = [json.loads(x) for x in lines if x.startswith("{")]
        landed = sum(r["dst_rows"] for r in reports)
        view = ctx.path("view", f"p{i}")
        os.makedirs(view)
        for r in reports:
            os.symlink(r["location"], os.path.join(view, r["dst"].split(".")[1] + ".parquet"))
        qmap, query_s, sigs = query_map(), {}, {}
        for q in QUERIES:
            t = time.perf_counter()
            if ctx.tracer is None:
                pdf = qmap[q](ctx.spark, view).toPandas()
            else:
                with ctx.tracer.span("queries.run"):
                    pdf = qmap[q](ctx.spark, view).toPandas()
            query_s[q] = time.perf_counter() - t
            sigs[q] = checks.signature(pdf)
        files, nbytes = _files_under(dst)

        # checks (untimed)
        want = self.props["rows"]
        ctx.check("migrate-table rc", rc == 0, f"rc={rc}")
        got = {r["src"].split(".")[1]: r for r in reports}
        ctx.check("migrate-table reconciliation",
                  set(got) == set(want) and all(
                      got[t]["reconciled"] and got[t]["dst_rows"] == n for t, n in want.items()),
                  json.dumps(reports))
        for q in QUERIES:
            ctx.check(f"query {q}", checks.same_result(sigs[q], self.expected[q]),
                      "differs from the DuckDB oracle")
        parts = {"landed": {t: r["dst_rows"] for t, r in got.items()},
                 "queries": {q: hashlib.sha256(repr(s).encode()).hexdigest() for q, s in sigs.items()}}
        ctx.check("output digest stable across passes", self.digest_parts in (None, parts))
        self.digest_parts = parts
        shutil.rmtree(dst, ignore_errors=True)
        shutil.rmtree(view, ignore_errors=True)
        return {"migrate_s": migrate_s, "rows": landed, "query_s": query_s,
                "files_written": files, "bytes_written": nbytes,
                "pass_s": migrate_s + sum(query_s.values())}

    def summarize(self, passes: list[dict]) -> dict:
        rows = sum(p["rows"] for p in passes)
        mig = sum(p["migrate_s"] for p in passes)
        return {
            "land_s": [p["migrate_s"] for p in passes],
            "downstream_s": [sum(p["query_s"].values()) for p in passes],
            "named": {"migrate.rows_per_s": (rows / mig, "1/s"),
                      "query.total_s": (checks.median([sum(p["query_s"].values())
                                                       for p in passes]), "s")},
        }

    def digest(self) -> str:
        return _sha(self.digest_parts)


# -- cdc_pump --------------------------------------------------------------

class ProgressLog:
    """StreamingQueryListener that keeps progress events in memory."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with log.cond:
                    log.started[str(event.runId)] = time.time()

            def onQueryProgress(self, event):
                p = event.progress
                with log.cond:
                    log.progress.append((str(p.runId), p.numInputRows,
                                         dict(p.durationMs), p.timestamp))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with log.cond:
                    log.terminated.add(str(event.runId))
                    log.cond.notify_all()

        self.listener = _L()
        self.cond = threading.Condition()
        self.started: dict[str, float] = {}
        self.progress: list[tuple] = []
        self.terminated: set[str] = set()

    def attach(self, spark) -> None:
        spark.streams.addListener(self.listener)

    def detach(self, spark) -> None:
        spark.streams.removeListener(self.listener)

    def take(self, since: float, timeout: float = 30.0) -> list[tuple]:
        """Wait until the queries started after ``since`` (``time.time()``)
        have terminated; return their progress events and forget all
        events seen so far."""
        deadline = time.monotonic() + timeout

        def done() -> set[str]:
            runs = {r for r, t in self.started.items() if t >= since}
            return runs if runs and runs <= self.terminated else set()

        with self.cond:
            while not done() and time.monotonic() < deadline:
                self.cond.wait(deadline - time.monotonic())
            runs = done()
            out = [p for p in self.progress if p[0] in runs]
            self.started, self.progress, self.terminated = {}, [], set()
        return out


class CdcPump:
    """pump-data drains a fixed backlog of JSON CDC files into a
    pre-seeded snapshot, K files per micro-batch (closed loop)."""

    n_tables, seed_keys, n_files, events_per_file, files_per_trigger = 3, 2000, 3, 600, 1

    def generate(self, seed: int, ctx: Ctx) -> dict:
        self.cdc = ctx.path("in", "cdc")
        self.props = gen.make_cdc(seed, self.cdc, self.n_tables, self.seed_keys,
                                  self.n_files, self.events_per_file)
        return self.props

    def _argv(self, cdc: str, ckpt: str, snap: str) -> list[str]:
        return ["--pump-data", "--cdc-dir", cdc, "--binlog-position-file", ckpt,
                "--snapshot-root", snap, "--pump-key-columns", "id",
                "--pump-available-now",
                "--mempool-max-events-num", str(self.files_per_trigger)]

    def prepare(self, ctx: Ctx) -> None:
        self.seed_snap = ctx.path("seed_snapshot")
        rc, _ = ctx.cli(self._argv(os.path.join(self.cdc, "seed"),
                                   ctx.path("ckpt-seed"), self.seed_snap))
        if rc != 0:
            raise RuntimeError(f"pre-seeding the snapshot failed: rc={rc}")
        self.expected = checks.lww_fold([os.path.join(self.cdc, "seed"),
                                         os.path.join(self.cdc, "backlog")])
        self.progress = ProgressLog()
        self.attach(ctx)
        self.digest_parts = None

    def attach(self, ctx: Ctx) -> None:
        self.progress.attach(ctx.spark)

    def close(self, ctx: Ctx) -> None:
        self.progress.detach(ctx.spark)

    def run_pass(self, ctx: Ctx, i: int) -> dict:
        snap = ctx.path("snap", f"p{i}")
        shutil.copytree(self.seed_snap, snap)
        since = time.time()
        t0 = time.perf_counter()
        rc, _ = ctx.cli(self._argv(os.path.join(self.cdc, "backlog"),
                                   ctx.path("ckpt", f"p{i}"), snap))
        pump_s = time.perf_counter() - t0
        progress = [p for p in self.progress.take(since) if p[1] > 0]
        got = checks.read_snapshot(snap)
        files = sum(len(v) for v in checks.snapshot_files(snap).values())
        parts = checks.snapshot_partitions(snap)

        ctx.check("pump-data rc", rc == 0, f"rc={rc}")
        n_in = sum(p[1] for p in progress)
        ctx.check("pump-data drained the backlog",
                  n_in == self.props["backlog_events"], f"{n_in} events in progress")
        ctx.check("snapshot equals last-write-wins fold", got == self.expected,
                  checks.diff_summary(got, self.expected))
        d = _sha({t: sorted(map(list, rows)) for t, rows in got.items()})
        ctx.check("snapshot digest stable across passes", self.digest_parts in (None, d))
        self.digest_parts = d
        shutil.rmtree(snap, ignore_errors=True)
        shutil.rmtree(ctx.path("ckpt", f"p{i}"), ignore_errors=True)
        # the share of a table's partitions one batch touches: 1 when the
        # snapshot has a single partition per table
        self.props["snapshot_partitions"] = parts
        self.props["touched_partition_share"] = (
            1.0 if all(n == 1 for n in parts.values()) else None)
        return {"pump_s": pump_s, "events": self.props["backlog_events"],
                "batches": [(p[2].get("triggerExecution", 0) / 1000.0, p[3]) for p in progress],
                "snapshot_files": files}

    def named(self, passes: list[dict]) -> dict:
        ev = sum(p["events"] for p in passes)
        t = sum(p["pump_s"] for p in passes)
        steps = [b[0] for p in passes for b in p["batches"]]
        tail, pct, n = checks.tail(steps)
        return {"pump.events_per_s": (ev / t, "1/s"),
                "pump.batch_p50_s": (checks.median(steps), "s"),
                "pump.batch_tail_s": (tail, f"s (p{pct:g} of {n} batches)")}


# -- curate_increment ------------------------------------------------------

class CurateIncrement:
    """curate-data batch, K increments against a CurationState, an
    offline compaction of the state, then curation-report."""

    batch_docs, inc_docs, increments = 300, 150, 2

    def generate(self, seed: int, ctx: Ctx) -> dict:
        self.docs = ctx.path("in", "docs")
        self.props = gen.make_docs(seed, self.docs, self.batch_docs, self.inc_docs,
                                   self.increments)
        self.texts = checks.texts_by_id(self.docs)
        return self.props["corpora"]

    def prepare(self, ctx: Ctx) -> None:
        self.digest_parts = None

    def batch(self, ctx: Ctx, root: str) -> list[int]:
        """``curate-data`` over the batch corpus; the kept doc ids."""
        rc, _ = ctx.cli(["--curate-data", "--src-parquet-dir", os.path.join(self.docs, "batch"),
                         "--dst-parquet-dir", os.path.join(root, "batch")])
        ctx.check("curate-data batch rc", rc == 0, f"rc={rc}")
        return self._kept(os.path.join(root, "batch")) if rc == 0 else []

    def _kept(self, out: str) -> list[int]:
        return sorted(pq.read_table(out, columns=["doc_id"]).column("doc_id").to_pylist())

    def run_pass(self, ctx: Ctx, i: int) -> dict:
        from clickhouse_mysql_data_reader_spark.curation import CurationState

        root = ctx.path("cur", f"p{i}")
        state = os.path.join(root, "state")
        t0 = time.perf_counter()
        kept = {"batch": self.batch(ctx, root)}
        batch_s = time.perf_counter() - t0
        inc_s, seen = [], set()
        for k in range(self.increments):
            name = f"inc-{k}"
            t = time.perf_counter()
            rc, _ = ctx.cli(["--curate-data", "--src-parquet-dir", os.path.join(self.docs, name),
                             "--dst-parquet-dir", os.path.join(root, name),
                             "--curation-state", state, "--curation-epoch", str(k)])
            inc_s.append(time.perf_counter() - t)
            ctx.check(f"curate-data increment {k} rc", rc == 0, f"rc={rc}")
            kept[name] = self._kept(os.path.join(root, name))
            texts = [self.texts[d] for d in kept[name]]
            ctx.check(f"increment {k} keeps no text already in state",
                      not seen.intersection(texts), "a kept text is already in state")
            seen.update(texts)
        state_files, _ = _files_under(state)
        t = time.perf_counter()
        CurationState(state).compact(ctx.spark)
        compact_s = time.perf_counter() - t
        t = time.perf_counter()
        rc, lines = ctx.cli(["--curation-report", "--curation-state", state])
        report_s = time.perf_counter() - t
        curate_s = time.perf_counter() - t0

        ctx.check("curation-report rc", rc == 0, f"rc={rc}")
        growth = json.loads(lines[-1])["growth"] if lines else {}
        n_fp = growth.get("fingerprints", {}).get("rows")
        ctx.check("state holds exactly the kept increment docs", n_fp == len(seen),
                  f"fingerprints={n_fp} kept={len(seen)}")
        for name, groups in self.props["exact_groups"].items():
            ks = set(kept[name])
            worst = max((len(ks.intersection(g)) for g in groups), default=0)
            ctx.check(f"{name}: at most one survivor per planted exact group", worst <= 1,
                      f"a group kept {worst}")
            ctx.check(f"{name}: kept something", bool(ks), "empty output")
        d = _sha(kept)
        ctx.check("curation digest stable across passes", self.digest_parts in (None, d))
        self.digest_parts = d
        shutil.rmtree(root, ignore_errors=True)
        return {"batch_s": batch_s, "inc_s": inc_s, "compact_s": compact_s,
                "report_s": report_s, "curate_s": curate_s,
                "state_files": state_files}

    def named(self, passes: list[dict]) -> dict:
        inc = sum(s for p in passes for s in p["inc_s"])
        batch = sum(p["batch_s"] for p in passes)
        n = len(passes)
        return {"curate.batch_docs_per_s": (self.batch_docs * n / batch, "1/s"),
                "curate.increment_docs_per_s": (self.inc_docs * self.increments * n / inc, "1/s")}


class CdcCurate:
    """The incremental-state paths: pump-data into SnapshotStore, then
    curation batch -> increments against CurationState -> report."""

    name = "cdc_curate"

    def __init__(self):
        self.pump, self.cur = CdcPump(), CurateIncrement()

    @classmethod
    def scaled(cls, k: float) -> "CdcCurate":
        wl = cls()
        p, c = wl.pump, wl.cur
        p.seed_keys, p.events_per_file = round(p.seed_keys * k), round(p.events_per_file * k)
        c.batch_docs, c.inc_docs = round(c.batch_docs * k), round(c.inc_docs * k)
        return wl

    @classmethod
    def tiny(cls) -> "CdcCurate":
        wl = cls()
        wl.pump.n_tables, wl.pump.seed_keys = 2, 50
        wl.pump.n_files, wl.pump.events_per_file = 2, 50
        wl.cur.batch_docs, wl.cur.inc_docs = 40, 20
        return wl

    def generate(self, seed: int, ctx: Ctx) -> dict:
        return {"cdc": self.pump.generate(seed, ctx), "docs": self.cur.generate(seed, ctx)}

    def prepare(self, ctx: Ctx) -> None:
        self.pump.prepare(ctx)
        self.cur.prepare(ctx)

    def warm(self, seed: int, ctx: Ctx) -> None:
        """The tiny pump pass (after its seed load) and the tiny batch
        curation. The increments, compaction and report run the batch's
        operators and writers again; at tiny scale an increment took as
        long after a cold batch as after a warm one."""
        wl = self.tiny()
        wl.generate(seed, ctx)
        wl.pump.prepare(ctx)
        wl.pump.run_pass(ctx, 0)
        wl.pump.close(ctx)
        wl.cur.batch(ctx, ctx.path("cur"))

    def attach(self, ctx: Ctx) -> None:
        self.pump.attach(ctx)

    def close(self, ctx: Ctx) -> None:
        self.pump.close(ctx)

    def run_pass(self, ctx: Ctx, i: int) -> dict:
        p = {**self.pump.run_pass(ctx, i), **self.cur.run_pass(ctx, i)}
        p["pass_s"] = p["pump_s"] + p["curate_s"]
        return p

    def summarize(self, passes: list[dict]) -> dict:
        return {"land_s": [p["pump_s"] for p in passes],
                "downstream_s": [p["curate_s"] for p in passes],
                "named": {**self.pump.named(passes), **self.cur.named(passes)}}

    def digest(self) -> str:
        return _sha([self.pump.digest_parts, self.cur.digest_parts])


WORKLOADS = {w.name: w for w in (MigrateQuery, CdcCurate)}
