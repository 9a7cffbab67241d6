"""Benchmark entry point.

    python3 perfbench/run.py --workload migrate_query --seed 1 --seconds 20 --trace 0

Run from the repository root. It builds one ``local[nproc-1]``
SparkSession in this process, generates the workload's inputs from the
seed under ``.perfbench_work/``, runs the workload's untimed warm-up,
runs passes of the workload through the CLI verbs for ``--seconds``,
checks every output and prints, as its
last stdout line, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
sys.path[:0] = [ROOT]

from perfbench import checks  # noqa: E402
from perfbench.trace import COUNTERS, Tracer, covered, fold_event_log  # noqa: E402

SPANS = ("migrator.migrate_table", "sinks.write_parquet", "queries.run", "pump.apply",
         "curation.curate", "curation.curate_increment", "curation.state_write",
         "curation.compact", "curation.report")
E2E = ("setup_s", "pass_cpu_s")
SPAN_FIELDS = ("self_s", "jobs", "tasks", "cpu_s", "shuffle_bytes", "spill_bytes", "input_rows")


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_cpu_s(root: int) -> float:
    """User and system CPU seconds of process ``root`` and its live
    descendants, including what they have reaped from ended children."""
    ppid, cpu = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    rest = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while listing
                continue
            ppid[int(d)] = int(rest[1])
            cpu[int(d)] = sum(int(x) for x in rest[11:15])
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo += [c for c, p in ppid.items() if p == pid and c not in tree]
    return sum(cpu.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def reset_hwm() -> None:
    """Reset this process's peak RSS so input generation does not count."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def start_spark(work: str, cores: int, event_log: str | None):
    from clickhouse_mysql_data_reader_spark.session import get_spark

    # heap and JIT are the package's own; these only keep the JVM's
    # files inside the work directory
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(wl, seed: int, ctx) -> float:
    """The workload's untimed warm-up pass, so that the timed passes find
    the classes loaded, the JIT warm and Spark's generated code
    compiled; returns its wall time. Its checks count like the timed
    ones."""
    from perfbench.workloads import Ctx

    warm = Ctx(ctx.spark, ctx.path("warm"))
    t0 = time.perf_counter()
    wl.warm(seed, warm)
    warm_s = time.perf_counter() - t0
    ctx.attempted += warm.attempted
    ctx.failures += [f"warm-up: {f}" for f in warm.failures]
    shutil.rmtree(warm.work, ignore_errors=True)
    return warm_s


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def run_passes(wl, ctx, seconds: float, passes: list) -> None:
    """Run whole passes until ``seconds`` have elapsed (at least one)."""
    jvm = ctx.spark.sparkContext._gateway.proc.pid
    t0 = time.monotonic()
    while not passes or time.monotonic() - t0 < seconds:
        c0, g0 = tree_cpu_s(jvm), jvm_gc_jit_s(ctx.spark)
        p = wl.run_pass(ctx, len(ctx.all_passes))
        # the checks after each timed step run in this process, not the JVM
        p["cpu_s"] = tree_cpu_s(jvm) - c0
        p["gc_s"], p["jit_s"] = (b - a for a, b in zip(g0, jvm_gc_jit_s(ctx.spark)))
        passes.append(p)
        ctx.all_passes.append(p)


def jvm_gc_jit_s(spark) -> tuple[float, float]:
    """The JVM's total GC pause time and JIT compilation time so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc_ms / 1000.0, mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0


TRACED = (
    ("clickhouse_mysql_data_reader_spark.migrator", "Migrator", "migrate_table",
     "migrator.migrate_table"),
    ("clickhouse_mysql_data_reader_spark.migrator", None, "write_parquet", "sinks.write_parquet"),
    ("clickhouse_mysql_data_reader_spark.streaming.pump", "SnapshotStore", "apply", "pump.apply"),
    ("clickhouse_mysql_data_reader_spark.curation", None, "curate", "curation.curate"),
    ("clickhouse_mysql_data_reader_spark.curation", None, "curate_increment",
     "curation.curate_increment"),
    ("clickhouse_mysql_data_reader_spark.curation", "CurationState", "write",
     "curation.state_write"),
    ("clickhouse_mysql_data_reader_spark.curation", "CurationState", "compact",
     "curation.compact"),
)


def instrument(tracer: Tracer, spark) -> None:
    import importlib

    for mod, cls, attr, name in TRACED:
        owner = importlib.import_module(mod)
        tracer.wrap(getattr(owner, cls) if cls else owner, attr, name)
    tracer.wrap(spark, "sql", "schema.ddl")


def _iso_epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def layer_metrics(tracer: Tracer, groups: dict, passes: list[dict], stages: dict,
                  reference: float, peak_rss: float, ctx) -> dict:
    """Every per-layer metric; layers this workload does not run read 0."""
    n = len(passes)
    spans = tracer.spans
    by_id = {s.id: s for s in spans}

    def root(s):
        while s.parent is not None:
            s = by_id[s.parent]
        return s

    def counters(ss) -> dict:
        tot = dict.fromkeys(COUNTERS, 0.0)
        for s in ss:
            for k, v in groups.get(s.group, {}).items():
                tot[k] += v
        return tot

    def med(xs) -> float:
        return checks.median(xs) if xs else 0.0

    m: dict[str, tuple[float, str]] = {}
    for name in SPANS:
        ss = tracer.by_name(name)
        c = counters(ss)
        c["self_s"] = sum(tracer.self_time(s) for s in ss)
        for f in SPAN_FIELDS:
            unit = "s" if f.endswith("_s") else ("bytes" if f.endswith("bytes") else "count")
            m[f"{name}.{f}"] = (c[f] / n, unit)

    landed = sum(p.get("rows", 0) for p in passes)
    mig = [s for s in spans if root(s).name == "cli.migrate-table"]
    m["migrate.read_amplification"] = (
        counters(mig)["input_rows"] / landed if landed else 0.0, "ratio")
    m["sinks.files_written"] = (med([p["files_written"] for p in passes if "files_written" in p]),
                                "count")
    m["sinks.bytes_written"] = (med([p["bytes_written"] for p in passes if "bytes_written" in p]),
                                "bytes")
    m["schema.ddl_s"] = (sum(s.duration for s in tracer.by_name("schema.ddl")) / n, "s")

    applies = tracer.by_name("pump.apply")
    m["pump.apply_p50_s"] = (med([s.duration for s in applies]), "s")
    overheads = []
    for p in passes:
        for dur, ts in p.get("batches", []):
            s0 = _iso_epoch(ts)
            inside = [(max(a.start, s0), min(a.end, s0 + dur)) for a in applies
                      if a.end > s0 and a.start < s0 + dur]
            overheads.append(dur - covered(inside))
    m["pump.trigger_overhead_s"] = (med(overheads), "s")
    events = sum(p.get("events", 0) for p in passes)
    m["pump.rewrite_amplification"] = (
        counters(applies)["output_rows"] / events if events else 0.0, "ratio")
    m["pump.snapshot_files"] = (med([p["snapshot_files"] for p in passes
                                     if "snapshot_files" in p]), "count")

    incs = tracer.by_name("curation.curate_increment")
    m["curation.increment_call_s"] = (med([s.duration for s in incs]), "s")
    inc_verbs = {s.parent for s in incs}
    m["curation.increment_write_s"] = (
        med([tracer.self_time(by_id[i]) for i in inc_verbs if i is not None]), "s")
    m["curation.state_write_s"] = (
        med([s.duration for s in tracer.by_name("curation.state_write")]), "s")
    m["curation.compact_s"] = (med([s.duration for s in tracer.by_name("curation.compact")]), "s")
    m["curation.state_files"] = (med([p["state_files"] for p in passes if "state_files" in p]),
                                 "count")

    m["jvm.cpu_s"] = (med([p["cpu_s"] for p in passes]), "s")
    m["jvm.task_cpu_s"] = (sum(g["cpu_s"] for g in groups.values()) / n, "s")
    m["jvm.gc_pause_s"] = (med([p["gc_s"] for p in passes]), "s")
    m["jvm.jit_s"] = (med([p["jit_s"] for p in passes]), "s")
    m["land_s"] = (med(stages["land_s"]), "s")
    m["downstream_s"] = (med(stages["downstream_s"]), "s")
    traced_pass = med([p["pass_s"] for p in passes])
    m["trace.pass_s"] = (traced_pass, "s")
    m["trace.untraced_pass_s"] = (reference, "s")
    m["trace.overhead_frac"] = (traced_pass / reference - 1.0, "frac")
    m["peak_rss_mb"] = (peak_rss, "MB")
    m["ops_failed_frac"] = (len(ctx.failures) / max(1, ctx.attempted), "frac")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size as a multiple of the workload's default")
    args = ap.parse_args(argv)

    try:
        from clickhouse_mysql_data_reader_spark import cli
    except ImportError as ex:
        print(f"perfbench: cannot import the program from {ROOT}: {ex}", file=sys.stderr)
        return 2
    if not os.path.abspath(cli.__file__).startswith(os.path.join(ROOT, "")):
        print(f"perfbench: the program imported from {cli.__file__}, not from {ROOT}",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    # Only the result lines reach stdout: the JVM and its Python workers
    # inherit file descriptor 1, so it is pointed at stderr for the run.
    sys.stdout.flush()
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload].scaled(args.scale)

    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # spark-submit's launcher JVM: no perf-data file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # one core is left to the driver's own threads (Python, py4j, JIT, GC)
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    # SIGTERM unwinds like an exception, so the JVM is stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return measure(args, wl, work, cores, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        out.close()


def measure(args, wl, work: str, cores: int, out) -> int:
    """Set up, run the passes, check, and print the result lines."""
    import pyspark

    from perfbench.workloads import Ctx

    load_before = loadavg()
    results = os.path.join(ROOT, ".perfbench_work", "results")
    os.makedirs(results, exist_ok=True)
    spark = start_spark(work, cores, None)
    try:
        ctx = Ctx(spark, work)
        phases = {"session_s": seconds_since_process_start()}
        inputs = wl.generate(args.seed, ctx)
        wl.prepare(ctx)
        phases["inputs_s"] = seconds_since_process_start() - phases["session_s"]
        phases["warm_up_s"] = warm_up(wl, args.seed, ctx)
        # the benchmark's own input generation is not set-up of the program
        setup_s = phases["session_s"] + phases["warm_up_s"]
        reset_hwm()
        untraced, traced, tracer = [], [], None
        if args.trace:
            # the reference for the tracing overhead: one pass, untraced,
            # in this process
            run_passes(wl, ctx, 0, untraced)
            reference = untraced[0]["pass_s"]
            wl.close(ctx)
            spark.stop()  # same JVM: a new SparkContext with the event log on
            spark = start_spark(work, cores, os.path.join(work, "eventlog"))
            tracer = Tracer(spark.sparkContext)
            ctx.spark, ctx.tracer = spark, tracer
            wl.attach(ctx)
            instrument(tracer, spark)
            run_passes(wl, ctx, args.seconds, traced)
            tracer.unwrap_all()
        else:
            run_passes(wl, ctx, args.seconds, untraced)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        host = {
            "nproc": len(os.sched_getaffinity(0)), "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
    finally:
        stop_spark(spark)
    host["loadavg_before"], host["loadavg_after"] = load_before, loadavg()

    passes = traced if args.trace else untraced
    s = wl.summarize(passes)
    pass_s = (checks.median([p["pass_s"] for p in passes]), "s")
    e2e = dict(zip(E2E, (
        (setup_s, "s"),
        (checks.median([p["cpu_s"] for p in passes]), "s"),
    )))
    if args.trace:
        metrics = layer_metrics(tracer, fold_event_log(os.path.join(work, "eventlog")),
                                traced, s, reference, peak_rss, ctx)
    else:
        metrics = e2e
    ops_failed_frac = len(ctx.failures) / max(1, ctx.attempted)
    record = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, "scale": args.scale,
        "pass_s": [p["pass_s"] for p in passes], "pass_cpu_s": [p["cpu_s"] for p in passes],
        "land_s": s["land_s"],
        "downstream_s": s["downstream_s"], "digest": wl.digest(),
        "inputs": inputs, "host": host, "phases": phases, "setup_s": setup_s,
        "peak_rss_mb": peak_rss,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in s["named"].items()},
        "ops_failed_frac": ops_failed_frac, "failures": ctx.failures[:20],
        "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    with open(os.path.join(results, f"{wl.name}-s{args.seed}-t{args.trace}-x{args.scale:g}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: v for k, v in record.items() if k != "metrics"}), file=out)
    named = {"setup_s": e2e["setup_s"], "pass_s": pass_s, "pass_cpu_s": e2e["pass_cpu_s"],
             "peak_rss_mb": (peak_rss, "MB"),
             "ops_failed_frac": (ops_failed_frac, "frac"), **s["named"]}
    for k, (v, u) in named.items():
        print(f"{wl.name} {k} = {v:.6g} {u}", file=out)
    print(json.dumps({
        "correct": not ctx.failures, "attempted": ctx.attempted, "failed": len(ctx.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), file=out, flush=True)
    return 0 if not ctx.failures else 1


if __name__ == "__main__":
    sys.exit(main())
