"""Tiny-scale self-test of the benchmark itself.

    python3 perfbench/selftest.py

Run from the repository root. Checks that

- the same seed writes byte-identical inputs and another seed does not;
- two fresh instances of each workload, given the same seed, pass every
  output check and print the same output digest;
- the metric names the benchmark prints are exactly those in
  BENCHMARK.json.

Exits 0 when every check holds.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

ROOT = os.getcwd()
sys.path[:0] = [ROOT]

from perfbench import run  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx  # noqa: E402


def tree_hash(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    failures: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            failures.append(what)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expect(sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS),
           "BENCHMARK.json lists every workload")
    expect([m["name"] for m in bench["end_to_end"]] == list(run.E2E),
           "BENCHMARK.json end_to_end names match the timed run")
    names = run.layer_metrics(Tracer(), {}, [{"pass_s": 1.0, "cpu_s": 1.0, "gc_s": 0.0,
                                              "jit_s": 0.0}],
                              {"land_s": [0.0], "downstream_s": [0.0]}, 1.0, 1.0,
                              Ctx(None, work)).keys()
    expect([m["name"] for m in bench["per_layer"]] == list(names),
           "BENCHMARK.json per_layer names match the traced run")

    spark = run.start_spark(work, 2, None)
    try:
        for name in WORKLOADS:
            hashes, digests = [], []
            for k, seed in enumerate((7, 7, 8)):
                ctx = Ctx(spark, os.path.join(work, f"{name}-{k}"))
                wl = WORKLOADS[name].tiny()
                wl.generate(seed, ctx)
                hashes.append(tree_hash(ctx.path("in")))
                if seed == 7:
                    wl.prepare(ctx)
                    wl.run_pass(ctx, 0)
                    digests.append(wl.digest())
                    expect(not ctx.failures, f"{name}: every output check holds "
                           f"({ctx.attempted} checks) {ctx.failures}")
            expect(hashes[0] == hashes[1], f"{name}: same seed, identical inputs")
            expect(hashes[0] != hashes[2], f"{name}: another seed, other inputs")
            expect(digests[0] == digests[1], f"{name}: same seed, same output digest")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
