"""How much of a pass is data-proportional work.

    python3 perfbench/scaling.py [--workloads migrate_query,cdc_curate] [--scales 1,5] [--seed 1]

Run from the repository root. For each workload it makes one traced run
(``run.py --trace 1``) at each ``--scale`` (input size as a multiple of
the workload's default) and prints, per scale, the pass time untraced
and traced, and per span the self time, task CPU time, jobs, tasks and
rows read. Then it fits pass time = fixed + per_scale * scale through
the smallest and the largest scale and prints the data-proportional
share of the pass, per_scale * scale / pass time, at each scale. The
JVM's CPU time per pass is printed beside its tasks' CPU time, GC
pause time and JIT compilation time.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys

SPANS = ("migrator.migrate_table", "sinks.write_parquet", "queries.run", "pump.apply",
         "curation.curate", "curation.curate_increment", "curation.state_write",
         "curation.compact", "curation.report")
FIELDS = ("self_s", "cpu_s", "jobs", "tasks", "input_rows")


def traced_run(workload: str, scale: float, seed: int) -> dict:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", "1",
                        "--scale", str(scale)],
                       capture_output=True, text=True, check=True)
    return {k: v["value"] for k, v in json.loads(p.stdout.splitlines()[-1])["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default="migrate_query,cdc_curate")
    ap.add_argument("--scales", default="1,5")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    scales = sorted(float(x) for x in args.scales.split(","))
    for wl in args.workloads.split(","):
        runs = {k: traced_run(wl, k, args.seed) for k in scales}
        print(f"{wl}")
        print("  scale  untraced_pass_s  traced_pass_s")
        pass_s = {}
        for k, m in runs.items():
            pass_s[k] = statistics.mean((m["trace.untraced_pass_s"], m["trace.pass_s"]))
            print(f"  {k:5g}  {m['trace.untraced_pass_s']:15.2f}  {m['trace.pass_s']:13.2f}")
        for name in ("jvm.cpu_s", "jvm.task_cpu_s", "jvm.gc_pause_s", "jvm.jit_s"):
            print(f"  {name}" + "".join(f"  {runs[k][name]:.4g}@{k:g}" for k in scales))
        print("  span" + "".join(f"  {f}@{k:g}" for f in FIELDS for k in scales))
        for span in SPANS:
            row = [runs[k][f"{span}.{f}"] for f in FIELDS for k in scales]
            if any(row):
                print(f"  {span}" + "".join(f"  {v:.4g}" for v in row))
        lo, hi = scales[0], scales[-1]
        if hi > lo:
            per = (pass_s[hi] - pass_s[lo]) / (hi - lo)
            fixed = pass_s[lo] - per * lo
            print(f"  fit: pass_s = {fixed:.2f} s + {per:.3f} s x scale")
            for k in scales:
                print(f"  data-proportional share at scale {k:g}: {per * k / pass_s[k]:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
