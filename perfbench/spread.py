"""Run the benchmark over several seeds and summarize each metric as the
acceptance check does: median and spread, (Q3 - Q1) / median, next to
the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py all 1                     # every workload, one seed
    python3 perfbench/spread.py cdc_serve 1 2 3 4 5       # five seeds
    python3 perfbench/spread.py --trace --out t.json all 1

Prints each run's perfbench-report line (the workload's own metric names,
units and correctness verdict) and a table per workload. ``--out`` writes
every run's result and the summary as JSON. Stops at the first run that
prints no result or leaves a Spark process running after it exits.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    out = {"median": med, "values": values}
    if len(values) >= 2:
        q = statistics.quantiles(values, n=4)
        out["spread"] = (q[2] - q[0]) / med if med else 0.0
    return out


def spark_processes() -> list[str]:
    """Command lines of the Spark JVMs and PySpark daemons running now; a
    run must leave none behind."""
    found = []
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                cmd = (d / "cmdline").read_bytes().replace(b"\0", b" ").decode(errors="replace")
            except OSError:
                continue  # exited meanwhile
            if "org.apache.spark" in cmd or "pyspark.daemon" in cmd:
                found.append(f"{d.name}: {cmd[:200]}")
    return found


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out")
    ap.add_argument("workloads", help="comma-separated names, or 'all'")
    ap.add_argument("seeds", nargs="+", type=int)
    args = ap.parse_args(argv)
    bench = json.loads(Path("BENCHMARK.json").read_text())
    names = (
        [w["name"] for w in bench["workloads"]]
        if args.workloads == "all"
        else args.workloads.split(",")
    )
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    summary: dict = {}
    ok = True
    for name in names:
        runs, values = [], {}
        for seed in args.seeds:
            t = time.perf_counter()
            p = subprocess.run(
                [
                    sys.executable, *bench["command"][1:], "--workload", name,
                    "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                    "--trace", "1" if args.trace else "0",
                ],
                capture_output=True, text=True, timeout=900,
            )
            wall = time.perf_counter() - t
            left = spark_processes()
            if left:
                print(f"{name} seed {seed}: left running after exit:\n" + "\n".join(left))
                return 1
            lines = p.stdout.strip().splitlines()
            if len(lines) < 2:
                print(f"{name} seed {seed}: exit {p.returncode}, no result\n{p.stderr[-3000:]}")
                return 1
            res = json.loads(lines[-1])
            report = json.loads(lines[-2].removeprefix("perfbench-report "))
            ok &= p.returncode == 0 and res["correct"]
            spans = [ln.split()[1:3] for ln in p.stderr.splitlines() if ln.startswith("perfbench-span ")]
            runs.append(
                {
                    "seed": seed, "wall_s": wall, "exit": p.returncode, "result": res,
                    "report": report, "spans": [(label, float(d[:-1])) for label, d in spans],
                }
            )
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{lines[-2]}  [wall {wall:.1f}s, exit {p.returncode}]", flush=True)
        stats = {k: summarize(v) for k, v in values.items()}
        summary[name] = {"runs": runs, "metrics": stats}
        print(f"{name}: {len(args.seeds)} runs, mean wall {statistics.mean(r['wall_s'] for r in runs):.1f}s")
        print(f"  {'metric':42} {'median':>12} {'spread':>7} {'bound':>6}")
        for k, st in stats.items():
            b = bounds.get(k)
            spread = f"{st['spread']:7.3f}" if "spread" in st else " " * 7
            print(f"  {k:42} {st['median']:12.5g} {spread} {'' if b is None else b:>6}")
    if args.out:
        Path(args.out).write_text(json.dumps(summary, indent=1) + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
