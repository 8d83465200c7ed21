"""Benchmark of the claim-check CDC engine: one workload per run.

    python3 perfbench/run.py --workload cdc_serve --seed 1 --seconds 24 --trace 0

Run from the repository root (the engine package is imported from there).
Set-up starts Spark (local[<cores>]), generates the seeded inputs and
builds the table or index, and runs a fixed number of untimed warm-up
cycles. The closed loop then runs a fixed number of timed cycles, as many
as fit in ``--seconds`` on the reference host (``Workload.cycle_s``).
Every timed call is checked against a DuckDB twin. The
last stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics (from a Spark event log plus the benchmark's own spans) with
``--trace 1``. The line before it (``perfbench-report``) prints the
workload's own metric names with units, the gated timings in measured
seconds and the correctness verdict; stderr ends with one
``perfbench-span`` line per call.

The gated timings are in reference seconds (``ref_s``): measured seconds
scaled by how fast a fixed, engine-free calibration job ran at the cycle
boundaries of the same loop (``workloads.Workload.calibrate``). This
shared host's speed swings up to 2x within ten minutes, which measured
seconds alone cannot compare across. ``setup_s`` is measured wall
seconds.

All scratch (tables, blobs, Spark local dirs, event log) lives under
``.perfbench_work/`` in the current directory and is removed on exit.
Before exiting, also on SIGTERM or SIGHUP, it ends every process it
started -- the Spark JVM, its Python daemon and workers -- and waits for
each.
Exit code 0 with ``correct: true``; 1 when a check failed; 2 when the
engine package or enough memory/disk is missing (no result line then).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

_T0 = time.perf_counter()
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

PACKAGE = "kafka_connect_claim_check_smt_spark"
END_TO_END = {
    "setup_s": "s",
    "write_p50_s": "ref_s",
    "read_p50_s": "ref_s",
    "throughput_per_s": "1/ref_s",
    "stored_bytes_per_live_byte": "ratio",
}
MIN_FREE_MEM = 4 << 30  # heap + 4 python workers + page cache headroom
MIN_FREE_DISK = 2 << 30
HEAP = "2g"


def preflight(root: Path) -> str | None:
    if not (root / PACKAGE / "__init__.py").is_file():
        return f"engine package {PACKAGE}/ not found in {root}"
    try:
        with open("/proc/meminfo") as f:
            mem = {ln.split(":")[0]: int(ln.split()[1]) * 1024 for ln in f}
        if mem["MemAvailable"] < MIN_FREE_MEM:
            return f"only {mem['MemAvailable'] >> 20} MB memory available"
    except OSError:
        pass  # no /proc: nothing to check against
    if shutil.disk_usage(root).free < MIN_FREE_DISK:
        return f"less than {MIN_FREE_DISK >> 30} GB free under {root}"
    return None


def descendants() -> list[int]:
    """Every process under this one, zombies included: the Spark JVM and
    its Python daemon and workers, and (see ``adopt_orphans``) whatever
    they left behind."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # exited meanwhile
            children.setdefault(ppid, []).append(int(d))
    found, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def adopt_orphans() -> None:
    """Make this process the reaper of every process started under it. The
    JVM's own children then become ours when it exits, so ``stop_all`` can
    wait for them too instead of leaving them to init."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_all(spark) -> None:
    """Stop Spark, then end every process started under this one and wait
    until each has exited and been reaped. ``spark.stop()`` leaves the JVM
    running until this process exits; it exits when its stdin closes."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception as exc:  # noqa: BLE001 - e.g. a py4j call cut by a signal
            print(f"perfbench: spark.stop() failed: {exc!r}"[:300], file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            pass  # killed below
    for sig, grace in ((signal.SIGTERM, 20.0), (signal.SIGKILL, 20.0)):
        for pid in descendants():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                return  # no child left, running or zombie
            time.sleep(0.05)


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every
    descendant: the Spark JVM and its Python daemon and workers."""
    kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the whole host so far, in jiffies."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[7], sum(t)


def start_spark(work: Path, root: Path, traced: bool):
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # Python workers are forked by the JVM and inherit this environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    # shuffle and spill files (Spark prefers this over spark.local.dir)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if traced:
        (work / "eventlog").mkdir()
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", (work / "eventlog").as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-blob", action="store_true", help="self-test: damage one blob after set-up")
    args = ap.parse_args(argv)

    root = Path.cwd()
    problem = preflight(root)
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    from workloads import CALIB_REF_S, REPORT_UNITS, WORKLOADS, Tracer  # noqa: E402 - needs the path above

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.corrupt_blob and not hasattr(WORKLOADS[args.workload], "corrupt_blob"):
        print("perfbench: --corrupt-blob needs a workload that reads blobs", file=sys.stderr)
        return 2
    work_root = root / ".perfbench_work"
    work = work_root / f"{args.workload}-{os.getpid()}"
    if work_root.is_dir():  # leftovers of killed runs
        for old in work_root.iterdir():
            if old.is_dir() and old.name.split("-")[0] in WORKLOADS:
                shutil.rmtree(old, ignore_errors=True)
    spark = None
    # a kill of this process must still stop the JVM and its workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    signal.signal(signal.SIGHUP, lambda *_: sys.exit(129))
    adopt_orphans()
    try:
        spark = start_spark(work, root, bool(args.trace))
        spark_start_s = time.perf_counter() - _T0
        tracer = Tracer(spark, bool(args.trace))
        w = WORKLOADS[args.workload](spark, work, args.seed, tracer, args.seconds)
        w.setup()
        setup_s = time.perf_counter() - _T0
        if args.corrupt_blob:
            w.corrupt_blob()
        steal0, total0 = cpu_jiffies()
        w.run()
        steal1, total1 = cpu_jiffies()
        rss = peak_rss_mb()
        w.verify()
        if args.trace:
            spark.stop()
            spark = None
            from eventlog import EventLog
            from layers import PER_LAYER, per_layer

            (log,) = (work / "eventlog").iterdir()
            values = per_layer(w, EventLog(str(log)))
            units = PER_LAYER
            for name in w.exercised:
                w.attempted += 1
                w.check(values[name] > 0, f"traced run: {name} is 0")
        else:
            values = {"setup_s": setup_s, **w.e2e(w.host_factor())}
            units = END_TO_END
        correct = w.failed == 0
        wall = w.e2e()
        mine = {
            "setup_s": setup_s,
            "spark_start_s": spark_start_s,
            "peak_rss_mb": rss,
            "failed_op_ratio": w.failed / max(w.attempted, 1),
            # share of the host's CPU time the hypervisor took during the
            # timed loop: high values explain slow runs on a shared VM
            "host_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
            "calib_p50_s": CALIB_REF_S / w.host_factor(),
            # the gated timings in measured seconds
            "write_p50_wall_s": wall["write_p50_s"],
            "read_p50_wall_s": wall["read_p50_s"],
            "throughput_wall_per_s": wall["throughput_per_s"],
            **w.report(),
        }
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "correct": correct,
            "metrics": {k: {"value": v, "unit": REPORT_UNITS[k]} for k, v in mine.items()},
        }
        for sp in tracer.spans:
            print(f"perfbench-span {sp['label']} {sp['dur']:.3f}s {sp['parent']}", file=sys.stderr)
        print("perfbench-report " + json.dumps(report), flush=True)
        result = {
            "correct": correct,
            "attempted": max(w.attempted, 1),
            "failed": w.failed,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }
        print(json.dumps(result), flush=True)
        return 0 if correct else 1
    finally:
        stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work_root.rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
