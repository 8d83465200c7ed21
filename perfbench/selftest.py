"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py            # all four
    python3 perfbench/selftest.py determinism

- determinism: the same seed gives byte-identical generated parquet and
  key draws; another seed gives different bytes.
- corrupt_blob: a cdc_serve run whose blob was damaged after set-up
  must fail loudly (exit 1, ``correct: false``), never pass.
- no_leftovers: a run that finishes, and one stopped by SIGTERM during
  set-up, must leave no Spark JVM or PySpark daemon running once they
  have exited.
- bare_checkout: a directory holding only BENCHMARK.json and perfbench/
  (no engine package) must exit non-zero without printing a result.

Runs from the repository root; scratch goes under ``.perfbench_work/``.
"""

from __future__ import annotations

import hashlib
import io
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
from spread import spark_processes  # noqa: E402


def _digest(seed: int) -> str:
    h = hashlib.sha256()

    def add(table):
        buf = io.BytesIO()
        pq.write_table(table, buf, compression="zstd")
        h.update(buf.getvalue())

    log = gen.ChangeLog(seed, 2000)
    for n in (3000, 1000, 1000):
        add(log.epoch(n))
    draws = gen.KeyDraws(seed)
    h.update(json.dumps([draws.draw(log, 10) for _ in range(8)]).encode())
    corpus = gen.neardup_corpus(seed, 300, 3, 30)
    for t in [corpus.base, *corpus.batches]:
        add(t)
    h.update(json.dumps(corpus.planted).encode())
    return h.hexdigest()


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"selftest FAILED: {what}")


def determinism() -> None:
    a, b, c = _digest(7), _digest(7), _digest(8)
    expect(a == b, "same seed gave different inputs")
    expect(a != c, "different seeds gave the same inputs")
    print("determinism: ok")


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def corrupt_blob() -> None:
    p = _run(
        Path.cwd(), "--workload", "cdc_serve", "--seed", "1", "--seconds", "3",
        "--trace", "0", "--corrupt-blob",
    )
    last = json.loads(p.stdout.strip().splitlines()[-1])
    expect(p.returncode == 1, f"corrupt_blob: exit code {p.returncode}")
    expect(last["correct"] is False and last["failed"] > 0, f"corrupt_blob: {last}")
    print(f"corrupt_blob: ok (failed {last['failed']} of {last['attempted']})")


def no_leftovers() -> None:
    expect(not spark_processes(), f"no_leftovers: Spark already running: {spark_processes()}")
    p = _run(Path.cwd(), "--workload", "neardup_index", "--seed", "1", "--seconds", "3", "--trace", "0")
    expect(p.returncode == 0, f"no_leftovers: finished run exited {p.returncode}")
    expect(not spark_processes(), f"no_leftovers: after a finished run: {spark_processes()}")
    run = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_serve", "--seed", "1",
         "--seconds", "3", "--trace", "0"],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    try:
        deadline = time.monotonic() + 120
        while not any("org.apache.spark" in c for c in spark_processes()):
            expect(time.monotonic() < deadline and run.poll() is None, "no_leftovers: Spark never started")
            time.sleep(0.2)
        time.sleep(5)  # into the workload's set-up
        run.terminate()
        code = run.wait(timeout=120)
    finally:
        if run.poll() is None:
            run.kill()
            run.wait()
    expect(code != 0, "no_leftovers: a SIGTERM'd run exited 0")
    expect(not spark_processes(), f"no_leftovers: after SIGTERM: {spark_processes()}")
    print(f"no_leftovers: ok (SIGTERM'd run exited {code})")


def bare_checkout() -> None:
    bare = Path.cwd() / ".perfbench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    try:
        p = _run(bare, "--workload", "cdc_serve", "--seed", "1", "--seconds", "1", "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            bare.parent.rmdir()
        except OSError:
            pass  # other runs' scratch is still there
    expect(p.returncode != 0, "bare_checkout: ran without the engine package")
    expect(not p.stdout.strip(), f"bare_checkout: printed a result: {p.stdout!r}")
    print(f"bare_checkout: ok (exit {p.returncode})")


TESTS = {
    "determinism": determinism,
    "corrupt_blob": corrupt_blob,
    "no_leftovers": no_leftovers,
    "bare_checkout": bare_checkout,
}

if __name__ == "__main__":
    for name in sys.argv[1:] or TESTS:
        TESTS[name]()
