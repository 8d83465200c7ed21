"""The closed-loop workloads. One caller thread drives the engine only
through its public calls; each call runs inside ``Tracer.call`` so the
traced run can attribute Spark's jobs to it. Every workload has a write
call and a read call, whose medians are the ``write_p50_s`` and
``read_p50_s`` end-to-end metrics.

- ``cdc_serve``: one lake table, ingested and served. Each cycle applies
  the next change-log epoch through ``apply_cdc_batch`` (write), then
  reads what it committed the ways a user does -- a hydrated lookup
  (read) of hot keys that include offloaded rows and a one-version
  change-feed poll; the last cycle adds a full hydrated scan. Blob puts
  and gets on one table, so a write-path layout gain that costs reads
  shows.
- ``neardup_index``: probe (read) then add (write) of each micro-batch
  against a persistent ``MinHashIndex``. Featurize hashing, band scan,
  pair aggregation and verify on small, overhead-bound inputs; merge,
  claim-check offload and hydrate are bypassed.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import contextmanager
from pathlib import Path
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq

import gen
import twins

LOG_DDL = (
    "event_id BIGINT, commit_seq BIGINT, op STRING, ts_ms BIGINT, repo STRING, "
    "path STRING, commit STRING, lang STRING, content STRING"
)
DOC_DDL = "doc_id BIGINT, text STRING"
NEARDUP_THRESHOLD = 0.5
# reference seconds are seconds on a host where the calibration job
# (``Workload.calibrate``) takes this long; it took 0.12-0.35 s on the
# 4-core host the base was drawn on
CALIB_REF_S = 0.25
# units of the workload metrics in the perfbench-report line
REPORT_UNITS = {
    "setup_s": "s",
    "spark_start_s": "s",
    "peak_rss_mb": "MB",
    "failed_op_ratio": "ratio",
    "epoch_p50_s": "s",
    "ingest_events_per_s": "events/s",
    "stored_bytes_per_live_byte": "ratio",
    "lookup_p50_s": "s",
    "feed_poll_p50_s": "s",
    "scan_mb_per_s": "MB/s",
    "probe_p50_s": "s",
    "index_add_p50_s": "s",
    "planted_pair_recall": "ratio",
    "cycles": "count",
    "host_steal_share": "ratio",
    "calib_p50_s": "s",
    "write_p50_wall_s": "s",
    "read_p50_wall_s": "s",
    "throughput_wall_per_s": "1/s",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(root: Path) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``root``."""
    n = b = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            n += 1
            b += os.path.getsize(os.path.join(dirpath, name))
    return n, b


def files_bytes(paths) -> int:
    return sum(os.path.getsize(unquote(urlparse(p).path)) for p in paths)


class Tracer:
    """Spans around every call into the engine, kept in memory. When traced,
    the span label is also the Spark job description of the call's jobs."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}
        self.parent = "setup"  # the closed-loop cycle the next calls belong to

    @contextmanager
    def call(self, name: str):
        i = self.counts.get(name, 0)
        self.counts[name] = i + 1
        span = {"name": name, "label": f"{name}#{i}", "parent": self.parent, "start": time.time()}
        if self.traced:
            self.sc.setJobDescription(span["label"])
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span["dur"] = time.perf_counter() - t0
            if self.traced:
                self.sc.setJobDescription(None)
            self.spans.append(span)

    def durations(self, name: str) -> list[float]:
        """Seconds of the calls of this name that succeeded."""
        return [s["dur"] for s in self.spans if s["name"] == name and "error" not in s]


class Workload:
    write = ""  # span name of the write call (write_p50_s)
    read = ""  # span name of the read call (read_p50_s)
    # per-layer metrics a traced run must see above 0, or the workload did
    # not exercise the layer it exists for (e.g. a column-pruned UDF)
    exercised: tuple[str, ...] = ()
    # a timed cycle's wall time on the 4-core host the base was drawn on,
    # in its slower hours: ``--seconds`` buys round(seconds / cycle_s)
    # cycles, a fixed count, so the number of samples does not depend on
    # how fast the host runs
    cycle_s = 6.0
    # untimed cycles in set-up. One takes the cold first calls (2-4x the
    # timed latency); epoch and add latency then still fall 25-35% over
    # the next four to ten cycles, lookups ~10%, while probes rise as the
    # index grows (the per-call series are in base_local4.json). A flat
    # stretch costs more than the per-run time budget. The count is
    # fixed, so every run times the same stretch of that curve.
    warm_cycles = 1

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer, seconds: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.n_cycles = max(1, round(seconds / self.cycle_s))
        self.phase = "setup."  # span-name prefix; "" in the timed loop
        self.attempted = 0
        self.failed = 0
        self.cycles = 0
        self.extra: dict[str, list] = {}  # per-layer numbers observed outside Spark

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)
        return ok

    def op(self, name: str, fn):
        """One attempted operation, timed as span ``phase + name``; an
        exception counts as failed."""
        self.attempted += 1
        with self.tracer.call(self.phase + name) as span:
            try:
                return fn()
            except Exception as exc:  # noqa: BLE001 - the run must report, not die
                span["error"] = repr(exc)[:300]
                self.check(False, f"{span['label']}: {exc!r}"[:500])
                return None

    def warm_up(self) -> None:
        self.loop(self.warm_cycles)

    def run(self) -> None:
        self.phase = ""
        self.cycles = self.loop(self.n_cycles)

    def loop(self, cycles: int) -> int:
        for i in range(cycles):
            self.tracer.parent = f"{self.phase}cycle#{i}"
            self.calibrate()
            self.step(last=i == cycles - 1)
        self.calibrate()
        return cycles

    def calibrate(self) -> None:
        """A fixed Spark job that calls no engine code (codegen, a shuffle,
        a sha256 per row), run four times at each cycle boundary, never
        inside a call. The latency of the last three runs tracks how fast
        this shared host runs right now -- hypervisor steal, neighbours --
        and the gated timings are scaled by it (``host_factor``). The first
        run is not counted: it absorbs what the engine's last call left
        behind (GC, JIT compiles), which measured 20-50% on it."""
        from pyspark.sql import functions as F

        for name in ("calib.flush", "calib", "calib", "calib"):
            with self.tracer.call(self.phase + name):
                (
                    self.spark.range(0, 200_000, 1, 8)
                    .select(
                        (F.col("id") % 1009).alias("k"),
                        F.sha2(F.col("id").cast("string"), 256).alias("h"),
                    )
                    .groupBy("k")
                    .agg(F.max("h"))
                    .collect()
                )

    def observe(self, key: str, value) -> None:
        if self.tracer.traced:
            self.extra.setdefault(key, []).append(value)

    def items(self) -> tuple[int, tuple[str, ...]]:
        """(items processed by the timed loop, the calls that processed them)"""
        raise NotImplementedError

    def host_factor(self) -> float:
        """Reference seconds per measured second: CALIB_REF_S over the
        median latency of the calibration job in this run's timed loop (a
        median, as the gated timings are)."""
        return CALIB_REF_S / median(self.tracer.durations("calib"))

    def e2e(self, f: float = 1.0) -> dict:
        """The gated timings, measured seconds times ``f``."""
        t = self.tracer
        n, calls = self.items()
        wall = sum(sum(t.durations(c)) for c in calls)
        return {
            "write_p50_s": median(t.durations(self.write)) * f,
            "read_p50_s": median(t.durations(self.read)) * f,
            "throughput_per_s": n / wall / f if wall else 0.0,
            "stored_bytes_per_live_byte": self.stored_ratio,
        }


class CdcServe(Workload):
    """Ingest a seeded change log into one table and serve it hydrated."""

    write = "replay.apply"
    read = "lake.lookup"
    exercised = ("offload.udf_rows_in", "hydrate.blobs_get", "feed.rows_per_poll")
    n_keys = 20_000
    epoch_events = 20_000
    lookup_keys = 50

    def setup(self) -> None:
        from kafka_connect_claim_check_smt_spark import ClaimCheckConfig
        from kafka_connect_claim_check_smt_spark.plans.lake import LakeTable

        self.log_dir = self.work / "log"
        self.log_dir.mkdir(parents=True)
        self.log = gen.ChangeLog(self.seed, self.n_keys)
        self.draws = gen.KeyDraws(self.seed)
        self.cfg = ClaimCheckConfig(
            root_dir=str(self.work / "blobs"), threshold_bytes=gen.THRESHOLD
        )
        self.table = LakeTable(
            self.spark, str(self.work / "lake"), ["repo", "path"], "commit_seq",
            num_buckets=8, op_col="op",
        )
        # bound[v]: the events with commit_seq < bound[v] make up version v
        self.bound = {0: 0}
        self.epochs_timed = 0
        self.lookups: list[tuple[int, list, dict]] = []  # (bound, keys, rows)
        self.polls: list[tuple[int, int, list]] = []  # (from bound, to bound, rows)
        self.scans: list[tuple[int, tuple, float]] = []  # (bound, totals, seconds)
        self.warm_up()
        lake = files_bytes(self.table.read().inputFiles())
        # the generator's own view of the live payloads (ASCII: chars = bytes)
        live = sum(self.log.live.values())
        self.stored_ratio = (lake + dir_bytes(self.work / "blobs")[1]) / live

    def apply_epoch(self, n: int) -> None:
        from kafka_connect_claim_check_smt_spark.streaming.replay import apply_cdc_batch

        t = self.log.epoch(n)
        bid = len(self.bound) - 1
        path = self.log_dir / f"epoch={bid:04d}.parquet"
        pq.write_table(t, path, compression="zstd")
        batch = self.spark.read.schema(LOG_DDL).parquet(str(path))
        if self.tracer.traced:
            files_before = set(self.table.read().inputFiles())
            blobs_before = dir_bytes(self.work / "blobs")[0]
        stats = self.op(
            self.write, lambda: apply_cdc_batch(batch, bid, self.table, self.cfg, uploaded_at_ms=0)
        )
        if stats is None or not self.check(
            not stats.get("skipped") and stats["metrics"]["rows_in"] == n,
            f"epoch {bid}: {stats}",
        ):
            raise RuntimeError(f"epoch {bid} did not commit; later reads have no twin")
        self.bound[stats["version"]] = self.log.next_event
        if not self.phase:
            self.epochs_timed += 1
        if self.tracer.traced:
            new = set(self.table.read().inputFiles()) - files_before
            self.observe("write_files", len(new))
            self.observe("write_bytes", files_bytes(new))
            self.observe("blobs_put", dir_bytes(self.work / "blobs")[0] - blobs_before)
            self.observe("oversized_winners", oversized_winners(t))

    def head_bound(self) -> int:
        return self.bound[self.table.current_version()]

    def lookup(self) -> None:
        from pyspark.sql import functions as F

        from kafka_connect_claim_check_smt_spark import hydrate

        keys = self.draws.draw(self.log, self.lookup_keys)
        rows = self.op(
            self.read,
            lambda: hydrate(self.table.lookup(keys), self.cfg)
            .select("repo", "path", "commit_seq", F.sha2("content", 256))
            .collect(),
        )
        if rows is not None:
            got = {(r[0], r[1]): (r[2], r[3]) for r in rows}
            self.lookups.append((self.head_bound(), keys, got))
            self.observe("lookup_files", self.table.last_probe_stats["files_scanned"])
            self.observe("lookup_rows", len(rows))

    def poll(self) -> None:
        from pyspark.sql import functions as F

        from kafka_connect_claim_check_smt_spark.plans.feed import ChangeFeedConsumer

        head = self.table.current_version()
        c = ChangeFeedConsumer(self.table, f"perfbench-{len(self.polls)}")
        c.commit(head - 1)

        def consume():
            changes, upto = c.poll(max_versions=1)
            rows = changes.select(
                "_change_type", "repo", "path", "commit_seq", F.octet_length("content")
            ).collect()
            c.commit(upto)
            return upto, rows

        res = self.op("feed.poll", consume)
        if res is not None:
            upto, rows = res
            self.check(upto == head, f"feed poll from v{head - 1} ended at v{upto}")
            self.polls.append((self.bound[head - 1], self.bound[head], rows))
            self.observe("feed_rows", len(rows))

    def scan(self) -> None:
        from pyspark.sql import functions as F

        from kafka_connect_claim_check_smt_spark.streaming.replay import read_back

        res = self.op(
            "hydrate.scan",
            lambda: read_back(self.spark, self.table, self.cfg)
            .agg(F.count(F.lit(1)), F.sum(F.octet_length("content")))
            .collect()[0],
        )
        if res is None:
            return
        self.scans.append((self.head_bound(), tuple(res), self.tracer.spans[-1]["dur"]))
        if self.tracer.traced and not self.phase:
            # the same aggregate without hydration, over the same snapshot
            self.op(
                "lake.read",
                lambda: self.table.read()
                .agg(F.count(F.lit(1)), F.sum(F.octet_length("content")))
                .collect(),
            )

    def step(self, last: bool) -> None:
        self.apply_epoch(self.epoch_events)
        self.lookup()
        self.poll()
        if last:  # one full scan closes the warm-up and the timed loop
            self.scan()

    def corrupt_blob(self) -> None:
        """Self-test hook: flip the bytes (size kept) of one live row's blob;
        the next full scan must fail its integrity check."""
        (url,) = (
            self.table.read()
            .where("claim_check IS NOT NULL")
            .select("claim_check.reference_url")
            .limit(1)
            .collect()[0]
        )
        p = Path(unquote(urlparse(url).path))
        p.write_bytes(bytes(b ^ 0x20 for b in p.read_bytes()))

    def verify(self) -> None:
        """Every read against the LWW twin at the version it read; the final
        hydrated table against LWW over the whole log."""
        from pyspark.sql import functions as F

        from kafka_connect_claim_check_smt_spark.streaming.replay import read_back

        twin = twins.LogTwin(str(self.log_dir / "*.parquet"))
        try:
            for hi, keys, got in self.lookups:
                st = twin.state(hi)
                want = {k: st[k][:2] for k in keys if k in st}
                self.check(got == want, f"lookup at {hi} of {keys[:2]}...: {len(got)} rows vs twin {len(want)}")
            for lo, hi, rows in self.polls:
                want = twins.net_changes(twin.state(lo), twin.state(hi))
                got = sorted((r[0], r[1], r[2], r[3]) for r in rows)
                self.check(got == want, f"feed ({lo}, {hi}]: {len(got)} rows vs twin {len(want)}")
            for hi, got, _ in self.scans:
                want = twins.totals(twin.state(hi))
                self.check(got == want, f"scan at {hi}: {got} vs twin {want}")
            final = {k: v[:2] for k, v in twin.state(self.head_bound()).items()}
        finally:
            twin.close()
        rows = self.op(
            "verify.final",
            lambda: read_back(self.spark, self.table, self.cfg)
            .select("repo", "path", "commit_seq", F.sha2("content", 256))
            .collect(),
        )
        if rows is not None:
            got = {(r[0], r[1]): (r[2], r[3]) for r in rows}
            self.check(got == final, f"final table != LWW twin ({len(got)} vs {len(final)} keys)")

    def items(self) -> tuple[int, tuple[str, ...]]:
        return self.epochs_timed * self.epoch_events, (self.write,)

    def _ingest_rate(self) -> float:
        d = self.tracer.durations(self.write)
        return self.epochs_timed * self.epoch_events / sum(d) if d else 0.0

    def report(self) -> dict:
        timed = self.scans[1:]  # the first is the warm-up's
        return {
            "epoch_p50_s": median(self.tracer.durations(self.write)),
            "ingest_events_per_s": self._ingest_rate(),
            "stored_bytes_per_live_byte": self.stored_ratio,
            "lookup_p50_s": median(self.tracer.durations(self.read)),
            "feed_poll_p50_s": median(self.tracer.durations("feed.poll")),
            "scan_mb_per_s": median([t[1][1] / t[2] / 1e6 for t in timed]),
            "cycles": self.cycles,
        }


def oversized_winners(epoch) -> int:
    """Rows of an epoch whose event is its key's last in the epoch, is not
    a delete and carries an oversized payload: what the offload must put."""
    last = {}
    for repo, path, op, content in zip(
        *(epoch.column(c).to_pylist() for c in ("repo", "path", "op", "content"))
    ):
        last[(repo, path)] = (op, len(content.encode()))
    return sum(1 for op, size in last.values() if op != "delete" and size > gen.THRESHOLD)


class NeardupIndex(Workload):
    """Probe-then-add curation loop over a persistent MinHashIndex."""

    write = "index.add"
    read = "index.probe"
    exercised = ("index.featurize_s", "index.probe.band_scan_rows")
    n_base = 1000
    batch_size = 100

    def setup(self) -> None:
        from kafka_connect_claim_check_smt_spark.operators.dedup_index import MinHashIndex

        self.corpus = gen.neardup_corpus(
            self.seed, self.n_base, self.warm_cycles + self.n_cycles, self.batch_size
        )
        self.docs_dir = self.work / "docs"
        self.docs_dir.mkdir(parents=True)
        base, self.batch_paths = self.corpus.write(str(self.docs_dir))
        self.index = MinHashIndex(self.spark, str(self.work / "index"), num_buckets=16)
        self.probed: dict[int, set] = {}
        self.batch_no = 0
        base_df = self.spark.read.schema(DOC_DDL).parquet(base)
        self.op(self.write, lambda: self.index.add(base_df, epoch_id="base"))
        self.warm_up()
        index_bytes = files_bytes(
            self.index.bands_t.read().inputFiles() + self.index.sigs_t.read().inputFiles()
        )
        text_bytes = sum(
            len(t.encode())
            for tbl in (self.corpus.base, *self.corpus.batches[: self.warm_cycles])
            for t in tbl.column("text").to_pylist()
        )
        self.stored_ratio = index_bytes / text_bytes

    def step(self, last: bool) -> None:
        b = self.batch_no
        self.batch_no += 1
        df = self.spark.read.schema(DOC_DDL).parquet(self.batch_paths[b])
        rows = self.op(self.read, lambda: self.index.probe(df, threshold=NEARDUP_THRESHOLD).collect())
        if rows is not None:
            self.probed[b] = {(r[0], r[1], r[2]) for r in rows}
        stats = self.op(self.write, lambda: self.index.add(df, epoch_id=f"b{b}"))
        if stats is not None:
            self.check(not stats["sigs"].get("skipped"), f"add of batch {b} skipped: {stats}")

    def verify(self) -> None:
        """Every probe's pairs must equal the DuckDB twin's for its batch."""
        twin_dir = self.work / "twin"
        twin_dir.mkdir()
        pq.write_table(self.corpus.base, str(twin_dir / "base.parquet"))
        for b in range(self.batch_no):
            pq.write_table(self.corpus.batches[b], str(twin_dir / f"b{b:04d}.parquet"))
        want = twins.neardup_pairs(str(twin_dir / "*.parquet"), NEARDUP_THRESHOLD)
        for b, got in self.probed.items():
            self.check(
                got == want.get(b, set()),
                f"probe of batch {b}: {len(got)} pairs vs twin {len(want.get(b, set()))}",
            )
        self.recall = planted_recall(self.corpus, self.probed)
        for b in sorted(self.probed)[self.warm_cycles :]:  # set-up probes come first
            self.observe("verified_pairs", len(self.probed[b]))

    def items(self) -> tuple[int, tuple[str, ...]]:
        return self.batch_size * self.cycles, (self.read, self.write)

    def report(self) -> dict:
        return {
            "probe_p50_s": median(self.tracer.durations(self.read)),
            "index_add_p50_s": median(self.tracer.durations(self.write)),
            "planted_pair_recall": self.recall,
            "stored_bytes_per_live_byte": self.stored_ratio,
            "cycles": self.cycles,
        }


def planted_recall(corpus, probed: dict[int, set]) -> float:
    """Share of planted near-dup pairs (exact 8-gram Jaccard >= threshold,
    source indexed before the probe) that the probes returned."""
    text = {}
    batch_of = {}
    for t in [corpus.base, *corpus.batches]:
        for d, s, b in zip(*(t.column(c).to_pylist() for c in ("doc_id", "text", "batch_no"))):
            text[d], batch_of[d] = s, b
    hits = total = 0
    for d, src in corpus.planted:
        b = batch_of[d]
        if b not in probed or batch_of[src] >= b:
            continue
        a, c = gen.shingles(text[d]), gen.shingles(text[src])
        if len(a & c) / len(a | c) < NEARDUP_THRESHOLD:
            continue
        total += 1
        hits += any(p == d and i == src for p, i, _ in probed[b])
    return hits / total if total else 1.0


WORKLOADS = {"cdc_serve": CdcServe, "neardup_index": NeardupIndex}
