"""Per-layer metrics of the traced run, named after the engine's modules.

Each value is the median over the workload's calls of that kind (totals
for the storage counts). A layer a workload does not exercise reads 0:
that is the measured bypass, not a missing value.
"""

from __future__ import annotations

from eventlog import EventLog
from workloads import Workload, dir_bytes, median

_SPARK = {
    "jobs": "count",
    "stages": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_read_bytes": "B",
    "spill_disk_bytes": "B",
    "python_bytes_sent": "B",
}

PER_LAYER = {
    # streaming.replay
    "replay.apply_s": "s",
    "replay.jobs_per_epoch": "count",
    "replay.driver_gap_s": "s",
    # plans.lake
    "lake.merge.shuffle_write_bytes": "B",
    "lake.merge.spill_bytes": "B",
    "lake.merge.task_skew": "ratio",
    "lake.write.files": "count",
    "lake.write.bytes": "B",
    "lake.lookup.jobs": "count",
    "lake.lookup.files_scanned": "count",
    "lake.lookup.rows_scanned_per_row_returned": "ratio",
    "lake.read_changes.shuffle_bytes": "B",
    # operators.claimcheck
    "offload.udf_rows_in": "count",
    "offload.udf_s": "s",
    "offload.put_yield": "ratio",
    "hydrate.blobs_get": "count",
    "hydrate.scan_s": "s",
    "hydrate.s": "s",
    # storage (observed from the blob root)
    "storage.blobs": "count",
    "storage.bytes": "B",
    "storage.put_dedup_ratio": "ratio",
    # plans.feed
    "feed.poll_s": "s",
    "feed.jobs_per_poll": "count",
    "feed.rows_per_poll": "count",
    # operators.minhash / operators.dedup_index
    "index.featurize_s": "s",
    "index.probe.band_scan_rows": "count",
    "index.probe.candidate_pairs": "count",
    "index.probe.verify_yield": "ratio",
    "index.probe.jobs": "count",
    "index.add.jobs": "count",
    # Spark runtime, per write call and per read call of the workload
    **{f"spark.{side}.{k}": u for side in ("write", "read") for k, u in _SPARK.items()},
    # the traced run's own call medians: against the untraced write_p50_s
    # and read_p50_s they give the tracing overhead
    "trace.write_p50_s": "s",
    "trace.read_p50_s": "s",
}


def _med(calls, fn) -> float:
    return float(median([fn(c) for c in calls]))


def _spark(calls) -> dict[str, float]:
    return {
        "jobs": _med(calls, lambda c: len(c.jobs)),
        "stages": _med(calls, lambda c: len(c.stage_tasks)),
        "executor_run_s": _med(calls, lambda c: c.task_sum("run_ms") / 1e3),
        "executor_cpu_s": _med(calls, lambda c: c.task_sum("cpu_ns") / 1e9),
        "gc_s": _med(calls, lambda c: c.task_sum("gc_ms") / 1e3),
        "shuffle_read_bytes": _med(calls, lambda c: c.task_sum("shuffle_read")),
        "spill_disk_bytes": _med(calls, lambda c: c.task_sum("disk_spill")),
        "python_bytes_sent": _med(calls, lambda c: c.task_sum("py_sent")),
    }


def per_layer(w: Workload, ev: EventLog) -> dict[str, float]:
    out = {k: 0.0 for k in PER_LAYER}
    x = w.extra
    spans = {s["label"]: s for s in w.tracer.spans}
    for side, name in (("write", w.write), ("read", w.read)):
        out[f"trace.{side}_p50_s"] = median(w.tracer.durations(name))
        for k, v in _spark(ev.calls(name + "#")).items():
            out[f"spark.{side}.{k}"] = v

    applies = ev.calls("replay.apply#")
    if applies:
        out["replay.apply_s"] = median(w.tracer.durations("replay.apply"))
        out["replay.jobs_per_epoch"] = _med(applies, lambda c: len(c.jobs))
        out["replay.driver_gap_s"] = _med(
            applies, lambda c: spans[c.label]["dur"] - c.job_busy_s()
        )
        out["lake.merge.shuffle_write_bytes"] = _med(applies, lambda c: c.task_sum("shuffle_write"))
        out["lake.merge.spill_bytes"] = _med(applies, lambda c: c.task_sum("mem_spill"))
        out["lake.merge.task_skew"] = _med(applies, lambda c: c.busiest_stage_skew())
        out["offload.udf_rows_in"] = _med(
            applies, lambda c: ev.node_metric(c, "ArrowEvalPython", "number of output rows")
        )
        out["offload.udf_s"] = _med(
            applies, lambda c: c.stage_run_s(ev.node_stages(c, "ArrowEvalPython"))
        )
        # observed outside Spark around every epoch, set-up ones included
        out["lake.write.files"] = median(x["write_files"])
        out["lake.write.bytes"] = median(x["write_bytes"])
        out["offload.put_yield"] = median(
            [p / o for p, o in zip(x["blobs_put"], x["oversized_winners"]) if o]
        )
        blobs, blob_bytes = dir_bytes(w.work / "blobs")
        out["storage.blobs"] = blobs
        out["storage.bytes"] = blob_bytes
        out["storage.put_dedup_ratio"] = blobs / sum(x["oversized_winners"])

    lookups = ev.calls("lake.lookup#")
    if lookups:
        timed_rows = x["lookup_rows"][-len(lookups):]  # set-up lookups come first
        out["lake.lookup.jobs"] = _med(lookups, lambda c: len(c.jobs))
        out["lake.lookup.files_scanned"] = median(x["lookup_files"])
        out["lake.lookup.rows_scanned_per_row_returned"] = median(
            [
                ev.node_metric(c, "Scan parquet", "number of output rows") / max(n, 1)
                for c, n in zip(lookups, timed_rows)
            ]
        )
        out["hydrate.blobs_get"] = _med(
            lookups, lambda c: ev.node_metric(c, "ArrowEvalPython", "number of output rows")
        )
    if ev.calls("hydrate.scan#"):
        out["hydrate.scan_s"] = median(w.tracer.durations("hydrate.scan"))
        out["hydrate.s"] = out["hydrate.scan_s"] - median(w.tracer.durations("lake.read"))
    polls = ev.calls("feed.poll#")
    if polls:
        out["feed.poll_s"] = median(w.tracer.durations("feed.poll"))
        out["feed.jobs_per_poll"] = _med(polls, lambda c: len(c.jobs))
        out["feed.rows_per_poll"] = median(x["feed_rows"])
        out["lake.read_changes.shuffle_bytes"] = _med(polls, lambda c: c.task_sum("shuffle_write"))

    probes = ev.calls("index.probe#")
    adds = ev.calls("index.add#")
    if probes:
        out["index.featurize_s"] = _med(
            probes + adds, lambda c: c.stage_run_s(ev.checkpoint_execution_stages(c))
        )
        out["index.probe.band_scan_rows"] = _med(
            probes, lambda c: ev.node_metric(c, "Scan parquet", "number of output rows")
        )
        cand = [ev.outer_aggregate_rows(c) for c in probes]
        out["index.probe.candidate_pairs"] = median(cand)
        out["index.probe.verify_yield"] = median(
            [v / c for v, c in zip(x["verified_pairs"], cand) if c]
        )
        out["index.probe.jobs"] = _med(probes, lambda c: len(c.jobs))
        out["index.add.jobs"] = _med(adds, lambda c: len(c.jobs))
    return out
