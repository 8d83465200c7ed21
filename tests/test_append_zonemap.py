"""Append-only commits (O(batch) ingest) and manifest zone maps (per-file
min/max skipping).

Why these exist together: merge() is copy-on-write — a high-entropy keyed
batch touches every bucket, so merge-based ingest rewrites the whole table
per epoch. append() writes only the batch's files, which produces the
multi-file buckets where per-file [min, max] stats (collected from parquet
footers at commit, ≙ Iceberg lower_bounds/upper_bounds) let lookup()/
read(where=...) skip files the bucket hash alone cannot.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_connect_claim_check_smt_spark.errors import ClaimCheckError
from kafka_connect_claim_check_smt_spark.plans.lake import (
    LakeTable,
    _canon_stat,
    _collect_file_stats,
    _stats_admit,
)


@pytest.fixture()
def lake_dir():
    d = tempfile.mkdtemp(prefix="lake-az-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _table(spark, lake_dir, **kw):
    kw.setdefault("num_buckets", 4)
    return LakeTable(spark, lake_dir, ["repo", "path"], "commit_seq", op_col="op", **kw)


def _batch(spark, prefix: str, base_seq: int, n: int = 120):
    return spark.range(n).select(
        F.lit("r1").alias("repo"),
        F.format_string(prefix + "%03d", F.col("id")).alias("path"),
        (F.col("id") + base_seq).alias("commit_seq"),
        F.lit("upsert").alias("op"),
        F.lit(prefix).alias("payload"),
    )


# -- append ------------------------------------------------------------------


def test_append_accumulates_files_without_rewrites(spark, lake_dir):
    t = _table(spark, lake_dir)
    r1 = t.append(_batch(spark, "a", 0), epoch_id="e1")
    files_after_e1 = t.stats()["files"]
    r2 = t.append(_batch(spark, "b", 1000), epoch_id="e2")
    assert not r1["skipped"] and not r2["skipped"]
    # epoch 2 ADDED files; epoch 1's files were not rewritten (still listed)
    st = t.stats()
    assert st["files"] == files_after_e1 + r2["files_added"]
    assert t.read().count() == 240
    assert set(t.committed_epochs()) == {"e1", "e2"}


def test_read_over_many_files_runs_no_listing_job(spark, lake_dir):
    """Building a read over more than 32 live files runs no Spark job before
    an action: the manifest names every file, so the paths are listed
    serially on the driver, not by Spark's distributed "Listing leaf files"
    job (one job launch per relation build). The listing threshold is
    restored after the build. Also pins the append write shape: one file
    per bucket, however few write tasks the cluster gives it."""
    t = _table(spark, lake_dir, num_buckets=40)
    t.append(_batch(spark, "a", 0, n=2000), epoch_id="e1")
    files = t._manifest(t.current_version())["files"]
    assert len(files) == 40 and all(len(fs) == 1 for fs in files.values())

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(key, None)
    sc = spark.sparkContext
    group = "lake-read-relation-build"
    sc.setJobGroup(group, "relation build, no action")
    try:
        df = t.read()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc._jsc.clearJobGroup()
    assert jobs == []
    assert spark.conf.get(key, None) == before
    assert df.count() == 2000


def test_append_epoch_exactly_once(spark, lake_dir):
    t = _table(spark, lake_dir)
    t.append(_batch(spark, "a", 0), epoch_id="e1")
    replay = t.append(_batch(spark, "a", 0), epoch_id="e1")
    assert replay["skipped"] is True
    assert t.read().count() == 120


def test_append_schema_evolution_adds_column(spark, lake_dir):
    t = _table(spark, lake_dir)
    t.append(_batch(spark, "a", 0), epoch_id="e1")
    evolved = _batch(spark, "b", 1000).withColumn("lang", F.lit("en"))
    t.append(evolved, epoch_id="e2")
    snap = t.read()
    assert "lang" in snap.columns
    assert snap.filter(F.col("lang").isNull()).count() == 120  # old rows null-fill


def test_merge_resolves_keys_over_appended_base(spark, lake_dir):
    t = _table(spark, lake_dir)
    t.append(_batch(spark, "a", 0), epoch_id="e1")
    upd = spark.range(30).select(
        F.lit("r1").alias("repo"),
        F.format_string("a%03d", F.col("id")).alias("path"),
        (F.col("id") + 5000).alias("commit_seq"),
        F.lit("upsert").alias("op"),
        F.lit("UPD").alias("payload"),
    )
    t.merge(upd, epoch_id="e2")
    snap = t.read()
    assert snap.count() == 120
    assert snap.filter(F.col("payload") == "UPD").count() == 30


def test_append_rebases_safely_on_lost_commit_race(spark, lake_dir):
    """Appends carry only their own rows, so a lost CAS race ALWAYS rebases
    (even on overlapping buckets — where merge must hard-conflict)."""
    ta = _table(spark, lake_dir)
    tb = _table(spark, lake_dir)
    calls = {"n": 0}
    real = LakeTable._commit

    def racing(manifest, expected_version):
        if calls["n"] == 0:
            calls["n"] += 1
            ta.append(_batch(spark, "a", 0), epoch_id="from-a")
        return real(tb, manifest, expected_version)

    tb._commit = racing
    stats = tb.append(_batch(spark, "b", 1000), epoch_id="from-b")
    assert stats["commit_retries"] == 1
    assert set(tb.committed_epochs()) == {"from-a", "from-b"}
    assert tb.read().count() == 240


def test_merge_conflicts_with_interleaved_append_to_same_bucket(spark, lake_dir):
    """A merge whose touched bucket received an interleaved append must NOT
    silently drop the appended rows — its base file set is stale."""
    ta = _table(spark, lake_dir)
    tb = _table(spark, lake_dir)
    ta.merge(_batch(spark, "a", 0), epoch_id="seed")
    calls = {"n": 0}
    real = LakeTable._commit

    def racing(manifest, expected_version):
        if calls["n"] == 0:
            calls["n"] += 1
            ta.append(_batch(spark, "c", 2000), epoch_id="race")  # hits all buckets
        return real(tb, manifest, expected_version)

    tb._commit = racing
    with pytest.raises(ClaimCheckError, match="rewritten by a concurrent"):
        tb.merge(_batch(spark, "a", 3000), epoch_id="upd")
    assert ta.read().count() == 240  # seed + appended race rows intact


def test_compact_consolidates_appended_files(spark, lake_dir):
    t = _table(spark, lake_dir)
    for i, p in enumerate("abc"):
        t.append(_batch(spark, p, i * 1000), epoch_id=f"e{i}")
    before = t.stats()
    assert before["files"] > before["buckets_with_data"]
    t.compact(sort_by_key=True)
    after = t.stats()
    assert after["files"] == after["buckets_with_data"]
    assert after["files_with_stats"] == after["files"]  # fresh zone maps
    assert t.read().count() == 360


def test_vacuum_keeps_files_referenced_by_appended_head(spark, lake_dir):
    t = _table(spark, lake_dir)
    t.append(_batch(spark, "a", 0), epoch_id="e1")
    t.append(_batch(spark, "b", 1000), epoch_id="e2")
    # head (v2) references BOTH epochs' files — vacuum must delete nothing
    assert t.vacuum(keep_versions=1) == 0
    assert t.read().count() == 240


# -- zone maps ---------------------------------------------------------------


def test_range_scan_skips_nonoverlapping_epoch_files(spark, lake_dir):
    t = _table(spark, lake_dir)
    for i, p in enumerate("abc"):
        t.append(_batch(spark, p, i * 1000), epoch_id=f"e{i}")
    got = t.read(where={"commit_seq": (1000, 1119)})
    assert got.count() == 120
    scan = t.last_scan_stats
    assert scan["files_skipped_by_stats"] > 0
    assert scan["files_scanned"] + scan["files_skipped_by_stats"] == scan["files_total"]
    # exactness: pruned read == full read + same filter
    full = t.read().filter(F.col("commit_seq").between(1000, 1119))
    assert got.exceptAll(full).count() == 0 and full.exceptAll(got).count() == 0


def test_half_open_bounds(spark, lake_dir):
    t = _table(spark, lake_dir)
    for i, p in enumerate("ab"):
        t.append(_batch(spark, p, i * 1000), epoch_id=f"e{i}")
    lo_only = t.read(where={"commit_seq": (1000, None)})
    assert lo_only.count() == 120 and t.last_scan_stats["files_skipped_by_stats"] > 0
    hi_only = t.read(where={"commit_seq": (None, 119)})
    assert hi_only.count() == 120 and t.last_scan_stats["files_skipped_by_stats"] > 0


def test_lookup_skips_files_within_bucket(spark, lake_dir):
    t = _table(spark, lake_dir)
    for i, p in enumerate("abc"):
        t.append(_batch(spark, p, i * 1000), epoch_id=f"e{i}")
    out = t.lookup([("r1", "b050")])
    assert out.count() == 1 and out.collect()[0].payload == "b"
    probe = t.last_probe_stats
    # the key's bucket holds one file per epoch; path min/max admits only b's
    assert probe["files_skipped_by_stats"] > 0
    assert probe["buckets_scanned"] == 1


def test_pruning_disabled_without_stats_still_exact(spark, lake_dir):
    t = _table(spark, lake_dir, stats_cols=[])
    for i, p in enumerate("ab"):
        t.append(_batch(spark, p, i * 1000), epoch_id=f"e{i}")
    assert t.stats()["files_with_stats"] == 0
    got = t.read(where={"commit_seq": (1000, 1119)})
    assert got.count() == 120
    assert t.last_scan_stats["files_skipped_by_stats"] == 0  # admits everything


def test_merge_carries_forward_untouched_bucket_stats(spark, lake_dir):
    t = _table(spark, lake_dir, num_buckets=8)
    t.merge(_batch(spark, "a", 0), epoch_id="e1")
    # a one-key merge touches one bucket; the others keep their stats entries
    one = spark.createDataFrame(
        [("r1", "a000", 9000, "upsert", "UPD")],
        "repo string, path string, commit_seq long, op string, payload string",
    )
    t.merge(one, epoch_id="e2")
    st = t.stats()
    assert st["files_with_stats"] == st["files"]


def test_canon_stat_types():
    import datetime

    assert _canon_stat(5) == 5
    assert _canon_stat(2.5) == 2.5
    assert _canon_stat("abc") == "abc"
    assert _canon_stat(True) is None  # bool pruning not supported
    assert _canon_stat(b"\x00") is None  # binary stats untrusted
    # timestamps/dates are NOT prunable: a naive bound is session-timezone
    # in the row filter but timezone-less in the footer — skipping on it
    # could disagree with the filter (silently missing rows)
    assert _canon_stat(datetime.date(1970, 1, 11)) is None
    assert _canon_stat(datetime.datetime(1970, 1, 1, 0, 0, 1)) is None


def test_stats_admit_unit():
    st = {"x": [10, 20], "s": ["b", "d"]}
    assert _stats_admit(st, {"x": (15, 25)})
    assert not _stats_admit(st, {"x": (21, None)})
    assert not _stats_admit(st, {"x": (None, 9)})
    assert _stats_admit(st, {"x": (20, 20)})  # inclusive boundary
    assert not _stats_admit(st, {"s": ("e", "f")})
    assert _stats_admit(st, {"s": ("a", "b")})
    assert _stats_admit(st, {"missing": (0, 1)})  # no stats -> admit
    assert _stats_admit(None, {"x": (0, 1)})
    assert _stats_admit(st, {"x": ("str", "str")})  # kind mismatch -> admit


def test_collect_file_stats_from_footers(spark, lake_dir, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (9, "z", -2.0)], "i long, s string, f double"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "p"))
    rel = [
        str(p.relative_to(tmp_path))
        for p in (tmp_path / "p").glob("*.parquet")
    ]
    stats = _collect_file_stats(tmp_path, rel, ["i", "s", "f", "absent"])
    (only,) = stats.values()
    assert only["i"] == [1, 9]
    assert only["s"] == ["a", "z"]
    assert only["f"] == [-2.0, 1.5]
    assert "absent" not in only


# -- partial / LWW-resolving compaction ---------------------------------------


def test_partial_compact_rewrites_only_file_heavy_buckets(spark, lake_dir):
    t = _table(spark, lake_dir, num_buckets=4)
    # three appends -> 3 files in every populated bucket
    for i, p in enumerate("abc"):
        t.append(_batch(spark, p, i * 1000), epoch_id=f"e{i}")
    m_before = t._manifest(t.current_version())
    heavy = {b for b, fs in m_before["files"].items() if len(fs) >= 3}
    assert heavy  # every bucket, in fact
    # threshold above actual file counts: nothing selected, clean skip
    res = t.compact(min_files_per_bucket=99)
    assert res["skipped"]
    res = t.compact(min_files_per_bucket=3)
    assert not res["skipped"] and res["buckets"] == len(heavy)
    m_after = t._manifest(t.current_version())
    assert all(len(fs) == 1 for fs in m_after["files"].values())
    assert t.read().count() == 360
    # zone maps refreshed for rewritten files
    st = t.stats()
    assert st["files_with_stats"] == st["files"]


def test_partial_compact_leaves_untouched_buckets_alone(spark, lake_dir):
    t = _table(spark, lake_dir, num_buckets=8)
    # seed every bucket with one merge epoch, then append twice into all
    t.merge(_batch(spark, "a", 0), epoch_id="seed")
    t.append(_batch(spark, "b", 1000), epoch_id="e1")
    m_before = t._manifest(t.current_version())
    # only buckets with >= 2 files compact; single-file buckets keep their
    # exact file entries (identity, not just count)
    res = t.compact(min_files_per_bucket=2)
    m_after = t._manifest(t.current_version())
    for b, fs in m_before["files"].items():
        if len(fs) < 2:
            assert m_after["files"][b] == fs
    assert t.read().count() == 240
    assert not res["skipped"]


def test_resolving_compact_collapses_superseded_rows(spark, lake_dir):
    t = _table(spark, lake_dir, num_buckets=4)
    t.append(_batch(spark, "a", 0), epoch_id="e1")
    # re-append the SAME keys with higher seq (append contract says new keys,
    # but resolve_lww compaction is exactly the repair for this state)
    t.append(
        _batch(spark, "a", 5000).withColumn("payload", F.lit("NEW")),
        epoch_id="e2",
    )
    assert t.read().count() == 240  # both generations visible pre-resolve
    t.compact(resolve_lww=True)
    snap = t.read()
    assert snap.count() == 120
    assert {r.payload for r in snap.collect()} == {"NEW"}


def test_resolving_compact_keeps_tombstone_semantics(spark, lake_dir):
    t = _table(spark, lake_dir, num_buckets=2)
    t.merge(
        spark.createDataFrame(
            [("r1", "a", 1, "insert", "x"), ("r1", "b", 2, "insert", "y")],
            "repo string, path string, commit_seq long, op string, payload string",
        ),
        epoch_id=0,
    )
    t.merge(
        spark.createDataFrame(
            [("r1", "a", 10, "delete", "")],
            "repo string, path string, commit_seq long, op string, payload string",
        ),
        epoch_id=1,
    )
    # resolve keeps the winning tombstone (watermark not passed)
    t.compact(resolve_lww=True, tombstone_watermark=5)
    assert t.read(include_tombstones=True).count() == 2
    assert {r.path for r in t.read().collect()} == {"b"}
    # watermark past the tombstone: resolved AND GC'd in one pass
    t.compact(resolve_lww=True, tombstone_watermark=11)
    assert t.read(include_tombstones=True).count() == 1


# -- parquet bloom filters -----------------------------------------------------


def test_bloom_filter_cols_written_and_results_identical(spark, lake_dir):
    """Opt-in native parquet blooms: same data written with and without
    bloom_filter_cols must produce identical query results, and the bloomed
    files must actually carry the filter (strictly larger footprint for
    identical rows — the bloom is the only difference)."""
    import os

    def size(root):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(os.path.join(root, "data"))
            for f in fs
        )

    rows = spark.range(5000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("repo"),
        F.lit("p").alias("path"),
        F.col("id").alias("commit_seq"),
        F.lit("upsert").alias("op"),
        F.lit("x").alias("payload"),
    )
    plain = LakeTable(
        spark, lake_dir + "/plain", ["repo", "path"], "commit_seq",
        num_buckets=2, op_col="op",
    )
    bloomed = LakeTable(
        spark, lake_dir + "/bloom", ["repo", "path"], "commit_seq",
        num_buckets=2, op_col="op",
        bloom_filter_cols=["repo"], bloom_filter_ndv=10_000,
    )
    plain.append(rows, epoch_id="e0")
    bloomed.append(rows, epoch_id="e0")
    assert size(lake_dir + "/bloom") > size(lake_dir + "/plain")
    key = rows.limit(1).collect()[0].repo
    got_p = plain.lookup([(key, "p")]).collect()
    got_b = bloomed.lookup([(key, "p")]).collect()
    assert len(got_p) == len(got_b) == 1
    assert got_p[0].commit_seq == got_b[0].commit_seq
    # merge/compact keep the option applied (no error path, results stable)
    bloomed.compact(sort_by_key=True)
    assert bloomed.lookup([(key, "p")]).count() == 1


def test_read_changes_refuses_span_over_resolving_compaction(spark, lake_dir):
    """A resolve_lww compaction removes live rows (appended duplicates
    collapse), which the net change feed cannot represent — spanning one must
    be a loud error, and non-spanning ranges keep working."""
    t = _table(spark, lake_dir)
    t.merge(_batch(spark, "a", 0), epoch_id="e1")
    v1 = t.current_version()
    t.append(_batch(spark, "a", 5000), epoch_id="e2")  # duplicate keys
    t.compact(resolve_lww=True)
    v3 = t.current_version()
    with pytest.raises(ClaimCheckError, match="resolve_lww"):
        t.read_changes(0)
    # range entirely before the compaction is fine
    assert t.read_changes(0, v1).count() > 0
    # range entirely after is fine too
    t.merge(_batch(spark, "b", 9000), epoch_id="e3")
    assert t.read_changes(v3).count() > 0


def test_probe_skips_files_outside_key_range(spark, lake_dir):
    """probe() prunes files by per-bucket probe-key ranges: an ordered-id
    probe (recent ids) skips older epochs' files inside matched buckets —
    high-entropy keys degrade gracefully to bucket-only pruning."""
    t = LakeTable(spark, lake_dir, ["doc_id"], "seq", num_buckets=4)
    for e in range(3):
        rows = spark.range(e * 100, e * 100 + 100).select(
            F.col("id").alias("doc_id"),
            F.lit(e).cast("long").alias("seq"),
            F.lit(f"epoch{e}").alias("val"),
        )
        t.append(rows, epoch_id=f"e{e}")
    probe_keys = spark.range(250, 260).select(F.col("id").alias("doc_id"))
    got = t.probe(probe_keys)
    assert got.count() == 10
    assert {r.val for r in got.collect()} == {"epoch2"}
    st = t.last_probe_stats
    assert st["files_skipped_by_stats"] > 0
    # the pruned scan equals the unpruned semantics
    full = t.read().join(probe_keys, "doc_id", "leftsemi")
    assert got.exceptAll(full).count() == 0 and full.exceptAll(got).count() == 0
    # a probe spanning every epoch skips nothing and still answers correctly
    wide = spark.createDataFrame([(0,), (299,)], "doc_id long")
    assert t.probe(wide).count() == 2
