"""Training-data pipeline operators: text analytics, near-dup dedup family,
similarity search, multimodal plumbing — over the driver's documents/embeddings
testdata plus hand-built fixtures."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from kafka_connect_claim_check_smt_spark.operators.minhash import (
    band_table,
    lsh_band_keys,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    shingles,
    signature_table,
    simhash_dup_pairs,
)
from kafka_connect_claim_check_smt_spark.operators.multimodal import (
    decode_and_featurize,
    frame_sample,
    media_metadata,
)
from kafka_connect_claim_check_smt_spark.operators.sampling import (
    pack_sequences,
    stratified_sample,
)
from kafka_connect_claim_check_smt_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    ivf_cosine_topk,
    lsh_cosine_topk,
)
from kafka_connect_claim_check_smt_spark.operators.textstats import (
    fingerprint,
    lang_id,
    quality_features,
    token_count,
    whitespace_token_count,
)

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


class TestTextStats:
    def test_token_count(self, spark):
        df = spark.createDataFrame([("hello, world 42!",), ("",)], "text string")
        out = df.select(token_count("text").alias("n"), whitespace_token_count("text").alias("w")).collect()
        # tokens: hello , world 42 !  → 5; whitespace tokens: 3
        assert (out[0].n, out[0].w) == (5, 3)
        assert (out[1].n, out[1].w) == (0, 0)

    def test_quality_monotone_and_bounded(self, docs):
        out = quality_features(docs.select("doc_id", "text"))
        rows = out.collect()
        assert all(0.0 <= r.q_score <= 1.0 for r in rows)
        assert all(r.q_chars == len(r.text) for r in rows)

    def test_lang_id_markers(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat and the dog is in that house for it was"),
                (2, "der hund und die katze ist nicht ein problem mit von"),
                (3, "le chat et la maison est une des dans pour que"),
                (4, "zzzz qqqq"),
            ],
            "id long, text string",
        )
        out = {r.id: r.lang_guess for r in lang_id(df).collect()}
        assert out == {1: "en", 2: "de", 3: "fr", 4: "und"}

    def test_repetition_features(self, spark):
        from kafka_connect_claim_check_smt_spark.operators.textstats import (
            repetition_features,
        )

        df = spark.createDataFrame(
            [
                (1, "a\nb\nc\nd"),          # all unique
                (2, "x\nx\nx\nx"),          # one repeated line
                (3, "x\nx\ny\nz"),          # half boilerplate
            ],
            "id long, text string",
        )
        out = {r.id: r for r in repetition_features(df).collect()}
        assert out[1].n_lines == 4 and out[1].dup_line_ppm == 0 and out[1].top_line_ppm == 250_000
        assert out[2].dup_line_ppm == 750_000 and out[2].top_line_ppm == 1_000_000
        assert out[3].dup_line_ppm == 250_000 and out[3].top_line_ppm == 500_000

    def test_fingerprint_normalizes(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello   World"), (2, "hello world"), (3, "other")], "id long, text string"
        )
        fps = {r.id: r.fp for r in df.select("id", fingerprint("text").alias("fp")).collect()}
        assert fps[1] == fps[2] != fps[3]


class TestNearDup:
    def _dup_df(self, spark):
        base = "def compute(x):\n    return x * 2  # " + "padding " * 30
        near = base.replace("x * 2", "x * 3")  # tiny edit
        far = "SELECT count(*) FROM orders WHERE " + "o_orderkey > 10 AND " * 15
        return spark.createDataFrame(
            [(1, base), (2, base), (3, near), (4, far)], "id long, text string"
        )

    def test_shingles_deterministic(self, spark):
        df = spark.createDataFrame([("abcdefghij",)], "text string")
        a = df.select(shingles("text", 4).alias("s")).collect()[0].s
        b = df.select(shingles("text", 4).alias("s")).collect()[0].s
        assert a == b and len(a) == 7

    def test_minhash_lsh_finds_near_dups(self, spark):
        pairs = {
            (r.id_a, r.id_b): r.jaccard_ppm
            for r in minhash_lsh_pairs(self._dup_df(spark), "id", "text", threshold=0.5).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] == 1_000_000  # exact dup
        assert (1, 3) in pairs and 500_000 <= pairs[(1, 3)] < 1_000_000  # near dup
        assert not any(4 in p for p in pairs)  # unrelated doc clean

    def test_ngram_jaccard_exact(self, spark):
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(self._dup_df(spark), "id", "text", threshold=0.5).collect()
        }
        assert pairs[(1, 2)] == 1.0 and (1, 3) in pairs

    def test_ngram_stop_shingle_cap(self, spark):
        """max_doc_freq drops boilerplate shingles from intersections AND
        sizes: docs identical only in a shared license header must stop
        pairing once the header's shingles exceed the cap."""
        header = "LICENSE: do what you want " * 4
        rows = [(i, header + f"unique body {i} " * 10) for i in range(20)]
        df = spark.createDataFrame(rows, "id long, text string")
        uncapped = ngram_jaccard_pairs(df, "id", "text", threshold=0.3).count()
        capped = ngram_jaccard_pairs(
            df, "id", "text", threshold=0.3, max_doc_freq=10
        ).count()
        assert uncapped > 0  # shared header alone clears 0.3 similarity
        assert capped == 0  # header shingles (df=20 > 10) dropped → bodies differ

    def test_simhash_near_dups(self, spark):
        pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_dup_pairs(self._dup_df(spark), "id", "text").collect()}
        assert pairs.get((1, 2)) == 0
        assert all(h <= 3 for h in pairs.values())

    def test_no_false_positives_on_real_docs(self, docs):
        out = minhash_lsh_pairs(docs.limit(200), "doc_id", "text", threshold=0.9)
        for r in out.collect():
            assert r.jaccard_ppm >= 900_000  # verification stage filters band collisions

    def test_minhash_bands_must_divide(self, spark):
        with pytest.raises(ValueError, match="divide"):
            minhash_lsh_pairs(
                self._dup_df(spark), "id", "text", num_hashes=32, bands=5
            )
        from kafka_connect_claim_check_smt_spark.operators.minhash import minhash_lsh_sql

        with pytest.raises(ValueError, match="divide"):
            minhash_lsh_sql("documents", "id", "text", num_hashes=32, bands=5)

    def test_shingle_spread_no_double_exchange(self, docs):
        """Scale guard for the round-3 parallelism fix: with a one-partition
        input, the signature pipeline must contain exactly ONE exchange
        before the per-doc aggregation — the pre-shingle hash repartition by
        id, whose partitioning the groupBy(id) then REUSES (shuffling raw
        text once is ~8x cheaper than shuffling the exploded gram stream)."""
        from kafka_connect_claim_check_smt_spark.operators.minhash import (
            _spread,
            shingles,
        )

        one_part = docs.limit(300).coalesce(1)
        corpus = _spread(one_part, "doc_id", 8)
        sig = (
            corpus.select(
                F.col("doc_id").alias("__id"),
                F.explode(shingles("text", 8, hasher="md5", distinct=False)).alias("h"),
            )
            .groupBy("__id")
            .agg(F.min("h").alias("m"))
        )
        plan = sig._jdf.queryExecution().executedPlan().toString()
        # exactly one hash exchange: the id repartition; no second exchange
        # for the aggregation (AQE may wrap names, count the partitioning)
        assert plan.count("Exchange hashpartitioning") == 1, plan
        # and it exchanges the doc id, not the exploded gram column
        exch = plan.split("Exchange hashpartitioning", 1)[1][:120]
        assert "doc_id" in exch

    def test_verify_join_fallback_sort_merge_not_broadcast(self, docs, monkeypatch):
        """Scale guard (round-3 probe finding): when the candidate-doc gram
        arrays exceed the broadcast budget the verify falls back to joins,
        whose array side has a static size estimate that ignores the payload
        — without the merge hint Catalyst broadcasts it (1.06 GiB attempted
        driver collect at 800k docs). The hint pins sort-merge."""
        from kafka_connect_claim_check_smt_spark.operators import minhash as mh

        monkeypatch.setattr(mh, "_VERIFY_BROADCAST_MAX_BYTES", 0)
        out = minhash_lsh_pairs(docs.limit(200), "doc_id", "text", threshold=0.5, hasher="md5")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("SortMergeJoin") >= 2, plan

    def test_verify_broadcast_matches_join_fallback(self, docs, monkeypatch):
        """The round-6 broadcast verify (cell-bound filter + searchsorted on
        survivors, no array joins) must be row-identical to the join
        fallback — the strategy switch is physical only."""
        from kafka_connect_claim_check_smt_spark.operators import minhash as mh

        kw = dict(threshold=0.5, hasher="md5")
        fast = sorted(
            map(tuple, minhash_lsh_pairs(docs, "doc_id", "text", **kw).collect())
        )
        monkeypatch.setattr(mh, "_VERIFY_BROADCAST_MAX_BYTES", 0)
        slow = sorted(
            map(tuple, minhash_lsh_pairs(docs, "doc_id", "text", **kw).collect())
        )
        assert fast == slow and len(fast) > 0

    def test_minhash_candidate_cap_deterministic(self, spark):
        """max_candidates_per_doc: deterministic across runs, a subset of the
        uncapped pairs, symmetric (canonical id_a<id_b unaffected), and it
        actually caps a pathological all-identical corpus."""
        # 12 identical docs -> C(12,2)=66 uncapped verify pairs
        df = spark.createDataFrame(
            [(i, "identical boilerplate text " * 8) for i in range(12)],
            "id long, text string",
        )
        kw = dict(threshold=0.5, max_candidates_per_doc=3)
        a = sorted(map(tuple, minhash_lsh_pairs(df, "id", "text", **kw).collect()))
        b = sorted(map(tuple, minhash_lsh_pairs(df, "id", "text", **kw).collect()))
        assert a == b, "cap ranking must be deterministic"
        uncapped = sorted(
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(df, "id", "text", threshold=0.5).collect()
        )
        assert len(uncapped) == 66
        assert 0 < len(a) <= 12 * 3 // 2 + 12  # bounded by ~cap*docs, not docs^2
        assert set((x, y) for x, y, _ in a) <= set(uncapped)
        assert all(x < y for x, y, _ in a)


class TestDecontamination:
    def test_overlap_flagged_and_dropped(self, spark):
        """A training doc embedding a benchmark item's n-gram is flagged and
        dropped; clean docs pass; the benchmark item itself (if present in
        the corpus) is flagged by exact self-overlap."""
        from kafka_connect_claim_check_smt_spark.operators.decontam import (
            contamination,
            decontaminate,
        )

        bench_text = "the quick brown fox jumps over the lazy dog tonight"
        corpus = spark.createDataFrame(
            [
                (1, f"intro paragraph then {bench_text} then more prose words here"),
                (2, "completely unrelated document about spark physical plans"),
                (3, bench_text),  # the eval item leaked verbatim
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame([(bench_text,)], "text string")
        flagged = {
            r.doc_id: r.contaminated_grams
            for r in contamination(corpus, bench, n=5, mode="word").collect()
        }
        assert set(flagged) == {1, 3} and flagged[3] >= flagged[1] > 0
        kept = decontaminate(corpus, bench, n=5, mode="word")
        assert [r.doc_id for r in kept.collect()] == [2]

    def test_short_benchmark_items_still_protected(self, spark):
        """An eval item SHORTER than n words contributes its whole text as
        one gram (the shingler's short-input rule) — tiny prompts are never
        silently unprotected."""
        from kafka_connect_claim_check_smt_spark.operators.decontam import contamination

        corpus = spark.createDataFrame(
            [(1, "padding words secret answer token padding more padding"),
             (2, "padding words only nothing leaked in this one either")],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame([("secret answer token",)], "text string")
        # n=3 == the leak length: doc 1 contains the exact 3-gram
        flagged = contamination(corpus, bench, n=3, mode="word").collect()
        assert [r.doc_id for r in flagged] == [1]

    def test_hostile_whitespace_tokenizes_identically(self, spark):
        """Review r3: Java \\s and RE2 \\s disagree on \\x0B — the explicit
        ASCII class must make Spark and DuckDB tokenize (and therefore flag)
        identically on vertical-tab input."""
        import duckdb

        from kafka_connect_claim_check_smt_spark.operators.decontam import (
            contamination,
            contamination_sql,
        )

        rows = [(1, "alpha\x0bbeta gamma delta"), (2, "alpha beta gamma delta"),
                (3, "unrelated text entirely here")]
        corpus = spark.createDataFrame(rows, "doc_id long, text string")
        bench_text = "alpha\x0bbeta gamma"
        bench = spark.createDataFrame([(bench_text,)], "text string")
        got = sorted(map(tuple, contamination(corpus, bench, n=2, mode="word").collect()))
        con = duckdb.connect()
        con.sql("create table corpus(doc_id bigint, text varchar)")
        for i, t in rows:
            con.execute("insert into corpus values (?, ?)", [i, t])
        con.execute("create table bench_t(text varchar)")
        con.execute("insert into bench_t values (?)", [bench_text])
        rel = con.sql(contamination_sql("corpus", "SELECT text FROM bench_t", n=2, mode="word"))
        want = sorted(tuple(d[c] for c in rel.columns) for d in rel.arrow().to_pylist())
        assert got == want == [(1, 2), (2, 2)]

    def test_matches_duckdb_both_modes(self, docs):
        import duckdb

        from kafka_connect_claim_check_smt_spark.operators.decontam import (
            contamination,
            contamination_sql,
        )

        corpus = docs.limit(300)
        bench = corpus.filter(F.col("doc_id") % 40 == 0).select("text")
        con = duckdb.connect()
        con.sql(
            "create view documents as select * from "
            "'/root/testdata/sf0.001/documents.parquet' limit 300"
        )
        for mode, n in (("word", 6), ("char", 16)):
            got = sorted(
                map(tuple, contamination(corpus, bench, n=n, mode=mode).collect())
            )
            rel = con.sql(
                contamination_sql(
                    "documents",
                    "SELECT text FROM documents WHERE doc_id % 40 = 0",
                    n=n, mode=mode,
                )
            )
            want = sorted(
                tuple(d[c] for c in rel.columns) for d in rel.arrow().to_pylist()
            )
            assert got == want, mode
            assert got, f"{mode}: benchmark self-docs must be flagged"


class TestClusters:
    def _pairs(self, spark):
        return spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
        )

    def test_chain_transitivity(self, spark):
        """A path graph must collapse to one cluster labeled by its min id —
        the property pair-wise dedup alone cannot give you."""
        from kafka_connect_claim_check_smt_spark.operators.clusters import (
            connected_components,
        )

        got = {
            r.id: r.cluster_id
            for r in connected_components(self._pairs(spark)).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    def test_assign_clusters_with_singletons_matches_duckdb(self, spark):
        import duckdb

        from kafka_connect_claim_check_smt_spark.operators.clusters import (
            assign_clusters,
            assign_clusters_sql,
        )

        docs = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 4, 10, 11, 99)], "doc_id long"
        )
        out = assign_clusters(docs, "doc_id", self._pairs(spark))
        got = sorted(map(tuple, out.collect()))
        reps = {r[0] for r in got if r[2]}
        assert reps == {1, 10, 99}  # min per cluster + the singleton
        con = duckdb.connect()
        con.sql("create table docs(doc_id bigint)")
        con.sql("insert into docs values (1),(2),(3),(4),(10),(11),(99)")
        con.sql("create table pairs(id_a bigint, id_b bigint)")
        con.sql("insert into pairs values (1,2),(2,3),(3,4),(10,11)")
        want = sorted(
            con.sql(
                assign_clusters_sql("docs", "doc_id", "SELECT * FROM pairs")
            ).fetchall()
        )
        assert got == want

    def test_pointer_jumping_converges_on_long_chain(self, spark):
        """A 64-node path has diameter 63; pointer jumping must settle it in
        O(log n) rounds, well inside the default max_iterations=25."""
        from kafka_connect_claim_check_smt_spark.operators.clusters import (
            connected_components,
        )

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(63)], "id_a long, id_b long"
        )
        got = connected_components(pairs).collect()
        assert all(r.cluster_id == 0 for r in got) and len(got) == 64

    def test_string_ids_lexicographic_min(self, spark):
        from kafka_connect_claim_check_smt_spark.operators.clusters import (
            connected_components,
        )

        pairs = spark.createDataFrame(
            [("doc-b", "doc-a"), ("doc-b", "doc-c")], "id_a string, id_b string"
        )
        got = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
        assert got == {"doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a"}

    def test_end_to_end_minhash_to_representatives(self, docs):
        """Full dedup pipeline: corpus → minhash pairs → clusters →
        representative filter. Every dropped doc must share a cluster with a
        kept doc, and cluster count == representative count."""
        from kafka_connect_claim_check_smt_spark.operators.clusters import (
            assign_clusters,
        )

        corpus = docs.limit(300)
        pairs = minhash_lsh_pairs(corpus, "doc_id", "text", threshold=0.5, hasher="md5")
        out = assign_clusters(corpus, "doc_id", pairs).select(
            "doc_id", "cluster_id", "is_representative"
        )
        rows = out.collect()
        reps = {r.cluster_id for r in rows if r.is_representative}
        assert reps == {r.cluster_id for r in rows}  # every cluster keeps one
        assert all(r.cluster_id <= r.doc_id for r in rows)  # min-id labeling


class TestSimilarity:
    def test_empty_or_null_vectors_clear_error(self, spark):
        """ADVICE r2: empty input / NULL first vector must raise a clear
        ValueError from dim inference, not a TypeError on None subscript."""
        empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
        q = spark.createDataFrame([(0, [1.0, 0.0])], "query_id long, query_vec array<float>")
        with pytest.raises(ValueError, match="no rows"):
            cosine_topk(empty, q, k=1)
        nullvec = spark.createDataFrame(
            [(0, None)], "vec_id long, embedding array<float>"
        )
        with pytest.raises(ValueError, match="NULL"):
            cosine_topk(nullvec, q, k=1)

    def _queries(self, embs, n=5):
        return (
            embs.limit(n)
            .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        )

    def test_self_is_nearest(self, embs):
        out = cosine_topk(embs, self._queries(embs), k=3)
        top1 = {r.query_id: r.vec_id for r in out.filter("rank = 1").collect()}
        assert all(q == v for q, v in top1.items())
        assert out.filter("rank = 1").filter(F.abs(F.col("cosine") - 1.0) > 1e-6).count() == 0

    def test_topk_count_and_order(self, embs):
        out = cosine_topk(embs, self._queries(embs, 3), k=10).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append((r.rank, r.cosine))
        for q, rows in by_q.items():
            rows.sort()
            assert len(rows) == 10
            assert all(rows[i][1] >= rows[i + 1][1] for i in range(9))  # descending

    def test_topk_partial_reduction_before_exchange(self, embs):
        """Scale guard: the ranking must reduce to ≤k rows per query per map
        task BEFORE the shuffle (WindowGroupLimit below the exchange), not
        shuffle the full N×Q scored set."""
        out = cosine_topk(embs, self._queries(embs, 3), k=5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("WindowGroupLimit") >= 2  # partial (map-side) + final
        post_exchange, _, pre_exchange = plan.partition("Exchange hashpartitioning")
        assert "WindowGroupLimit" in pre_exchange  # the map-side one

    def test_lsh_recall_vs_exact(self, embs):
        q = self._queries(embs, 10)
        exact = cosine_topk(embs, q, k=5)
        approx = lsh_cosine_topk(embs, q, k=5, n_planes=4)
        e = {(r.query_id, r.vec_id) for r in exact.collect()}
        a = {(r.query_id, r.vec_id) for r in approx.collect()}
        recall = len(e & a) / len(e)
        assert recall >= 0.3  # 4 planes / 500 vecs: buckets are coarse but must catch self+neighbors
        top1 = {r.query_id: r.vec_id for r in approx.filter("rank = 1").collect()}
        assert all(q_ == v for q_, v in top1.items())  # self always in own bucket

    def test_lsh_multiprobe_improves_recall(self, embs):
        """Multi-probe (Hamming ≤ h probes) must dominate single-bucket
        recall, and at h = n_planes the probe set IS the whole code space →
        exact results."""
        q = self._queries(embs, 10)
        e = {(r.query_id, r.vec_id) for r in cosine_topk(embs, q, k=5).collect()}

        def recall(h):
            a = {
                (r.query_id, r.vec_id)
                for r in lsh_cosine_topk(embs, q, k=5, n_planes=4, probe_hamming=h).collect()
            }
            return len(e & a) / len(e)

        r0, r1, r2 = recall(0), recall(1), recall(2)
        assert r0 <= r1 <= r2
        assert r1 > r0  # at 4 planes / 500 vecs, one sign flip must add hits

    def test_ivf_recall_vs_exact(self, embs):
        """IVF with n_probe=n_list degenerates to exact (every cell probed);
        with a partial probe, recall degrades gracefully and self stays
        findable whenever its own cell is probed."""
        q = self._queries(embs, 10)
        exact = cosine_topk(embs, q, k=5)
        e = {(r.query_id, r.vec_id) for r in exact.collect()}
        full = ivf_cosine_topk(embs, q, k=5, n_list=8, n_probe=8)
        f = {(r.query_id, r.vec_id) for r in full.collect()}
        assert f == e  # probing every cell == brute force
        approx = ivf_cosine_topk(embs, q, k=5, n_list=8, n_probe=2)
        a = {(r.query_id, r.vec_id) for r in approx.collect()}
        assert len(e & a) / len(e) >= 0.3  # sampled centroids: coarse cells, partial probe

    def test_ivf_prebuilt_index_identical(self, embs, tmp_path):
        """ivf_index amortization: querying a prebuilt (and parquet-round-
        tripped, i.e. reloaded-from-storage) index returns byte-identical
        results to the inline path."""
        from kafka_connect_claim_check_smt_spark.operators.similarity import ivf_index

        q = self._queries(embs, 10)
        inline = sorted(
            map(tuple, ivf_cosine_topk(embs, q, k=5, n_list=8, n_probe=2).collect())
        )
        idx = ivf_index(embs, n_list=8)
        idx.write.parquet(str(tmp_path / "ivf_idx"))
        reloaded = embs.sparkSession.read.parquet(str(tmp_path / "ivf_idx"))
        via_index = sorted(
            map(
                tuple,
                ivf_cosine_topk(
                    embs, q, k=5, n_list=8, n_probe=2, index=reloaded
                ).collect(),
            )
        )
        assert inline == via_index
        with pytest.raises(ValueError, match="ivf_index columns"):
            ivf_cosine_topk(embs, q, k=5, index=embs)

    def test_ivf_rank_contract(self, embs):
        out = ivf_cosine_topk(embs, self._queries(embs, 3), k=5, n_list=8, n_probe=2).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append((r.rank, r.cosine))
        for rows in by_q.values():
            rows.sort()
            assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
            assert all(rows[i][1] >= rows[i + 1][1] for i in range(len(rows) - 1))

    def test_neardup_pairs_symmetric_free(self, embs):
        out = embedding_neardup_pairs(
            embs.limit(100), threshold=0.3, n_bands=2, planes_per_band=4
        ).collect()
        assert all(r.id_a < r.id_b for r in out)
        assert all(r.cosine_e6 >= 300_000 for r in out)

    def test_neardup_bucket_cap_is_subset(self, embs):
        base = embedding_neardup_pairs(
            embs.limit(100), threshold=0.3, n_bands=2, planes_per_band=4
        )
        capped = embedding_neardup_pairs(
            embs.limit(100), threshold=0.3, n_bands=2, planes_per_band=4, max_bucket_size=10
        )
        b = {(r.id_a, r.id_b) for r in base.collect()}
        c = {(r.id_a, r.id_b) for r in capped.collect()}
        assert c <= b  # the cap only removes candidates, never invents them


class TestSampling:
    @pytest.fixture()
    def docs(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def test_stratified_exact_quotas(self, spark, docs):
        out = stratified_sample(docs, "lang", "doc_id", per_stratum=10)
        counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        avail = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert counts == {k: min(v, 10) for k, v in avail.items()}
        # deterministic: same call → same ids
        a = {r.doc_id for r in out.collect()}
        b = {r.doc_id for r in stratified_sample(docs, "lang", "doc_id", per_stratum=10).collect()}
        assert a == b

    def test_stratified_fraction_mode_no_shuffle(self, spark, docs):
        out = stratified_sample(docs, "lang", "doc_id", fraction=0.25)
        n, total = out.count(), docs.count()
        assert 0.1 * total < n < 0.4 * total  # exact-in-expectation
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # scan-side filter only

    def test_pack_sequences_accounting(self, spark, docs):
        from kafka_connect_claim_check_smt_spark.operators.textstats import (
            whitespace_token_count,
        )

        budget = 64
        packed = pack_sequences(
            docs.withColumn("n_tok", whitespace_token_count("text")),
            "doc_id", "n_tok", budget=budget, n_shards=3,
        ).collect()
        by_shard = {}
        for r in packed:
            by_shard.setdefault(r.shard, []).append(r)
        assert set(by_shard) <= {0, 1, 2}
        total_tok = sum(r.chunk_local_end - r.chunk_local_start for r in packed)
        assert total_tok == sum(r.n_tok for r in packed)
        for rows in by_shard.values():
            # within a shard: chunk ids form a contiguous non-decreasing
            # sequence and every start offset is the cumsum mod budget
            rows.sort(key=lambda r: (r.chunk_id, r.chunk_local_start))
            cum = 0
            for r in sorted(rows, key=lambda r: (r.chunk_id * budget + r.chunk_local_start)):
                assert r.chunk_id == cum // budget
                assert r.chunk_local_start == cum % budget
                cum += r.n_tok

    def test_pack_straddlers_marked(self, spark):
        df = spark.createDataFrame(
            [(i, 40) for i in range(10)], "doc_id long, n_tok long"
        )
        packed = pack_sequences(df, "doc_id", "n_tok", budget=64, n_shards=1).collect()
        straddlers = [r for r in packed if r.chunk_local_end > 64]
        assert straddlers  # 40-token docs over a 64 budget must straddle
        assert all(r.chunk_local_start < 64 for r in packed)


class TestMultimodal:
    def _media_df(self, spark):
        rows = [
            (1, b"\x89PNG\r\n\x1a\n" + bytes(range(200))),
            (2, b"\xff\xd8\xff\xe0" + bytes(range(100))),
            (3, b"GIF89a" + b"\x00" * 50),
            (4, b"plainbytes" * 20),
        ]
        return spark.createDataFrame(rows, "id long, data binary")

    def test_metadata_sniffs_magic(self, spark):
        df = self._media_df(spark)
        out = {r.id: r.m for r in df.select("id", media_metadata("data", "image").alias("m")).collect()}
        assert out[1].magic == "png" and out[2].magic == "jpeg" and out[3].magic == "gif"
        assert out[4].magic == "unknown"
        for i, (_, raw) in enumerate([(1, b"\x89PNG\r\n\x1a\n" + bytes(range(200)))][:1]):
            assert out[1].n_bytes == 8 + 200
            assert out[1].sha256 == hashlib.sha256(raw).hexdigest()

    def test_fake_decode_shapes(self, spark):
        df = self._media_df(spark)
        out = decode_and_featurize(df, fake=True, feature_dim=16).collect()
        assert len(out) == 4
        for r in out:
            assert len(r.feature) == 16
            assert all(0.0 <= x <= 1.0 for x in r.feature)

    def test_fake_mode_never_raises_even_on_magic_prefixes(self, spark):
        """fake=True is the plumbing-contract mode: EVERY payload goes through
        the deterministic fake decoder — including bytes that start with a
        real codec's magic but are not decodable (e.g. a truncated 'BM')."""
        df = spark.createDataFrame(
            [(1, b"BM" + bytes(range(30))), (2, b"RIFFxxxxWAVEgarbage")],
            "id long, data binary",
        )
        out = decode_and_featurize(df, fake=True, feature_dim=8).collect()
        assert len(out) == 2 and all(len(r.feature) == 8 for r in out)

    def test_compressed_format_raises_not_implemented(self, spark):
        df = self._media_df(spark)  # png/jpeg/gif need codec libs this box lacks
        with pytest.raises(Exception) as ei:
            decode_and_featurize(df, fake=False).collect()
        assert "NotImplementedError" in str(ei.value) or "no codec" in str(ei.value)

    @staticmethod
    def _make_bmp(width: int, height: int, seed: int = 7) -> tuple[bytes, "object"]:
        """Hand-rolled 24bpp bottom-up BMP + its grayscale ground truth."""
        import numpy as np

        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(height, width, 3), dtype=np.uint8)
        row_size = (width * 3 + 3) // 4 * 4
        body = b""
        for y in range(height - 1, -1, -1):  # bottom-up row order
            row = px[y].tobytes()
            body += row + b"\x00" * (row_size - len(row))
        pixel_off = 14 + 40
        header = (
            b"BM"
            + (pixel_off + len(body)).to_bytes(4, "little")
            + b"\x00\x00\x00\x00"
            + pixel_off.to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + width.to_bytes(4, "little", signed=True)
            + height.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little")
            + (24).to_bytes(2, "little")
            + (0).to_bytes(4, "little")  # BI_RGB
            + len(body).to_bytes(4, "little")
            + b"\x00" * 16
        )
        return header + body, px.mean(axis=2)

    @staticmethod
    def _make_wav(rate: int = 8000, nch: int = 2, nsamp: int = 1000, seed: int = 3) -> tuple[bytes, "object"]:
        import io
        import wave

        import numpy as np

        rng = np.random.default_rng(seed)
        pcm = rng.integers(-20000, 20000, size=(nsamp, nch)).astype("<i2")
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(pcm.tobytes())
        mono = (pcm.astype(np.float64) / 32768.0).mean(axis=1)
        return buf.getvalue(), mono

    def test_real_bmp_decode(self, spark):
        import numpy as np

        raw, gray = self._make_bmp(13, 9)  # width forces row padding
        df = spark.createDataFrame([(1, raw)], "id long, data binary")
        meta = df.select(media_metadata("data", "image").alias("m")).collect()[0].m
        assert meta.magic == "bmp"
        r = decode_and_featurize(df, fake=False, feature_dim=8).collect()[0]
        assert (r.height, r.width) == (9, 13)
        # ground truth: same block-average over the grayscale/255 raster
        flat = (gray / 255.0).ravel()
        edges = (np.arange(9) * flat.size) // 8
        want = [flat[a:b].mean() for a, b in zip(edges[:-1], edges[1:])]
        assert np.allclose(r.feature, want, atol=1e-6)

    def test_real_wav_decode(self, spark):
        import numpy as np

        raw, mono = self._make_wav(rate=8000, nch=2, nsamp=1000)
        df = spark.createDataFrame([(1, raw)], "id long, data binary")
        meta = df.select(media_metadata("data", "audio").alias("m")).collect()[0].m
        assert meta.magic == "wav"
        r = decode_and_featurize(df, fake=False, feature_dim=4).collect()[0]
        assert (r.height, r.width) == (2, 8000)  # n_channels, sample_rate
        p = mono * mono
        want = [np.sqrt(p[i * 250 : (i + 1) * 250].mean()) for i in range(4)]
        assert np.allclose(r.feature, want, atol=1e-6)

    def test_mixed_batch_real_and_real(self, spark):
        bmp, _ = self._make_bmp(4, 4)
        wav, _ = self._make_wav(nsamp=100)
        df = spark.createDataFrame([(1, bmp), (2, wav)], "id long, data binary")
        out = {r.id: r for r in decode_and_featurize(df, fake=False, feature_dim=8).collect()}
        assert out[1].height == 4 and out[2].width == 8000
        assert all(len(out[i].feature) == 8 for i in (1, 2))

    def test_frame_sample(self, spark):
        df = self._media_df(spark)
        out = frame_sample(df, every_n_bytes=32, max_frames=4, fake=True)
        rows = out.filter("id = 4").orderBy("frame_no").collect()
        assert len(rows) > 1
        raw = b"plainbytes" * 20
        assert bytes(rows[0].frame) == raw[:32]
        assert bytes(rows[1].frame) == raw[32:64]


def test_duplicated_spans_alignment_invariant(spark):
    """A copied region is detected regardless of its offset in the host doc
    (content-defined sampling, not striding), and unrelated docs stay out."""
    from kafka_connect_claim_check_smt_spark.operators.spans import duplicated_spans

    shared = "the quick brown fox jumps over the lazy dog again and again"
    prefix = "completely different long prefix text here! "
    docs = spark.createDataFrame(
        [
            ("d1", shared + " trailing tail one"),
            ("d2", prefix + shared),
            ("d3", "no overlap with anything else in this corpus at all, promise"),
        ],
        "doc_id string, text string",
    )
    out = duplicated_spans(docs, span_chars=16, sample_mod=2, min_docs=2).collect()
    hit_docs = {r.doc_id for r in out}
    assert hit_docs == {"d1", "d2"}
    # the same span hashes fire in both docs, at shifted positions
    h1 = {r.span_hash for r in out if r.doc_id == "d1"}
    h2 = {r.span_hash for r in out if r.doc_id == "d2"}
    assert h1 == h2 and len(h1) > 0
    pos1 = {r.span_hash: r.pos for r in out if r.doc_id == "d1"}
    pos2 = {r.span_hash: r.pos for r in out if r.doc_id == "d2"}
    shift = {pos2[h] - pos1[h] for h in h1}
    assert shift == {len(prefix)}  # every shared window shifted by the prefix
    assert all(r.n_docs == 2 for r in out)


def test_duplicated_spans_short_docs_and_validation(spark):
    from kafka_connect_claim_check_smt_spark.operators.spans import duplicated_spans

    docs = spark.createDataFrame(
        [("a", "tiny"), ("b", "tiny"), ("c", "other")], "doc_id string, text string"
    )
    # docs shorter than the span hash as one whole-text window (mod may drop it,
    # so assert only: identical short docs never split across hashes)
    out = duplicated_spans(docs, span_chars=64, sample_mod=1, min_docs=2).collect()
    assert {r.doc_id for r in out} == {"a", "b"}
    with pytest.raises(ValueError):
        duplicated_spans(docs, span_chars=1)
    with pytest.raises(ValueError):
        duplicated_spans(docs, min_docs=1)


def test_cut_spans_semantics(spark):
    """Canonical (min-id) doc keeps its copy; other occurrences are cut with
    overlapping intervals merged; untouched docs pass through 0/0."""
    from kafka_connect_claim_check_smt_spark.operators.spans import (
        cut_spans,
        duplicated_spans,
    )

    shared = "shared region of text that is long enough to sample from"
    # tails/prefixes differ from their FIRST character: any window crossing
    # the shared-region boundary is then unique to its host doc
    docs = spark.createDataFrame(
        [
            ("a", "KEEP " + shared + " AAAAAAAAAA"),
            ("b", "other " + shared + " ZZZZZZZZZZ"),
            ("c", "independent document, nothing shared at all here"),
        ],
        "doc_id string, text string",
    )
    hits = duplicated_spans(docs, span_chars=16, sample_mod=1, min_docs=2)
    out = {r.doc_id: r for r in cut_spans(docs, hits, span_chars=16).collect()}
    assert len(out) == 3
    # canonical doc 'a' untouched
    assert out["a"].text == "KEEP " + shared + " AAAAAAAAAA" and out["a"].n_spans_cut == 0
    # 'b' lost the shared region: one merged interval, ends preserved
    assert shared not in out["b"].text
    assert out["b"].text.startswith("other") and out["b"].text.endswith("ZZZZZZZZZZ")
    assert out["b"].n_spans_cut == 1  # overlapping windows merged to one island
    assert out["b"].bytes_removed == len("other " + shared + " ZZZZZZZZZZ") - len(out["b"].text)
    # 'c' untouched
    assert out["c"].n_spans_cut == 0 and out["c"].bytes_removed == 0


def test_cut_spans_disjoint_islands(spark):
    """Two separated duplicated regions in one doc cut as two islands."""
    from kafka_connect_claim_check_smt_spark.operators.spans import (
        cut_spans,
        duplicated_spans,
    )

    r1 = "first duplicated passage with enough characters"
    r2 = "second duplicated passage, also sufficiently long"
    mid = " |" + "x" * 40 + "| "
    docs = spark.createDataFrame(
        [("a", r1), ("b", r2), ("z", r1 + mid + r2)],
        "doc_id string, text string",
    )
    hits = duplicated_spans(docs, span_chars=16, sample_mod=1, min_docs=2)
    out = {r.doc_id: r for r in cut_spans(docs, hits, span_chars=16).collect()}
    assert out["z"].n_spans_cut == 2
    assert "x" * 40 in out["z"].text  # the unique middle survives
    assert r1 not in out["z"].text and r2 not in out["z"].text


def test_cut_spans_roundtrip_removes_duplication(spark):
    """Fixpoint property: after cutting, re-detection with the same params
    finds nothing — every duplicated window either survives only in its
    canonical doc or was cut everywhere else."""
    from kafka_connect_claim_check_smt_spark.operators.spans import (
        cut_spans,
        duplicated_spans,
    )

    shared1 = "alpha shared passage with plenty of characters inside"
    shared2 = "beta shared passage, equally long and distinctive text"
    docs = spark.createDataFrame(
        [
            ("d1", shared1 + " Q" * 10),
            ("d2", "W" * 12 + shared1),
            ("d3", shared2),
            ("d4", "Y" * 9 + shared2 + " Z" * 9),
            ("d5", "an entirely unrelated fifth document body here"),
        ],
        "doc_id string, text string",
    )
    params = dict(span_chars=16, sample_mod=1, min_docs=2)
    hits = duplicated_spans(docs, **params)
    cleaned = cut_spans(docs, hits, span_chars=16).select("doc_id", "text")
    assert duplicated_spans(cleaned, **params).count() == 0


def test_curate_corpus_verdict_ladder(spark):
    """First failing stage names the reason; counts are additive."""
    from kafka_connect_claim_check_smt_spark.operators.curation import curate_corpus

    prose = (
        "The quick brown fox jumps over the lazy dog and then the dog "
        "sleeps for a while, because it was a very long day in the field. "
    ) * 3
    docs = spark.createDataFrame(
        [
            ("a", prose + "original tail one"),        # kept (representative)
            ("b", prose + "original tail two"),        # near-dup of a -> dropped
            ("c", "zzzz!!!"),                           # low quality
            # textually distinct from the prose docs (else near_duplicate,
            # which outranks contamination, would fire first)
            ("e", "a wholly different report that quotes the eval secret "
                  "sauce answer verbatim in its middle section somewhere"),
        ],
        "doc_id string, text string",
    )
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5, hasher="md5")
    bench = spark.createDataFrame([("eval secret sauce answer",)], "text string")
    out = {
        r.doc_id: r.drop_reason
        for r in curate_corpus(docs, pairs, bench, min_q_score=0.3, ngram=4).collect()
    }
    assert out["c"] == "low_quality"
    assert out["e"] == "contaminated"
    # exactly one of the near-dup pair is kept, the other dropped as dup
    assert sorted([out["a"], out["b"]]) == ["kept", "near_duplicate"]


def test_asof_join_semantics(spark):
    """Backward-inclusive as-of: ties match, earlier rows resolve to the
    latest prior snapshot, no-prior rows get NULL, and a matched right row
    whose attribute is NULL yields NULL (not a carried-forward older value)."""
    from kafka_connect_claim_check_smt_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k1", 1), ("k1", 5), ("k1", 10), ("k1", 20), ("k2", 3)],
        "key string, t long",
    )
    right = spark.createDataFrame(
        [("k1", 5, "v5"), ("k1", 15, None), ("k3", 1, "other")],
        "key string, t long, val string",
    )
    out = {
        (r.key, r.t): r.val
        for r in asof_join(
            left, right, on=["key"], left_order="t", right_cols=["val"]
        ).collect()
    }
    assert out == {
        ("k1", 1): None,      # before any snapshot
        ("k1", 5): "v5",      # tie matches (backward-inclusive)
        ("k1", 10): "v5",     # latest prior
        ("k1", 20): None,     # matched row t=15 carries a NULL attribute
        ("k2", 3): None,      # key never snapshotted
    }
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right.withColumnRenamed("val", "t2").withColumnRenamed("t2", "t"),
                  on=["key"], left_order="t", right_cols=["t"])


def test_asof_join_subsecond_timestamps(spark):
    """TIMESTAMP order columns compare at MICROSECOND precision: two right
    rows inside the same wall-clock second must resolve deterministically
    (the old cast('long') truncated to epoch seconds and tied arbitrarily),
    and a left row between them must see only the earlier one. Verified
    against DuckDB's native ASOF JOIN at full precision."""
    import duckdb

    from kafka_connect_claim_check_smt_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k1", "2024-01-01 00:00:01.300"),
         ("k1", "2024-01-01 00:00:01.900"),
         ("k1", "2024-01-01 00:00:01.100")],
        "key string, ts string",
    ).select("key", F.col("ts").cast("timestamp_ntz").alias("ts"))
    right = spark.createDataFrame(
        [("k1", "2024-01-01 00:00:01.200", "v_early"),
         ("k1", "2024-01-01 00:00:01.800", "v_late")],
        "key string, ts string, val string",
    ).select("key", F.col("ts").cast("timestamp_ntz").alias("ts"), "val")
    out = {
        r.ts.isoformat(): r.val
        for r in asof_join(
            left, right, on=["key"], left_order="ts", right_cols=["val"]
        ).collect()
    }
    assert out == {
        "2024-01-01T00:00:01.100000": None,       # before both right rows
        "2024-01-01T00:00:01.300000": "v_early",  # sub-second: NOT v_late
        "2024-01-01T00:00:01.900000": "v_late",
    }
    con = duckdb.connect()
    oracle = dict(
        con.execute(
            """
            WITH l(key, ts) AS (VALUES
              ('k1', TIMESTAMP '2024-01-01 00:00:01.300'),
              ('k1', TIMESTAMP '2024-01-01 00:00:01.900'),
              ('k1', TIMESTAMP '2024-01-01 00:00:01.100')),
            r(key, ts, val) AS (VALUES
              ('k1', TIMESTAMP '2024-01-01 00:00:01.200', 'v_early'),
              ('k1', TIMESTAMP '2024-01-01 00:00:01.800', 'v_late'))
            SELECT l.ts, r.val FROM l
            ASOF LEFT JOIN r ON l.key = r.key AND l.ts >= r.ts
            """
        ).fetchall()
    )
    assert {k.isoformat(): v for k, v in oracle.items()} == out


def test_asof_join_null_and_mismatched_orders(spark):
    """ASOF never matches on NULL: a right row with NULL order is dropped
    (the old path let it sort first and 'match' every left row). Mixed
    order units (timestamp vs long) and float orders are hard errors."""
    from kafka_connect_claim_check_smt_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k1", 5)], "key string, t long")
    right = spark.createDataFrame(
        [("k1", None, "phantom"), ("k1", 3, "real")],
        "key string, t long, val string",
    )
    out = asof_join(left, right, on=["key"], left_order="t",
                    right_cols=["val"]).collect()
    assert [(r.key, r.t, r.val) for r in out] == [("k1", 5, "real")]

    right_ts = spark.createDataFrame(
        [("k1", "2024-01-01 00:00:01", "x")], "key string, ts string, val string"
    ).select("key", F.col("ts").cast("timestamp_ntz").alias("ts"), "val")
    with pytest.raises(TypeError, match="disagree"):
        asof_join(left, right_ts, on=["key"], left_order="t",
                  right_order="ts", right_cols=["val"])
    left_f = spark.createDataFrame([("k1", 5.5)], "key string, t double")
    with pytest.raises(TypeError, match="non-temporal"):
        asof_join(left_f, right, on=["key"], left_order="t", right_cols=["val"])


def test_top_terms_skips_corpus_count_without_ppm(spark, monkeypatch):
    """n_docs is only needed as a literal for the ppm stop-term filter —
    without it, top_terms must not pay a corpus-count job (a wasted full
    scan per call at 100 TB)."""
    from kafka_connect_claim_check_smt_spark.operators.terms import top_terms

    docs = spark.createDataFrame(
        [("a", "alpha beta beta"), ("b", "alpha gamma")], "id string, text string"
    )
    calls = []
    # patch the CONCRETE class (pyspark.sql.classic subclass in Spark 4) —
    # the abstract pyspark.sql.DataFrame method is shadowed by it
    cls = type(docs)
    orig = cls.count
    monkeypatch.setattr(cls, "count", lambda self: calls.append(1) or orig(self))
    out = top_terms(docs, id_col="id", text_col="text", k=2)
    n = len(out.collect())
    assert n == 4 and not calls, "top_terms ran a count() job with ppm unset"
    # and WITH ppm the count happens exactly once
    top_terms(docs, id_col="id", text_col="text", k=2, max_doc_freq_ppm=900_000)
    assert len(calls) == 1


def test_redact_pii_staged_and_counted(spark):
    from kafka_connect_claim_check_smt_spark.operators.pii import redact_pii

    docs = spark.createDataFrame(
        [
            ("a", "mail me: jo.doe+x@sub.example.org thanks"),
            ("b", "server 192.168.0.1 and backup 10.0.0.254 are up"),
            ("c", "call +44 20 7946 0958 or +1 (555) 010-0042 now"),
            ("d", "clean text, nothing to scrub"),
        ],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert out["a"].text == "mail me: <EMAIL> thanks" and out["a"].n_emails == 1
    assert out["b"].text == "server <IP> and backup <IP> are up" and out["b"].n_ips == 2
    assert out["c"].n_phones == 2 and "<PHONE>" in out["c"].text
    assert out["d"].text == "clean text, nothing to scrub"
    assert (out["d"].n_emails, out["d"].n_ips, out["d"].n_phones) == (0, 0, 0)
    # staged order: the email's digits were consumed before phone matching
    assert out["a"].n_phones == 0


class TestSessionize:
    def _events(self, spark):
        # two users; u1 has gaps of 50 s (merge), exactly 60 s (split —
        # boundary matches F.session_window), 59.999999 s (merge); u2 one
        # event. Micro-precision timestamps exercise integer-us arithmetic.
        rows = [
            (1, 1, "2024-01-01 00:00:00"),
            (2, 1, "2024-01-01 00:00:50"),
            (3, 1, "2024-01-01 00:01:50"),          # gap == 60 s → new
            (4, 1, "2024-01-01 00:02:49.999999"),   # gap < 60 s → same
            (5, 2, "2024-01-01 00:00:00"),
        ]
        return spark.createDataFrame(
            rows, "event_id long, user_id long, s string"
        ).withColumn("ts", F.col("s").cast("timestamp")).drop("s")

    def test_sessionize_boundary_and_tagging(self, spark):
        from kafka_connect_claim_check_smt_spark.operators.sessions import sessionize

        got = {
            r.event_id: r.session_idx
            for r in sessionize(
                self._events(spark), key="user_id", ts="ts",
                gap_seconds=60, tiebreak="event_id",
            ).collect()
        }
        assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}

    def test_rollup_matches_native_session_window(self, spark):
        """Gaps-and-islands rollup and Spark's native F.session_window
        agree row-for-row (same boundary semantics) on real testdata."""
        from kafka_connect_claim_check_smt_spark.operators.sessions import (
            session_rollup,
            session_stats,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        kw = dict(key="user_id", ts="ts", gap_seconds=14400)
        ours = {
            (r.user_id, r.session_start_us): (r.session_end_us, r.n_events)
            for r in session_rollup(ev, tiebreak="event_id", **kw).collect()
        }
        native = {
            (r.user_id, r.session_start_us): (r.session_end_us, r.n_events)
            for r in session_stats(ev, **kw).collect()
        }
        assert ours == native and len(ours) > 0

    def test_rollup_single_exchange(self, spark):
        """The lag window, cumsum window, and per-session aggregation all
        ride ONE hash exchange on the session key (HashPartitioning(key)
        satisfies the later (key, session_idx) clusterings)."""
        from kafka_connect_claim_check_smt_spark.operators.sessions import session_rollup

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        out = session_rollup(ev, key="user_id", ts="ts", gap_seconds=3600)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "user_id" in plan.split("Exchange hashpartitioning", 1)[1][:120]

    def test_gap_validation(self, spark):
        from kafka_connect_claim_check_smt_spark.operators.sessions import (
            session_stats,
            sessionize,
        )

        ev = self._events(spark)
        with pytest.raises(ValueError, match="gap_seconds"):
            sessionize(ev, key="user_id", ts="ts", gap_seconds=0)
        with pytest.raises(ValueError, match="gap_seconds"):
            session_stats(ev, key="user_id", ts="ts", gap_seconds=-5)


class TestFunnelRetention:
    def _events(self, spark):
        # A: clean view->click->purchase; B: click BEFORE view (no credit),
        # no click after; C: view, then click outside the 1h window;
        # D: view only. Funnel (1h window) => n1=4(A,B? no: B's view@2 counts)..
        # counts asserted below.
        rows = [
            ("A", "view", 0), ("A", "click", 10), ("A", "purchase", 20),
            ("B", "click", 1), ("B", "view", 2),
            ("C", "view", 0), ("C", "click", 4000),   # 4000 s > 1 h window
            ("D", "view", 5),
        ]
        return spark.createDataFrame(
            [(u, e, t * 1_000_000) for u, e, t in rows],
            "user string, event_type string, us long",
        ).withColumn("ts", F.timestamp_micros(F.col("us"))).drop("us")

    def test_funnel_semantics(self, spark):
        from kafka_connect_claim_check_smt_spark.operators.funnel import (
            funnel_counts,
            funnel_times,
        )

        kw = dict(key="user", ts="ts", step_col="event_type",
                  steps=["view", "click", "purchase"], within_seconds=3600)
        t = {r.user: (r.t1, r.t2, r.t3)
             for r in funnel_times(self._events(spark), **kw).collect()}
        s = 1_000_000
        assert t["A"] == (0, 10 * s, 20 * s)
        assert t["B"] == (2 * s, None, None)      # pre-view click: no credit
        assert t["C"] == (0, None, None)          # click outside the window
        assert t["D"] == (5 * s, None, None)
        counts = {r.step_index: (r.step_name, r.n_keys)
                  for r in funnel_counts(self._events(spark), **kw).collect()}
        assert counts == {1: ("view", 4), 2: ("click", 1), 3: ("purchase", 1)}

    def test_funnel_validation(self, spark):
        from kafka_connect_claim_check_smt_spark.operators.funnel import (
            funnel_counts,
            funnel_times,
        )

        ev = self._events(spark)
        with pytest.raises(ValueError, match=">= 2 steps"):
            funnel_times(ev, key="user", ts="ts", step_col="event_type",
                         steps=["view"])
        with pytest.raises(ValueError, match="distinct"):
            funnel_times(ev, key="user", ts="ts", step_col="event_type",
                         steps=["view", "view"])
        with pytest.raises(ValueError, match="quotes"):
            funnel_counts(ev, key="user", ts="ts", step_col="event_type",
                          steps=["view", "cl'ick"])

    def test_funnel_single_key_exchange(self, spark):
        """All k chained window aggregates + the per-key rollup ride ONE
        hash exchange on the funnel key."""
        from kafka_connect_claim_check_smt_spark.operators.funnel import funnel_times

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        out = funnel_times(ev, key="user_id", ts="ts", step_col="event_type",
                           steps=["view", "click", "purchase"])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_retention_semantics(self, spark):
        from kafka_connect_claim_check_smt_spark.operators.retention import (
            cohort_retention,
        )

        day = 86_400_000_000
        rows = [("u1", 0), ("u1", 0), ("u1", 1), ("u1", 3),
                ("u2", 1), ("u2", 2),
                ("u3", 0)]
        ev = spark.createDataFrame(
            [(u, d * day + 12_345) for u, d in rows], "user string, us long"
        ).withColumn("ts", F.timestamp_micros(F.col("us"))).drop("us")
        got = {(r.cohort_period, r.offset_periods): r.n_active
               for r in cohort_retention(ev, key="user", ts="ts",
                                         period_days=1).collect()}
        assert got == {(0, 0): 2, (0, 1): 1, (0, 3): 1, (1, 0): 1, (1, 1): 1}
        with pytest.raises(ValueError, match="period_days"):
            cohort_retention(ev, key="user", ts="ts", period_days=0)


class TestTopTerms:
    def _docs(self, spark):
        return spark.createDataFrame(
            [(1, "apple apple banana"), (2, "banana cherry cherry")],
            "doc_id long, text string",
        )

    def test_scores_integer_exact(self, spark):
        from kafka_connect_claim_check_smt_spark.operators.terms import top_terms

        rows = top_terms(
            self._docs(spark), id_col="doc_id", text_col="text", k=5
        ).collect()
        got = {(r.id, r.term): (r.tf, r.df, r.score_ppm, r.rank) for r in rows}
        assert got == {
            (1, "apple"): (2, 1, 2_000_000, 1),
            (1, "banana"): (1, 2, 500_000, 2),
            (2, "cherry"): (2, 1, 2_000_000, 1),
            (2, "banana"): (1, 2, 500_000, 2),
        }

    def test_stop_term_pruning_and_ties(self, spark):
        from kafka_connect_claim_check_smt_spark.operators.terms import top_terms

        # banana is in 2/2 docs (1e6 ppm) -> pruned at 50%
        rows = top_terms(
            self._docs(spark), id_col="doc_id", text_col="text", k=5,
            max_doc_freq_ppm=500_000,
        ).collect()
        assert {r.term for r in rows} == {"apple", "cherry"}
        # equal scores tie-break by term ascending
        df = spark.createDataFrame([(1, "bb aa")], "doc_id long, text string")
        ranked = [r.term for r in top_terms(
            df, id_col="doc_id", text_col="text", k=2
        ).orderBy("rank").collect()]
        assert ranked == ["aa", "bb"]

    def test_matches_duckdb_twin(self, spark):
        import duckdb

        from kafka_connect_claim_check_smt_spark.operators.terms import (
            top_terms,
            top_terms_sql,
        )

        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        ours = {
            (r.id, r.rank): (r.term, r.tf, r.df, r.score_ppm)
            for r in top_terms(
                docs, id_col="doc_id", text_col="text", k=3,
                max_doc_freq_ppm=500_000,
            ).collect()
        }
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_SMOKE}/documents.parquet')"
        )
        oracle = con.execute(
            top_terms_sql("documents", "doc_id", "text", k=3,
                          max_doc_freq_ppm=500_000)
        ).arrow().to_pylist()
        theirs = {
            (r["id"], r["rank"]): (r["term"], r["tf"], r["df"], r["score_ppm"])
            for r in oracle
        }
        assert ours == theirs and len(ours) > 0

    def test_validation(self, spark):
        from kafka_connect_claim_check_smt_spark.operators.terms import top_terms

        with pytest.raises(ValueError, match="k must"):
            top_terms(self._docs(spark), id_col="doc_id", text_col="text", k=0)
        with pytest.raises(ValueError, match="max_doc_freq_ppm"):
            top_terms(self._docs(spark), id_col="doc_id", text_col="text",
                      max_doc_freq_ppm=2_000_000)

    def test_single_tokenize_pass(self, spark):
        """Scale guard: tf feeds both the df agg and the score join; the
        checkpoint must keep the corpus tokenize+explode to ONE pass (plan
        shows no parquet scan / explode downstream of the checkpoint)."""
        from kafka_connect_claim_check_smt_spark.operators.terms import top_terms

        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        out = top_terms(docs, id_col="doc_id", text_col="text", k=3)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 0, plan
        assert plan.count("Generate explode") == 0, plan


class TestRolling:
    def test_trailing_range_frame_semantics(self, spark):
        """Closed [ts-w, ts] interval: an event exactly window-old is IN;
        time ties are all included regardless of row order; per-key frames
        are independent."""
        from kafka_connect_claim_check_smt_spark.operators.rolling import (
            rolling_counts,
        )

        s = 1_000_000
        rows = [  # (event_id, user, ts_seconds, props)
            (1, "u1", 0, "aa"),
            (2, "u1", 50, "bbb"),
            (3, "u1", 60, "c"),      # 60s window: includes t=0 (closed)
            (4, "u1", 121, "dddd"),  # excludes t=0 and t=50; includes t=60? 121-60=61>60 -> no
            (5, "u1", 121, "e"),     # tie with 4: both count each other
            (6, "u2", 55, "ff"),
        ]
        df = spark.createDataFrame(
            [(e, u, t * s, p) for e, u, t, p in rows],
            "event_id long, user string, us long, props string",
        ).select("event_id", "user", F.timestamp_micros(F.col("us")).alias("ts"), "props")
        got = {
            r.event_id: (r.n_trailing, r.bytes_trailing)
            for r in rolling_counts(
                df, key="user", ts="ts", window_seconds=60, bytes_col="props"
            ).collect()
        }
        assert got[1] == (1, 2)
        assert got[2] == (2, 5)
        assert got[3] == (3, 6)      # closed interval catches t=0
        assert got[4] == (2, 5) and got[5] == (2, 5)  # ties see each other
        assert got[6] == (1, 2)      # u2 isolated
        with pytest.raises(ValueError, match="window_seconds"):
            rolling_counts(df, key="user", ts="ts", window_seconds=0)

    def test_single_exchange(self, spark):
        from kafka_connect_claim_check_smt_spark.operators.rolling import (
            rolling_counts,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        out = rolling_counts(ev, key="user_id", ts="ts", window_seconds=3600)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, plan


class TestHashSplit:
    @pytest.fixture()
    def docs(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def test_split_partitions_completely_and_deterministically(self, spark, docs):
        from kafka_connect_claim_check_smt_spark.operators.sampling import hash_split

        fr = {"train": 0.8, "eval": 0.1, "test": 0.1}
        out = hash_split(docs.select("doc_id"), "doc_id", fractions=fr, salt="v1")
        rows = {r.doc_id: r.split for r in out.collect()}
        assert len(rows) == docs.count()  # total partition, no drops
        assert set(rows.values()) <= set(fr)
        # proportions roughly respected on 500 docs
        n_train = sum(1 for s in rows.values() if s == "train")
        assert 0.7 * 500 < n_train < 0.9 * 500
        # same salt → identical assignment; different salt → re-dealt
        again = {r.doc_id: r.split for r in
                 hash_split(docs.select("doc_id"), "doc_id", fractions=fr, salt="v1").collect()}
        assert again == rows
        redeal = {r.doc_id: r.split for r in
                  hash_split(docs.select("doc_id"), "doc_id", fractions=fr, salt="v2").collect()}
        assert redeal != rows

    def test_split_is_scan_side_no_shuffle(self, spark, docs):
        from kafka_connect_claim_check_smt_spark.operators.sampling import hash_split

        out = hash_split(docs.select("doc_id"), "doc_id",
                         fractions={"train": 0.9, "eval": 0.1})
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_split_matches_duckdb_twin(self, spark, docs):
        import duckdb

        from kafka_connect_claim_check_smt_spark.operators.sampling import (
            hash_split,
            hash_split_sql,
        )

        fr = {"train": 0.9, "eval": 0.05, "test": 0.05}
        got = {r.doc_id: r.split for r in
               hash_split(docs.select("doc_id"), "doc_id", fractions=fr, salt="v1").collect()}
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            "read_parquet('/root/testdata/sf0.001/documents.parquet')"
        )
        sql = hash_split_sql("documents", "doc_id", fractions=fr, salt="v1", select="doc_id")
        want = {r["doc_id"]: r["split"] for r in con.sql(sql).arrow().to_pylist()}
        assert got == want

    def test_split_validation(self, spark, docs):
        from kafka_connect_claim_check_smt_spark.operators.sampling import hash_split

        with pytest.raises(ValueError, match="sum to 1"):
            hash_split(docs, "doc_id", fractions={"a": 0.5, "b": 0.4})
        with pytest.raises(ValueError, match="> 0"):
            hash_split(docs, "doc_id", fractions={"a": 1.2, "b": -0.2})
        with pytest.raises(ValueError, match="at least one"):
            hash_split(docs, "doc_id", fractions={})


@pytest.mark.parametrize("hasher", ["md5", "sha256"])
def test_signature_and_band_tables_match_array_path(spark, hasher):
    """signature_table builds its 32 minima, and band_table its 8 band
    keys, as one SQL string each; both must stay bit-identical to the
    per-row array path (minhash_signature / lsh_band_keys), and the gram
    sets to the distinct shingles. Covers empty texts and texts shorter
    than k, which hash as one whole-text shingle."""
    texts = [
        "",
        "a",
        "abcdefg",
        "abcdefgh",
        "near duplicate text, version one",
        "near duplicate text, version two",
        "ünïcödé ✓ text with a few more characters",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    per_doc = signature_table(
        docs, "doc_id", "text", hasher=hasher, spread=False, with_gram_sets=True
    )
    assert per_doc.columns == ["__id", *[f"s{j}" for j in range(32)], "__sh"]
    assert {t for c, t in per_doc.dtypes if c.startswith("s")} == {"bigint"}
    rows = per_doc.collect()
    got_sig = {r["__id"]: [r[f"s{j}"] for j in range(32)] for r in rows}
    got_bands = sorted(
        tuple(r)
        for r in band_table(per_doc, bands=8, rows_per_band=4)
        .select("__id", "band", "bh")
        .collect()
    )

    arr = docs.select(
        "doc_id",
        minhash_signature(shingles("text", 8, hasher=hasher)).alias("sig"),
        F.sort_array(shingles("text", 8, hasher=hasher)).alias("sh"),
    )
    want = arr.collect()
    want_bands = sorted(
        (r["doc_id"], r["b"]["band"], r["b"]["bh"])
        for r in arr.select(
            "doc_id", F.explode(lsh_band_keys(F.col("sig"), 8, 4)).alias("b")
        ).collect()
    )
    assert got_sig == {r["doc_id"]: list(r["sig"]) for r in want}
    assert all(v is not None for sig in got_sig.values() for v in sig)
    assert {r["__id"]: list(r["__sh"]) for r in rows} == {
        r["doc_id"]: list(r["sh"]) for r in want
    }
    assert got_bands == want_bands and len(got_bands) == 8 * len(texts)
