"""NEW-operator tests (SURVEY §2B NEW row): dedup, similarity search,
text analysis, multimodal columns. Small hand-computable corpora so the
assertions are exact.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from duckdb_mongo_spark.ops import dedup, multimodal, similarity, text

# Spark jobs of dedup_keep_canonical(near_dup_pairs_minhash_lsh(...)) on
# the small planted-pair corpus of TestDuplicateClusters (a convergence
# join per round or an exploded-shingle verify more than doubles it)
NEAR_DEDUP_MAX_JOBS = 19


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d1", "the quick brown fox jumps over the lazy dog"),
        ("d2", "the quick brown fox jumps over the lazy dog"),   # exact dup of d1
        ("d3", "the quick brown fox leaps over the lazy dog"),   # near dup
        ("d4", "completely different content about spark engines"),
        ("d5", ""),                                              # empty text
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestExactDedup:
    def test_duplicate_groups(self, docs):
        rows = dedup.exact_duplicate_groups(docs, ["text"], "doc_id").collect()
        assert len(rows) == 1
        assert rows[0]["n_dups"] == 2 and rows[0]["keep_id"] == "d1"

    def test_dedup_exact_keeps_min_id(self, docs):
        out = dedup.dedup_exact(docs, ["text"], "doc_id")
        assert sorted(r["doc_id"] for r in out.collect()) == ["d1", "d3", "d4", "d5"]


class TestJaccard:
    def test_shingles(self, spark):
        df = spark.createDataFrame([("x", "A b c d")], ["id", "t"])
        row = df.select(dedup.shingle_array(F.col("t"), 3).alias("s")).collect()[0]
        assert row["s"] == ["a b c", "b c d"]

    def test_short_doc_single_shingle(self, spark):
        df = spark.createDataFrame([("x", "one two")], ["id", "t"])
        row = df.select(dedup.shingle_array(F.col("t"), 3).alias("s")).collect()[0]
        assert row["s"] == ["one two"]

    def test_near_dup_pairs(self, docs):
        pairs = dedup.near_dup_pairs_jaccard(docs, "doc_id", "text", threshold=0.4)
        got = {(r["a"], r["b"]): r["jaccard"] for r in pairs.collect()}
        # d1/d2 identical → jaccard 1.0; d1/d3 share 4 of 10 shingles
        assert got[("d1", "d2")] == pytest.approx(1.0)
        assert got[("d1", "d3")] == pytest.approx(4 / 10)
        assert ("d1", "d4") not in got

    def test_jaccard_is_symmetric_ordering(self, docs):
        pairs = dedup.near_dup_pairs_jaccard(docs, "doc_id", "text", threshold=0.0)
        for r in pairs.collect():
            assert r["a"] < r["b"]

    def test_stop_shingle_cap_bounds_skewed_join(self, spark):
        """A shingle present in 50% of the corpus must NOT produce a
        quadratic pair blow-up: with max_doc_freq below its document
        frequency the hot shingle is dropped before the self-join, so
        docs that only share the hot shingle yield no pair at all."""
        hot = "common boilerplate header"
        rows = [(f"h{i}", f"{hot} unique tail number {i} here") for i in range(20)]
        rows += [(f"u{i}", f"alpha{i} beta{i} gamma{i} delta{i}") for i in range(20)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        capped = dedup.near_dup_pairs_jaccard(
            df, "doc_id", "text", threshold=0.0, max_doc_freq=10)
        got = capped.collect()
        # hot-shingle-only overlaps vanish — nothing else is shared
        assert got == []
        # uncapped (explicit None) sees the quadratic 20*19/2 hot pairs
        uncapped = dedup.near_dup_pairs_jaccard(
            df, "doc_id", "text", threshold=0.0, max_doc_freq=None)
        assert uncapped.count() == 190

    def test_default_cap_is_finite(self):
        import inspect

        sig = inspect.signature(dedup.near_dup_pairs_jaccard)
        assert sig.parameters["max_doc_freq"].default == dedup.DEFAULT_MAX_DOC_FREQ
        assert dedup.DEFAULT_MAX_DOC_FREQ is not None


class TestMinhashLsh:
    def test_identical_docs_identical_signatures(self, docs):
        sig = dedup.minhash_signatures(docs, "doc_id", "text", k=8)
        by = {r["doc_id"]: [r[f"minhash_{i}"] for i in range(8)] for r in sig.collect()}
        assert by["d1"] == by["d2"]
        assert by["d1"] != by["d4"]

    def test_lsh_finds_exact_dups(self, docs):
        pairs = dedup.near_dup_pairs_minhash_lsh(
            docs, "doc_id", "text", threshold=0.8, k=8, bands=4)
        got = {(r["a"], r["b"]) for r in pairs.collect()}
        assert ("d1", "d2") in got
        assert ("d1", "d4") not in got

    def test_lsh_verification_is_candidate_restricted(self, docs):
        """Scale invariant: the exact-Jaccard verification must join the
        candidate pair set BELOW the intersection aggregate — an all-pairs
        shingle self-join before candidate restriction is O(corpus²) at
        100 TB. We assert the optimized plan has no shingle-equality
        self-join feeding the final aggregate without the candidate join
        in between: every non-broadcast join on `shingle` must also carry
        a doc-id key (i.e. is the candidate-restricted probe), never the
        bare a.shingle = b.shingle AND a.doc < b.doc cross-doc form."""
        pairs = dedup.near_dup_pairs_minhash_lsh(
            docs, "doc_id", "text", threshold=0.8, k=8, bands=4)
        plan = pairs._jdf.queryExecution().optimizedPlan().toString()
        import re

        for cond in re.findall(r"Join \w+, \((.*)\)", plan):
            if "shingle" in cond:
                # shingle joins must be the candidate probe (carry doc key
                # b), not the all-pairs `doc < doc` self-join
                assert "<" not in cond, f"all-pairs shingle self-join: {cond}"


class TestSimhash:
    def test_identical_equal_near_differs_by_few_bits(self, docs, spark):
        sim = dedup.simhash(docs, "doc_id", "text", bits=16)
        by = {r["doc_id"]: r["simhash"] for r in sim.collect()}
        assert by["d1"] == by["d2"]
        d = spark.createDataFrame(
            [(by["d1"], by["d3"]), (by["d1"], by["d4"])], ["x", "y"]
        ).select(dedup.hamming64(F.col("x"), F.col("y")).alias("h")).collect()
        near, far = d[0]["h"], d[1]["h"]
        assert near < far


class TestArrowKernelParity:
    """The Arrow (mapInPandas numpy) kernels must be BIT-IDENTICAL to an
    independent reference — the JVM explode+grouped-MIN minhash form, the
    DuckDB simhash oracle of the ``dedup_simhash`` ledger entry — same
    tokenizer, same md5 digest-slice contract, same multi-row-id merge
    semantics. Corpus includes exact dups, near dups, an empty doc,
    punctuation-heavy text, and ids spread over several partitions so the
    grouped merge actually runs."""

    @pytest.fixture(scope="class")
    def parity_docs(self, spark):
        rows = [
            ("d1", "the quick brown fox jumps over the lazy dog"),
            ("d2", "the quick brown fox jumps over the lazy dog"),
            ("d3", "The QUICK, brown fox -- leaps over the lazy dog!!"),
            ("d4", "completely different content about spark engines"),
            ("d5", ""),
            ("d6", "short doc"),
            ("d7", "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
        ]
        # duplicate SOME ids across partitions: signature must be the
        # union over the id's rows in both kernels
        rows += [("d1", "an extra row for the same id"),
                 ("d4", "more text sharing doc id d4")]
        return spark.createDataFrame(rows, ["doc_id", "text"]).repartition(4)

    def test_minhash_arrow_matches_jvm(self, parity_docs):
        for k in (4, 8):
            a = dedup.minhash_signatures(parity_docs, "doc_id", "text", k=k).orderBy("doc_id").collect()
            b = dedup.minhash_signatures_arrow(parity_docs, "doc_id", "text", k=k).orderBy("doc_id").collect()
            assert a == b

    @staticmethod
    def _simhash_vs_duckdb(parity_docs, bits):
        import duckdb

        import __spark_entry__ as entry
        from _oracle import compare

        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id VARCHAR, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)",
                        [tuple(r) for r in parity_docs.collect()])
        df = dedup.simhash(parity_docs, "doc_id", "text", bits=bits).orderBy("doc_id")
        res = compare(df, con, entry._simhash_oracle(bits))
        assert res["value_match"] and res["strict_match"], res
        assert res["rows_spark"] == 6  # 7 ids, the empty doc has no row

    def test_simhash_matches_duckdb_oracle(self, parity_docs):
        self._simhash_vs_duckdb(parity_docs, 16)

    def test_simhash_smaller_bits_matches_duckdb_oracle(self, parity_docs):
        self._simhash_vs_duckdb(parity_docs, 8)

    def test_python_tokenizer_matches_jvm(self, spark):
        from duckdb_mongo_spark.ops.dedup import _norm_tokens, _py_norm_tokens

        texts = [
            "Hello,   world!  foo\tbar\nbaz",
            "a--b__c  d;e:f (g) [h] {i}",
            "",
            "   ",
            "UPPER lower 123 mix3d",
        ]
        df = spark.createDataFrame([(t,) for t in texts], ["t"])
        jvm = [r[0] for r in df.select(_norm_tokens(F.col("t"))).collect()]
        assert jvm == [_py_norm_tokens(t) for t in texts]


class TestSimilarity:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [
            ("v1", [1.0, 0.0, 0.0]),
            ("v2", [0.9, 0.1, 0.0]),
            ("v3", [0.0, 1.0, 0.0]),
            ("v4", [-1.0, 0.0, 0.0]),
        ]
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def test_cosine_topk_exact(self, spark, corpus):
        q = spark.createDataFrame([("q1", [1.0, 0.0, 0.0])], ["q_id", "q_vec"])
        out = similarity.cosine_topk(q, corpus, k=2)
        rows = sorted(out.collect(), key=lambda r: r["rank"])
        assert [r["vec_id"] for r in rows] == ["v1", "v2"]
        assert rows[0]["score"] == pytest.approx(1.0)
        assert rows[1]["score"] == pytest.approx(0.9 / math.sqrt(0.82), abs=1e-6)

    def test_cosine_topk_matches_duckdb_sql(self, spark, corpus):
        # the ledger's cosine expression (_COSINE_SQL) in DuckDB over the
        # same fixture, ranked like the kernel (score desc, id asc)
        import duckdb

        import __spark_entry__ as entry
        from _oracle import compare

        qrows = [("q1", [1.0, 0.0, 0.0]), ("q2", [0.0, 0.5, 0.5])]
        q = spark.createDataFrame(qrows, ["q_id", "q_vec"])
        con = duckdb.connect()
        con.execute("CREATE TABLE q (q_id VARCHAR, qv DOUBLE[])")
        con.execute("CREATE TABLE c (c_id VARCHAR, cv DOUBLE[])")
        con.executemany("INSERT INTO q VALUES (?, ?)", qrows)
        con.executemany("INSERT INTO c VALUES (?, ?)",
                        [tuple(r) for r in corpus.collect()])
        sql = f"""
            WITH scored AS (SELECT q_id, c_id, {entry._COSINE_SQL} AS score
                            FROM q, c),
            ranked AS (SELECT q_id, c_id, score,
                              ROW_NUMBER() OVER (PARTITION BY q_id
                                                 ORDER BY score DESC, c_id) AS rank
                       FROM scored)
            SELECT q_id, c_id AS vec_id, score, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 3 ORDER BY q_id, rank
        """
        df = similarity.cosine_topk(q, corpus, k=3).orderBy("q_id", "rank")
        res = compare(df, con, sql)
        assert res["value_match"] and res["strict_match"], res
        assert res["rows_spark"] == 6

    def test_lsh_recall_on_identical(self, spark, corpus):
        q = spark.createDataFrame([("q1", [1.0, 0.0, 0.0])], ["q_id", "q_vec"])
        out = similarity.lsh_topk(q, corpus, k=1, n_planes=4)
        rows = out.collect()
        # identical vector always shares its own bucket
        assert rows and rows[0]["vec_id"] == "v1"

    def test_ivf_topk_recall_on_identical(self, spark, corpus):
        q = spark.createDataFrame([("q1", [1.0, 0.0, 0.0])], ["q_id", "q_vec"])
        out = similarity.ivf_topk(q, corpus, k=1, n_centroids=2, nprobe=1)
        rows = out.collect()
        # the query equals corpus vector v1, so v1's list is the nearest
        # probe and the exact re-rank must surface it first
        assert rows and rows[0]["vec_id"] == "v1"
        assert rows[0]["score"] == pytest.approx(1.0)

    def test_ivf_deterministic_with_seed(self, spark, corpus):
        q = spark.createDataFrame([("q1", [0.5, 0.5, 0.0])], ["q_id", "q_vec"])
        a = similarity.ivf_topk(q, corpus, k=2, n_centroids=2, nprobe=2).collect()
        b = similarity.ivf_topk(q, corpus, k=2, n_centroids=2, nprobe=2).collect()
        assert a == b

    def test_pq_zero_distortion_equals_exact_dot(self, spark):
        """When every distinct subvector gets its own centroid (n_codes
        >= sample size), quantization distortion is zero and ip-PQ ADC
        scores equal the exact dot products — a sharp oracle for the
        whole train/encode/topk pipeline, not just a recall bound."""
        import numpy as np

        rng = np.random.default_rng(9)
        vecs = rng.normal(size=(40, 8)).round(3)
        corpus = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        qs = [(100 + i, [float(x) for x in vecs[i]]) for i in range(3)]
        q = spark.createDataFrame(qs, "q_id long, q_vec array<double>")
        books = similarity.pq_train(corpus, m=4, n_codes=64, fit_sample_size=1000)
        codes = similarity.pq_encode(corpus, books)
        out = similarity.pq_topk(q, codes, books, k=5, metric="ip")
        got = {(r["q_id"], r["rank"]): (r["vec_id"], r["score"]) for r in out.collect()}
        exact = vecs @ vecs[:3].T  # (40, 3)
        for qi in range(3):
            order = sorted(
                range(40), key=lambda c: (-round(exact[c, qi], 6), c)
            )[:5]
            for rank, cid in enumerate(order, start=1):
                gc, gs = got[(100 + qi, rank)]
                assert gc == cid
                assert gs == pytest.approx(exact[cid, qi], abs=1e-6)

    def test_pq_l2_self_recovery_and_code_size(self, spark):
        import numpy as np

        rng = np.random.default_rng(17)
        # clustered corpus: PQ with modest codebooks must still return
        # the query's own vector as the l2 top-1
        centers = rng.normal(size=(4, 12)) * 5
        vecs = np.concatenate(
            [c + rng.normal(size=(10, 12)) * 0.05 for c in centers]
        ).round(3)
        corpus = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        q = spark.createDataFrame(
            [(0, [float(x) for x in vecs[7]]), (1, [float(x) for x in vecs[33]])],
            "q_id long, q_vec array<double>",
        )
        books = similarity.pq_train(corpus, m=6, n_codes=256)
        codes = similarity.pq_encode(corpus, books)
        rows = codes.collect()
        assert all(len(r["code"]) == 6 for r in rows)  # m bytes per vector
        out = similarity.pq_topk(q, codes, books, k=1, metric="l2").collect()
        top1 = {r["q_id"]: r["vec_id"] for r in out}
        assert top1 == {0: 7, 1: 33}

    def test_pq_deterministic_and_validated(self, spark):
        import numpy as np

        vecs = np.arange(24, dtype=float).reshape(6, 4)
        corpus = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        a = similarity.pq_train(corpus, m=2, n_codes=4, seed=5)
        b = similarity.pq_train(corpus, m=2, n_codes=4, seed=5)
        assert all((x == y).all() for x, y in zip(a, b))
        with pytest.raises(ValueError, match="metric"):
            similarity.pq_topk(
                corpus.selectExpr("vec_id as q_id", "embedding as q_vec"),
                similarity.pq_encode(corpus, a), a, metric="cosine",
            )
        with pytest.raises(ValueError, match="m must be"):
            similarity.pq_train(corpus, m=9)

    def test_ivf_pq_full_probe_equals_pq_topk(self, spark):
        """With nprobe == n_centroids the IVF restriction is a no-op, so
        ivf_pq_topk must return EXACTLY pq_topk's rows (same codebooks,
        same ADC scores, same tie-break) — the composition only prunes."""
        import numpy as np

        rng = np.random.default_rng(23)
        vecs = rng.normal(size=(30, 8)).round(3)
        corpus = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        q = spark.createDataFrame(
            [(0, [float(x) for x in vecs[4]]), (1, [float(x) for x in vecs[9]])],
            "q_id long, q_vec array<double>",
        )
        books = similarity.pq_train(corpus, m=4, n_codes=16)
        codes = similarity.pq_encode(corpus, books)
        flat = similarity.pq_topk(q, codes, books, k=5, metric="ip").collect()
        ivf = similarity.ivf_pq_topk(
            q, corpus, k=5, n_centroids=4, nprobe=4, m=4, n_codes=16, metric="ip"
        ).collect()
        key = lambda r: (r["q_id"], r["rank"])
        assert sorted(map(tuple, flat), key=lambda t: (t[0], t[3])) == \
               sorted(map(tuple, ivf), key=lambda t: (t[0], t[3]))

    def test_ivf_pq_self_recovery_with_pruning(self, spark):
        import numpy as np

        rng = np.random.default_rng(29)
        centers = rng.normal(size=(4, 8)) * 10
        vecs = np.concatenate(
            [c + rng.normal(size=(8, 8)) * 0.05 for c in centers]
        ).round(3)
        corpus = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        q = spark.createDataFrame(
            [(0, [float(x) for x in vecs[3]]), (1, [float(x) for x in vecs[20]])],
            "q_id long, q_vec array<double>",
        )
        out = similarity.ivf_pq_topk(
            q, corpus, k=1, n_centroids=4, nprobe=1, m=4, n_codes=64, metric="l2"
        ).collect()
        assert {r["q_id"]: r["vec_id"] for r in out} == {0: 3, 1: 20}

    def test_near_dup_pairs_exact(self, corpus):
        out = similarity.embedding_near_dup_pairs(corpus, threshold=0.95, exact=True)
        got = {(r["a"], r["b"]) for r in out.collect()}
        assert got == {("v1", "v2")}

    def test_near_dup_bucketed_agrees_with_exact(self, corpus):
        """Agreement contract for the bucketed (scale) plan: every pair
        it finds appears in the exact result with the SAME score, and
        near-identical vectors (the actual near-dup regime) are found."""
        exact = {
            (r["a"], r["b"]): r["score"]
            for r in similarity.embedding_near_dup_pairs(
                corpus, threshold=0.95, exact=True
            ).collect()
        }
        bucketed = {
            (r["a"], r["b"]): r["score"]
            for r in similarity.embedding_near_dup_pairs(
                corpus, threshold=0.95, exact=False, dim=3, n_planes=4
            ).collect()
        }
        assert set(bucketed) <= set(exact)
        for pair, score in bucketed.items():
            assert score == exact[pair]
        assert ("v1", "v2") in bucketed  # cosine≈0.995 → same bucket

    def test_bucketed_near_dup_plan_has_no_cross_join(self, corpus):
        out = similarity.embedding_near_dup_pairs(
            corpus, threshold=0.95, exact=False, dim=3, n_planes=4
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan

    def test_dim_resolution_runs_no_job(self, spark, corpus, monkeypatch):
        """With dim passed (or carried in column metadata) plan building
        must not kick off a first() probe job — dim is a property of the
        embedding model, not the data."""
        from pyspark.sql import DataFrame

        def boom(self, *a, **k):
            raise AssertionError("first() probe job ran during plan build")

        monkeypatch.setattr(DataFrame, "first", boom)
        q = spark.createDataFrame([("q1", [1.0, 0.0, 0.0])], ["q_id", "q_vec"])
        similarity.lsh_topk(q, corpus, k=1, n_planes=4, dim=3)
        similarity.embedding_near_dup_pairs(
            corpus, threshold=0.95, exact=False, dim=3, n_planes=4)
        with_md = corpus.withMetadata("embedding", {"dim": 3})
        similarity.lsh_topk(q, with_md, k=1, n_planes=4)
        similarity.embedding_near_dup_pairs(
            with_md, threshold=0.95, exact=False, n_planes=4)

    def test_dim_metadata_matches_explicit(self, spark, corpus):
        q = spark.createDataFrame([("q1", [1.0, 0.0, 0.0])], ["q_id", "q_vec"])
        explicit = similarity.lsh_topk(q, corpus, k=2, n_planes=4, dim=3).collect()
        with_md = corpus.withMetadata("embedding", {"dim": 3})
        via_md = similarity.lsh_topk(q, with_md, k=2, n_planes=4).collect()
        assert explicit == via_md

    def test_ivf_fit_is_sample_bounded(self, spark, corpus):
        """ivf_index must never feed the full corpus to KMeans — the fit
        input is capped by fit_sample_size (the 100 TB contract)."""
        assigned, centroids = similarity.ivf_index(
            corpus, n_centroids=2, fit_sample_size=2
        )
        # fit saw only 2 rows but assignment covers the whole corpus
        assert assigned.count() == 4
        assert len(centroids) == 2

    def test_ivf_fit_independent_of_input_partitions(self, spark):
        """k-means|| init samples per partition: the fit must not follow
        how the corpus happens to be partitioned."""
        import random

        rnd = random.Random(5)
        rows = [(f"v{i:03d}", [rnd.gauss(i % 3, 0.4), rnd.gauss(0, 1.0),
                               rnd.gauss(-(i % 3), 0.7)]) for i in range(3000)]
        base = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out = []
        for n_parts in (1, 7):
            corpus = base.repartition(n_parts)
            assert corpus.rdd.getNumPartitions() == n_parts
            assigned, centroids = similarity.ivf_index(
                corpus, n_centroids=5, seed=3)
            cells = sorted((r["c_id"], r["centroid_id"])
                           for r in assigned.collect())
            out.append((centroids, cells))
        assert out[0] == out[1]
        assert len(out[0][0]) == 5


class TestTextAnalysis:
    def test_token_count(self, spark):
        df = spark.createDataFrame([("Hello, world! 42",)], ["text"])
        row = df.select(
            text.token_count(F.col("text")).alias("n"),
            text.bpe_token_count(F.col("text")).alias("b"),
        ).collect()[0]
        assert row["n"] == 3
        assert row["b"] >= 3

    def test_punct_ratio_bounds(self, spark):
        df = spark.createDataFrame([("abc...",), ("abc",), ("",)], ["text"])
        rows = df.select(text.punct_ratio(F.col("text")).alias("r")).collect()
        assert rows[0]["r"] == pytest.approx(0.5)
        assert rows[1]["r"] == pytest.approx(0.0)

    def test_language_id_heuristic(self, spark):
        df = spark.createDataFrame(
            [("the cat and the dog are in the house",),
             ("el gato y el perro de la casa",)],
            ["text"])
        rows = df.select(text.language_id(F.col("text")).alias("l")).collect()
        assert rows[0]["l"] == "en"
        assert rows[1]["l"] == "es"

    def test_with_analysis_schema(self, docs):
        out = text.with_analysis(docs)
        for c in ("n_tokens", "n_bpe_tokens", "punct_ratio", "stopword_ratio",
                  "avg_token_len", "quality", "lang_id", "fingerprint"):
            assert c in out.columns
        rows = {r["doc_id"]: r for r in out.collect()}
        assert rows["d5"]["n_tokens"] == 0

    def test_fingerprint_deterministic(self, docs):
        a = {r["doc_id"]: r["fingerprint"] for r in text.with_analysis(docs).collect()}
        b = {r["doc_id"]: r["fingerprint"] for r in text.with_analysis(docs).collect()}
        assert a == b
        assert a["d1"] == a["d2"]

    @pytest.fixture(scope="class")
    def tricky_docs(self, spark):
        """Inputs that would expose ``_sql_str`` escaping bugs (ADVICE
        r14): NULL text, quotes, backslashes, multibyte and non-BMP
        (astral) chars, and literal ``\\uXXXX``-looking sequences."""
        rows = [
            ("t1", None),
            ("t2", "it's a 'quoted' doc"),
            ("t3", "back\\slash and \\\\double, plus \\u0041 literal"),
            ("t4", "café naïve 中文 words"),
            ("t5", "astral \U0001F600 emoji and \U00010348 gothic"),
            ("t6", "tabs\tand\nnewlines\x0band\fcontrols\r end"),
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    # with_analysis on tricky_docs, recorded from the Column-API builder
    # (then kept beside the SQL-text one; the two agreed on every row)
    TRICKY_SCHEMA = (
        "struct<doc_id:string,text:string,n_tokens:int,n_bpe_tokens:int,"
        "punct_ratio:double,stopword_ratio:double,avg_token_len:double,"
        "quality:double,lang_id:string,fingerprint:string>")
    TRICKY_ROWS = [
        ("t1", None, None, None, 0.0, 0.0, 0.0, 0.6, "und",
         "d41d8cd98f00b204e9800998ecf8427e"),
        ("t2", "it's a 'quoted' doc", 4, 8, 0.15789473684210525, 0.25, 4.0,
         0.474558, "und", "e5634d52718c5860161647298585a258"),
        ("t3", "back\\slash and \\\\double, plus \\u0041 literal", 6, 12,
         0.11363636363636363, 0.16666666666666666, 6.5, 0.422612, "en",
         "ec12a5b0d19ece358c2173b2cdc4f1fb"),
        ("t4", "café naïve 中文 words", 4, 4, 0.0, 0.0, 4.0, 0.3114, "und",
         "9ee575323cd23dd5af898606f5e7c212"),
        ("t5", "astral \U0001F600 emoji and \U00010348 gothic", 6, 6, 0.0,
         0.16666666666666666, 3.6666666666666665, 0.582867, "en",
         "defb4bbf6989ab996cdb0039dc07bb00"),
        ("t6", "tabs\tand\nnewlines\x0band\fcontrols\r end", 6, 6, 0.0,
         0.3333333333333333, 4.833333333333333, 0.721, "en",
         "e47ac6120334efa92cb748930919332f"),
    ]

    def test_with_analysis_tricky_rows(self, tricky_docs):
        out = text.with_analysis(tricky_docs, "text")
        assert out.schema.simpleString() == self.TRICKY_SCHEMA
        got = sorted((tuple(r) for r in out.collect()), key=lambda t: t[0])
        assert got == self.TRICKY_ROWS

    @staticmethod
    def _under_escaped_literals(spark, value, fn):
        key = "spark.sql.parser.escapedStringLiterals"
        old = spark.conf.get(key, "false")
        try:
            spark.conf.set(key, value)
            return fn()
        finally:
            spark.conf.set(key, old)

    def test_sql_str_round_trips_through_parser(self, spark):
        # every char class _sql_str must protect, round-tripped through
        # the live SQL parser under both escapedStringLiterals values —
        # including an astral char and a string that LOOKS like an escape
        cases = ["", "'", "\\", "\\\\", "\\u0041", "a'b\\c",
                 "\t\n\x0b\f\r", "é中", "\U0001F600",
                 "mix 'q' \\ \U00010348 \n end"]
        for value in ("false", "true"):
            for s in cases:
                got = self._under_escaped_literals(
                    spark, value, lambda: spark.sql(
                        f"SELECT {text._sql_str(s)} AS v").collect()[0]["v"])
                assert got == s, (value, repr(s))

    def test_with_analysis_same_rows_under_escaped_string_literals(
            self, spark, tricky_docs):
        # the SQL-text builder's literals must parse to the same strings
        # with the legacy parser conf on and off
        def rows():
            out = text.with_analysis(tricky_docs, "text")
            return sorted((tuple(r) for r in out.collect()),
                          key=lambda t: t[0])

        for value in ("false", "true"):
            assert self._under_escaped_literals(spark, value, rows) == \
                self.TRICKY_ROWS, value

    def test_with_analysis_matches_duckdb_oracle(self, docs):
        """with_analysis and with_text_stats on ``docs`` equal the
        ``text_analysis`` ledger entry's DuckDB oracle (regex forms),
        column by column and type by type."""
        import duckdb

        import __spark_entry__ as entry
        from _oracle import compare

        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id VARCHAR, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)",
                        [tuple(r) for r in docs.collect()])
        oracle = entry._text_oracle()
        cols = ["doc_id", "n_tokens", "n_bpe_tokens", "punct_ratio",
                "stopword_ratio", "avg_token_len", "quality", "lang_id",
                "fingerprint"]
        out = text.with_analysis(docs, "text").select(*cols).orderBy("doc_id")
        res = compare(out, con, oracle)
        assert res["value_match"] and res["strict_match"], res
        stats = cols[:6]
        out_s = text.with_text_stats(docs, "text").select(*stats).orderBy("doc_id")
        res_s = compare(out_s, con, f"SELECT {', '.join(stats)} "
                                    f"FROM ({oracle}) ORDER BY doc_id")
        assert res_s["value_match"] and res_s["strict_match"], res_s


class TestMultimodal:
    def test_attach_and_fake_decode(self, spark):
        df = spark.createDataFrame([("a", b"\x89PNG fake"), ("b", b"RIFF fake")],
                                   ["id", "payload"])
        media = multimodal.attach_media_column(df, F.col("payload"), mime="image/png")
        out = multimodal.fake_decode_meta(media)
        rows = {r["id"]: r for r in out.collect()}
        assert rows["a"]["width"] > 0
        assert rows["a"]["n_bytes"] == len(b"\x89PNG fake")
        # deterministic: same payload → same fake shape
        again = {r["id"]: r for r in multimodal.fake_decode_meta(media).collect()}
        assert again["a"]["width"] == rows["a"]["width"]

    # -- handcrafted container headers (public file-format structure)
    @staticmethod
    def _png(w, h):
        import struct
        import zlib

        ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
        chunk = b"IHDR" + ihdr
        return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", len(ihdr)) + chunk
                + struct.pack(">I", zlib.crc32(chunk)))

    @staticmethod
    def _gif(w, h):
        import struct

        return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"

    @staticmethod
    def _jpeg(w, h):
        import struct

        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", h, w) + b"\x01\x11\x00"
        return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"

    @staticmethod
    def _bmp(w, h):
        import struct

        return b"BM" + b"\x00" * 12 + struct.pack("<I", 40) + struct.pack("<ii", w, h)

    @staticmethod
    def _webp_vp8x(w, h):
        return (
            b"RIFF" + b"\x00" * 4 + b"WEBP" + b"VP8X" + b"\x0a\x00\x00\x00"
            + b"\x00" * 4
            + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
        )

    @staticmethod
    def _webp_vp8l(w, h):
        bits = (w - 1) | ((h - 1) << 14)
        return (
            b"RIFF" + b"\x00" * 4 + b"WEBP" + b"VP8L" + b"\x05\x00\x00\x00"
            + b"\x2f" + bits.to_bytes(4, "little")
        )

    def test_parse_image_header(self):
        assert multimodal.parse_image_header(self._png(640, 480)) == ("image/png", 640, 480)
        assert multimodal.parse_image_header(self._gif(320, 200)) == ("image/gif", 320, 200)
        assert multimodal.parse_image_header(self._jpeg(1920, 1080)) == ("image/jpeg", 1920, 1080)
        assert multimodal.parse_image_header(self._bmp(800, 600)) == ("image/bmp", 800, 600)
        # top-down BMP stores a negative height
        assert multimodal.parse_image_header(self._bmp(800, -600)) == ("image/bmp", 800, 600)
        assert multimodal.parse_image_header(self._webp_vp8x(1024, 768)) == ("image/webp", 1024, 768)
        assert multimodal.parse_image_header(self._webp_vp8l(513, 257)) == ("image/webp", 513, 257)
        assert multimodal.parse_image_header(b"not an image") is None
        assert multimodal.parse_image_header(b"") is None
        # truncated PNG (magic only): no IHDR → unrecognized, no crash
        assert multimodal.parse_image_header(b"\x89PNG\r\n\x1a\n") is None
        # RIFF container that is not WebP (plain WAV) → not an image
        assert multimodal.parse_image_header(b"RIFF" + b"\x00" * 4 + b"WAVEfmt " + b"\x00" * 12) is None

    def test_decode_image_meta_real_headers(self, spark):
        rows = [
            ("png", bytearray(self._png(640, 480))),
            ("gif", bytearray(self._gif(320, 200))),
            ("jpg", bytearray(self._jpeg(1920, 1080))),
            ("junk", bytearray(b"wat")),
        ]
        df = spark.createDataFrame(rows, ["id", "payload"])
        media = multimodal.attach_media_column(df, F.col("payload"))
        out = {r["id"]: r for r in multimodal.decode_image_meta(media).collect()}
        assert (out["png"]["mime"], out["png"]["width"], out["png"]["height"]) == ("image/png", 640, 480)
        assert (out["gif"]["width"], out["gif"]["height"]) == (320, 200)
        assert (out["jpg"]["mime"], out["jpg"]["width"], out["jpg"]["height"]) == ("image/jpeg", 1920, 1080)
        assert out["junk"]["mime"] == "application/octet-stream"
        assert out["junk"]["width"] is None and out["junk"]["n_frames"] is None
        assert out["png"]["n_frames"] == 1
        assert out["png"]["n_bytes"] == len(self._png(640, 480))

    @staticmethod
    def _wav(channels, rate, n_samples, bits=16):
        import struct

        block_align = channels * bits // 8
        fmt = struct.pack(
            "<HHIIHH", 1, channels, rate, rate * block_align, block_align, bits
        )
        data = b"\x00" * (n_samples * block_align)
        chunks = (
            b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    def test_parse_audio_header(self):
        assert multimodal.parse_audio_header(self._wav(2, 44100, 44100)) == (
            "audio/wav", 2, 44100, 44100,
        )
        assert multimodal.parse_audio_header(self._wav(1, 16000, 8000)) == (
            "audio/wav", 1, 16000, 8000,
        )
        assert multimodal.parse_audio_header(b"not audio") is None
        assert multimodal.parse_audio_header(b"") is None
        # RIFF magic but no fmt/data chunks → unrecognized, no crash
        assert multimodal.parse_audio_header(b"RIFF\x04\x00\x00\x00WAVE") is None

    def test_decode_audio_meta_real_headers(self, spark):
        rows = [
            ("stereo", bytearray(self._wav(2, 44100, 22050))),  # 0.5 s
            ("mono", bytearray(self._wav(1, 16000, 48000))),    # 3 s
            ("junk", bytearray(b"wat")),
        ]
        df = spark.createDataFrame(rows, ["id", "payload"])
        media = multimodal.attach_media_column(df, F.col("payload"))
        out = {r["id"]: r for r in multimodal.decode_audio_meta(media).collect()}
        s = out["stereo"]
        assert (s["mime"], s["channels"], s["sample_rate"]) == ("audio/wav", 2, 44100)
        assert (s["n_samples"], s["duration_ms"]) == (22050, 500)
        assert out["mono"]["duration_ms"] == 3000
        assert out["junk"]["mime"] == "application/octet-stream"
        assert out["junk"]["channels"] is None
        assert out["junk"]["n_bytes"] == 3


class TestRegexFreeTokenizerEquivalence:
    """The hot-path tokenizers replaced java-regex forms (measured ~65x
    per-char degradation under executor-thread concurrency — see
    ops/text.py module header). These tests pin the translate forms to
    the regex forms they replaced: whitespace ops must agree on EVERY
    input (java \\s is exactly 6 enumerable ASCII chars); ASCII-class
    ops must agree on ASCII text (the oracle corpus's contract)."""

    TRICKY_WS = [
        ("plain words here",),
        ("  leading and trailing  ",),
        ("tab\tsep\nnewline\rcr\x0bvt\x0cff",),
        ("multi   spaces\t\t\tand\n\n\nruns",),
        ("",),
        ("   ",),
        ("one",),
    ]
    ASCII_TEXT = [
        ("Hello, world! It's 42 degrees; really?",),
        ("under_score stays-together? (parens) [brackets] {braces}",),
        ("digits 123 mixed2words and ALL CAPS PUNCT!!!",),
        ("a.b.c...d,,e;;f::g",),
    ]

    def test_ws_tokens_equals_regex_split_on_any_input(self, spark):
        df = spark.createDataFrame(self.TRICKY_WS, ["text"])
        regex = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
        n = df.filter(text.ws_tokens(F.col("text")) != regex).count()
        assert n == 0

    def test_fingerprint_equals_regex_collapse_on_any_input(self, spark):
        df = spark.createDataFrame(self.TRICKY_WS, ["text"])
        regex = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
        n = df.filter(text.fingerprint(F.col("text")) != regex).count()
        assert n == 0

    def test_ascii_class_forms_equal_regex_on_ascii(self, spark):
        df = spark.createDataFrame(self.ASCII_TEXT, ["text"])
        c = F.col("text")
        regex_bpe = F.size(F.regexp_extract_all(c, F.lit(text.BPE_TOKEN_RE), F.lit(0)))
        regex_punct = (F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))) / F.length(c)
        bad = df.filter(
            (text.bpe_token_count(c) != regex_bpe)
            | (F.abs(text.punct_ratio(c) - regex_punct) > 1e-12)
        ).count()
        assert bad == 0

    def test_norm_tokens_equals_regex_on_ascii(self, spark):
        df = spark.createDataFrame(self.ASCII_TEXT, ["text"])
        regex = F.filter(
            F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " ")), r"\s+"),
            lambda x: x != F.lit(""),
        )
        n = df.filter(dedup._norm_tokens(F.col("text")) != regex).count()
        assert n == 0


class TestEnsureMinParallelism:
    def test_underparallel_input_is_repartitioned(self, spark):
        from duckdb_mongo_spark.ops.partitioning import ensure_min_parallelism

        df = spark.createDataFrame([(i,) for i in range(100)], ["x"]).coalesce(2)
        out = ensure_min_parallelism(df)
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        assert out.count() == 100

    def test_wide_input_untouched(self, spark):
        from duckdb_mongo_spark.ops.partitioning import ensure_min_parallelism

        target = spark.sparkContext.defaultParallelism
        df = spark.range(1000).repartition(target + 4)
        out = ensure_min_parallelism(df)
        # already >= parallelism: no extra exchange inserted
        assert out is df

    def test_probe_runs_no_job_on_shuffle_input(self, spark):
        # the sizing probe reads the plan: on a groupBy + join input it
        # must not run the upstream shuffle stages (a df.rdd probe ran
        # them, and the real action then ran them again)
        from duckdb_mongo_spark.ops.partitioning import (
            ensure_min_parallelism,
            planned_partitions,
        )

        base = spark.range(0, 5000).select(
            F.col("id"), (F.col("id") % 7).alias("k"))
        inputs = {
            "broadcast": base.join(base.groupBy("k").count(), "k"),
            "merge": base.join(base.groupBy("k").count().hint("shuffle_merge"), "k"),
            "repartition": base.repartition(13),
        }
        sc = spark.sparkContext
        group = "ensure-min-parallelism-no-job-probe"
        sc.setJobGroup(group, "the sizing probe must not run a job")
        try:
            outs = {name: ensure_min_parallelism(df) for name, df in inputs.items()}
            planned = planned_partitions(inputs["repartition"])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert list(jobs) == [], f"sizing probe launched jobs: {jobs}"
        assert planned == 13
        assert outs["repartition"] is inputs["repartition"]
        for name, out in outs.items():
            assert out.count() == inputs[name].count() == 5000


class TestTokenizerPropertyEquivalence:
    """Property check: for RANDOM printable-ASCII strings (with all six
    java-\\s whitespace chars in the alphabet), the translate-based forms
    equal the regex forms they replaced. Driven through ONE Spark job
    over a generated corpus rather than @given-per-example (a Spark
    round-trip per hypothesis example would take minutes)."""

    def test_random_ascii_corpus_equivalence(self, spark):
        import random

        rng = random.Random(20260813)
        alphabet = (
            "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
            "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~ \t\n\x0b\f\r"
        )
        rows = [
            ("".join(rng.choice(alphabet) for _ in range(rng.randint(0, 80))),)
            for _ in range(500)
        ]
        df = spark.createDataFrame(rows, ["text"]).coalesce(4)
        c = F.col("text")
        ws_regex = F.filter(F.split(c, r"\s+"), lambda x: x != F.lit(""))
        fp_regex = F.md5(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")))
        bpe_regex = F.size(F.regexp_extract_all(c, F.lit(text.BPE_TOKEN_RE), F.lit(0)))
        punct_regex = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
        norm_regex = F.filter(
            F.split(F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", " ")), r"\s+"),
            lambda x: x != F.lit(""),
        )
        punct_ours = F.when(
            F.length(c) > 0, text.punct_ratio(c) * F.length(c)
        ).otherwise(F.lit(0.0))
        bad = df.filter(
            (text.ws_tokens(c) != ws_regex)
            | (text.fingerprint(c) != fp_regex)
            | (text.bpe_token_count(c) != bpe_regex)
            | (F.abs(punct_ours - punct_regex) > 1e-9)
            | (dedup._norm_tokens(c) != norm_regex)
        )
        mismatches = bad.collect()
        assert not mismatches, f"first mismatch: {mismatches[0]!r}"


class TestDuplicateClusters:
    """Connected components over near-dup pairs (pointer-jumping CC)."""

    def _clusters(self, spark, edges):
        pairs = spark.createDataFrame(edges, ["a", "b"])
        rows = dedup.duplicate_clusters(pairs).collect()
        return {r["node"]: r["cluster"] for r in rows}

    def test_simple_components(self, spark):
        got = self._clusters(
            spark, [("d2", "d1"), ("d2", "d3"), ("d5", "d4"), ("d9", "d8")]
        )
        assert got == {
            "d1": "d1", "d2": "d1", "d3": "d1",
            "d4": "d4", "d5": "d4",
            "d8": "d8", "d9": "d8",
        }

    def test_long_chain_converges_logarithmically(self, spark):
        # a 64-node chain has diameter 63; pointer jumping must resolve it
        # well inside max_iter=25 rounds (plain propagation would need 63)
        edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(63)]
        got = self._clusters(spark, edges)
        assert set(got.values()) == {"n000"}
        assert len(got) == 64

    def test_matches_duckdb_recursive_oracle(self, spark):
        """Random graph vs a DuckDB WITH RECURSIVE transitive-closure
        min-label oracle (exact, enumerates all reachable labels)."""
        import random

        import duckdb

        rng = random.Random(11)
        nodes = [f"v{i:02d}" for i in range(40)]
        edges = sorted(
            {tuple(sorted(rng.sample(nodes, 2))) for _ in range(45)}
        )
        got = self._clusters(spark, edges)

        con = duckdb.connect()
        con.execute("CREATE TABLE e(src VARCHAR, dst VARCHAR)")
        con.executemany("INSERT INTO e VALUES (?, ?)", edges)
        expect = dict(
            con.execute(
                """
                WITH RECURSIVE sym AS (
                    SELECT src, dst FROM e UNION SELECT dst, src FROM e
                ),
                cc(node, label) AS (
                    SELECT DISTINCT src, src FROM sym
                    UNION
                    SELECT s.dst, cc.label FROM cc JOIN sym s ON s.src = cc.node
                )
                SELECT node, MIN(label) FROM cc GROUP BY node
                """
            ).fetchall()
        )
        con.close()
        assert got == expect

    def test_keep_canonical_end_to_end(self, spark, docs):
        # LSH pairs on the shared docs fixture feed the cluster resolver;
        # d2 (exact dup, jaccard 1.0) collapses into d1; d3's jaccard to
        # d1 is 4/10 = 0.4 < threshold so it correctly survives
        pairs = dedup.near_dup_pairs_minhash_lsh(
            docs, "doc_id", "text", threshold=0.5
        )
        kept = dedup.dedup_keep_canonical(docs, pairs, "doc_id")
        assert sorted(r["doc_id"] for r in kept.collect()) == [
            "d1", "d3", "d4", "d5"
        ]

    @staticmethod
    def _recursive_oracle(edges):
        import duckdb

        con = duckdb.connect()
        con.execute("CREATE TABLE e(src VARCHAR, dst VARCHAR)")
        if edges:
            con.executemany("INSERT INTO e VALUES (?, ?)", edges)
        expect = dict(
            con.execute(
                """
                WITH RECURSIVE sym AS (
                    SELECT src, dst FROM e UNION SELECT dst, src FROM e
                ),
                cc(node, label) AS (
                    SELECT DISTINCT src, src FROM sym
                    UNION
                    SELECT s.dst, cc.label FROM cc JOIN sym s ON s.src = cc.node
                )
                SELECT node, MIN(label) FROM cc GROUP BY node
                """
            ).fetchall()
        )
        con.close()
        return expect

    @pytest.mark.parametrize("seed", [3, 17, 29])
    def test_mixed_graphs_match_recursive_oracle(self, spark, seed):
        """Seeded graphs mixing stars (hub min, hub max and hub in the
        middle of its leaves), chains in shuffled node order, isolated
        pairs and a few random cross edges, against the DuckDB
        transitive-closure oracle."""
        import random

        rng = random.Random(seed)
        ids = [f"v{i:03d}" for i in range(400)]
        rng.shuffle(ids)
        edges = set()
        for _ in range(4):  # stars
            hub, leaves = ids.pop(), [ids.pop() for _ in range(rng.randint(2, 9))]
            edges |= {(hub, leaf) for leaf in leaves}
        for _ in range(3):  # chains
            chain = [ids.pop() for _ in range(rng.randint(3, 30))]
            edges |= set(zip(chain, chain[1:]))
        for _ in range(12):  # isolated pairs
            edges.add((ids.pop(), ids.pop()))
        used = sorted({n for e in edges for n in e})
        for _ in range(3):  # cross edges merge some components
            edges.add(tuple(rng.sample(used, 2)))
        edges = sorted(edges)
        assert self._clusters(spark, edges) == self._recursive_oracle(edges)

    def test_empty_pair_frame(self, spark):
        pairs = spark.createDataFrame([], "a string, b string")
        assert dedup.duplicate_clusters(pairs).collect() == []
        assert self._recursive_oracle([]) == {}

    def test_too_small_max_iter_raises(self, spark):
        # a 64-node chain needs several pointer-jumping rounds; one round
        # cannot reach a fixpoint and must raise, never return labels
        edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(63)]
        pairs = spark.createDataFrame(edges, ["a", "b"])
        with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
            dedup.duplicate_clusters(pairs, max_iter=1)

    def test_near_dedup_job_count_guard(self, spark):
        """The near-dedup call (LSH pairs + canonical keep) on a small
        corpus of isolated planted pairs runs in a fixed handful of
        Spark jobs: closed-neighbourhood initialisation resolves the
        pairs before round one, and the round's changed-label count
        rides its own checkpoint job."""
        import random

        rng = random.Random(5)
        vocab = [f"w{i}" for i in range(2000)]
        rows = [
            (1000 + i, " ".join(rng.choice(vocab) for _ in range(rng.randint(60, 120))))
            for i in range(60)
        ]
        for j in range(8):
            words = rows[j * 7][1].split()
            words[rng.randrange(len(words))] = "planted"
            rows.append((2000 + j, " ".join(words)))
        corpus = spark.createDataFrame(rows, "doc_id long, text string").localCheckpoint()
        sc = spark.sparkContext
        group = "near-dedup-job-count-guard"
        sc.setJobGroup(group, "near-dedup job count")
        try:
            pairs = dedup.near_dup_pairs_minhash_lsh(corpus, "doc_id", "text", threshold=0.8)
            kept = dedup.dedup_keep_canonical(corpus, pairs, "doc_id").localCheckpoint(eager=True)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert kept.count() == 60
        assert n_jobs <= NEAR_DEDUP_MAX_JOBS, n_jobs
