"""curation_batch: batches of the training-data pipeline, ingested and read back.

A batch is a sequence of calls, each one operation of the closed loop:
read the corpus through the catalog (the only scan/pushdown work of the
batch) with analysis and the quality gate, exact dedup, MinHash-LSH with
canonical keep, PQ decontamination, the split, chunking, packing, the
sharded write of training data, then the append of the clean documents
to the ``docs`` search collection (``write_collection(mode="append")``),
its compaction (``compact_collection``) and the maintenance of its text
statistics sidecar (``build_text_stats_index``). Each pipeline call's
output is materialized (``localCheckpoint``) inside the call, so the
call's jobs run in its own operation.

After every batch, the first ``$search`` and the first ``$vectorSearch``
read the files and sidecar the ingest replaced (the fresh reads). Two
small ingests follow (append a few clean documents, maintain the text
statistics sidecar), each with its own fresh reads.

A run makes one cold batch first, its calls and the reads after it
untimed: JIT and Python-worker start make it cost about twice a warm
one, and its reads warm the search code. Then it times warm batches,
their small ingests and the fresh reads after each write. Every batch
curates the same corpus, so every batch of a run must give the same
stage counts and manifest; it ingests the clean documents under fresh
ids, with a batch tag before the text. A traced run alternates a
traced and a plain warm batch, then makes two approximate
``$vectorSearch``es: the first builds the IVF sidecar, the second, after
the in-memory index cache is cleared, loads it.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

import gen
import harness
import search
import stats

WARM_BATCHES = 1  # least warm batches a plain run times
TOP_UPS = 2       # small ingests after each timed batch
TOP_UP_DOCS = 20  # clean documents a small ingest appends
FRAMES = ["kept", "exact", "canonical", "clean", "split", "chunks", "packed"]


class Curation:
    def __init__(self, run: harness.Run, inp):
        self.run, self.inp = run, inp
        self.rng = np.random.default_rng([run.seed, 2])
        self.cat = None
        self.batches: list = []   # (counts, manifest digest) per batch
        self.fresh: list = []     # (kind, query, rows) read after the last batch
        self.n_ingested = 0       # documents appended to docs
        self.coll_dir = os.path.join(inp.parquet_root, "docs.parquet")
        self.shard_dir = os.path.join(run.run_dir, "shards")

    def setup(self) -> None:
        import duckdb_mongo_spark as dms

        self.cat = dms.attach("parquet:" + self.inp.parquet_root, alias="pq",
                              spark=self.run.spark)
        for coll in ("corpus", "corpus_emb", "docs"):
            self.cat.schema_for(coll)

    def _materialize(self, df):
        with self.run.rec.span("spark.action"):
            return df.localCheckpoint(eager=True)

    def steps(self, id_shift: int) -> list:
        """The calls of one batch, in order: ``(kind, fn, input docs)``;
        ``fn(state)`` adds its output frame to ``state`` and returns its
        output rows (counted for the shard write only)."""
        from pyspark.sql import functions as F

        from duckdb_mongo_spark.ops import chunking, dedup, packing, sharding, similarity, text
        from duckdb_mongo_spark.ops.sampling import hash_split
        from duckdb_mongo_spark.sinks import compact_collection

        run, span, mat = self.run, self.run.rec.span, self._materialize
        spark, backend = run.spark, self.cat.backend

        def analysis(s):
            docs = self.cat.table("corpus").df()
            with span("ops.text.analysis"):
                s["kept"] = mat(text.with_analysis(docs, "text").filter(
                    (F.col("quality") >= 0.2) & (F.col("n_tokens") >= 5)))
            return 0

        def exact(s):
            with span("ops.dedup.exact"):
                s["exact"] = mat(dedup.dedup_exact(s["kept"], ["fingerprint"], "doc_id"))
            return 0

        def near(s):
            with span("ops.dedup.lsh"):
                pairs = dedup.near_dup_pairs_minhash_lsh(
                    s["exact"], "doc_id", "text", threshold=0.8, k=8, bands=4)
                s["canonical"] = mat(dedup.dedup_keep_canonical(s["exact"], pairs, "doc_id"))
            return 0

        def decontaminate(s):
            emb = s["emb"] = self.cat.table("corpus_emb").df()
            with span("ops.similarity.pq"):
                books = similarity.pq_train(emb, m=4, n_codes=16)
                codes = similarity.pq_encode(emb, books)
                probes = emb.orderBy("vec_id").limit(3).select(
                    F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
                hits = similarity.pq_topk(probes, codes, books, k=2, metric="ip").select(
                    F.col("vec_id").alias("doc_id")).distinct()
                s["clean"] = mat(s["canonical"].join(F.broadcast(hits), "doc_id", "left_anti"))
            return 0

        def split(s):
            with span("ops.sampling.split"):
                s["split"] = mat(hash_split(
                    s["clean"], "doc_id", {"train": 0.95, "val": 0.05}, salt="perfbench"))
            return 0

        def chunk(s):
            with span("ops.chunking.chunk"):
                s["chunks"] = mat(chunking.chunk_documents(
                    s["split"].filter(F.col("split") == "train"), id_col="doc_id",
                    text_col="text", chunk_tokens=128, overlap_tokens=16,
                ).withColumn("chunk_uid", F.concat_ws("#", F.col("doc_id"), F.col("chunk_idx"))))
            return 0

        def pack(s):
            with span("ops.packing.pack"):
                s["packed"] = mat(packing.pack_sequences(
                    s["chunks"].select("chunk_uid", "n_chunk_tokens"), id_col="chunk_uid",
                    tokens_col="n_chunk_tokens", budget=512))
            return 0

        def shards(s):
            with span("ops.sharding.write"):
                s["manifest"] = sharding.write_training_shards(
                    s["chunks"].join(s["packed"].select("chunk_uid", "seq_id", "seq_pos"),
                                     "chunk_uid")
                    .select("chunk_uid", "seq_id", "seq_pos", "chunk_text"),
                    key_col="chunk_uid", path=self.shard_dir, num_shards=4,
                    content_cols=["chunk_text"])
            return sum(int(m["n_rows"]) for m in s["manifest"])

        def append(s):
            self.append(s, id_shift)
            return 0

        def compact(s):
            if run.rec.enabled:
                run.acc["sinks.compact_bytes_rewritten"] += harness.dir_bytes(self.coll_dir)
                run.state["sinks.files"] = sum(
                    f.endswith(".parquet") for f in os.listdir(self.coll_dir))
            compact_collection(spark, backend, "main", "docs")
            return 0

        def text_index(s):
            self.text_index()
            return 0

        n = self.inp.sizes["corpus"]
        return [("analysis", analysis, n), ("exact_dedup", exact, 0), ("near_dedup", near, 0),
                ("decontaminate", decontaminate, n), ("split", split, 0), ("chunk", chunk, 0),
                ("pack", pack, 0), ("shards", shards, 0), ("append", append, 0),
                ("compact", compact, 0), ("text_index", text_index, 0)]

    def append(self, s, id_shift: int, n: int | None = None) -> None:
        """Append the clean documents of the batch (the first ``n`` of
        them by id) to ``docs``. Fresh ids and a tag before the text: no
        two stored documents share a text, as in a real ingest (parquet
        dictionary encoding would otherwise store the repeated texts
        once)."""
        from pyspark.sql import functions as F

        from duckdb_mongo_spark.sinks import write_collection

        run = self.run
        new_id = F.col("doc_id") + F.lit(id_shift)
        rows = s["clean"].join(s["emb"], s["clean"]["doc_id"] == s["emb"]["vec_id"]).select(
            new_id.alias("_id"), new_id.alias("doc_id"),
            F.concat(F.lit(f"batch{id_shift} "), F.col("text")).alias("text"), "embedding")
        if n is not None:
            rows = rows.orderBy("_id").limit(n)
        before = harness.dir_bytes(self.coll_dir) if run.rec.enabled else 0
        write_collection(rows, self.cat.backend, "main", "docs", mode="append")
        if run.rec.enabled:
            run.acc["sinks.bytes_written"] += harness.dir_bytes(self.coll_dir) - before

    def text_index(self) -> None:
        from duckdb_mongo_spark.ops.text_index import build_text_stats_index

        build_text_stats_index(self.run.spark, self.cat.backend, "main", "docs", paths=["text"])

    def unit(self, i: int, traced: bool, timed: bool = True) -> dict:
        """One batch, the fresh reads after it, then ``TOP_UPS`` small
        ingests (append, text index maintenance), each followed by fresh
        reads. ``i`` = -1 is the cold batch (``timed=False``: it makes
        no top-up, and no latency of it is recorded)."""
        state, batch_s, done = {}, 0.0, False
        id_shift = (i + 2) * 10 * gen.CORPUS_ID0  # fresh ids for every batch
        for kind, fn, in_docs in self.steps(id_shift):
            _, dt = self.run.op(kind, lambda f=fn: (None, f(state)), traced=traced,
                                in_docs=in_docs, sample="op" if timed else None)
            if dt is None:
                break
            batch_s += dt
        else:
            self.record_batch(state)
            self.n_ingested += self.batches[-1][0]["clean"]
            done = True
            if timed:
                self.run.samples["batch"].append(batch_s)
        sample = "fresh" if timed else None
        lat = {"batch": batch_s, "fresh": self.fresh_reads(traced, sample)}
        for k in range(TOP_UPS if timed and done else 0):
            shift = id_shift + (k + 1) * gen.CORPUS_ID0
            _, dt = self.run.op("top_up", lambda: (self.append(state, shift, TOP_UP_DOCS), 0),
                                traced=traced, sample=None)
            if dt is None:
                break
            self.n_ingested += TOP_UP_DOCS
            _, dt = self.run.op("top_up_index", lambda: (self.text_index(), 0),
                                traced=traced, sample=None)
            if dt is None:
                break
            lat["fresh"] += self.fresh_reads(traced, sample)
        for name in FRAMES:
            if name in state:
                state[name].unpersist()
        return lat

    def fresh_reads(self, traced: bool, sample: str | None) -> float:
        """The first ``$search`` and ``$vectorSearch`` after a write; they
        replace the reads the checks look at. Returns their time."""
        self.fresh, total = [], 0.0
        for kind in ("text_search", "vector_search"):
            _, dt = self.search(kind, traced, sample=sample)
            total += dt or 0.0
        return total

    def search(self, kind: str, traced: bool, sample: str | None = None):
        q = search.draw(self.rng, self.inp, kind)
        rows, dt = self.run.op(kind, lambda: search.run_search(
            self.run, self.cat.backend, kind, q), traced=traced, in_docs=self.n_docs(),
            sample=sample)
        if dt is not None:
            self.fresh.append((kind, q, rows))
        return rows, dt

    def ann_searches(self) -> None:
        """Two traced approximate searches: the first builds the IVF
        sidecar of the collection the last batch left, the second loads
        it after the in-memory index cache is cleared."""
        from duckdb_mongo_spark.ops.vector_index import clear_vector_index_cache

        for _ in range(2):
            self.search("ann_search", traced=True)
            clear_vector_index_cache()

    def record_batch(self, state) -> None:
        counts = {k: state[k].count() for k in FRAMES}
        digest = hashlib.sha1(repr(sorted(
            (int(m["shard"]), int(m["n_rows"]), str(m["content_sum"]))
            for m in state["manifest"])).encode()).hexdigest()
        self.batches.append((counts, digest))

    def n_docs(self) -> int:
        return self.inp.sizes["docs"] + self.n_ingested

    def stored_ratio(self) -> float:
        """Bytes the engine wrote (the compacted collection, its text
        statistics sidecar, the training shards) over the JSON Lines size
        of the documents the collection holds."""
        import pyarrow.parquet as pq

        stored = (harness.dir_bytes(self.coll_dir) + self.run.sidecar_bytes("text_stats")
                  + harness.dir_bytes(self.shard_dir))
        return stored / gen.json_lines_bytes(pq.read_table(self.coll_dir))

    def check_all(self) -> None:
        """Every document passes the quality gate, dedup removes exactly
        the planted exact and near duplicates, every batch of the run
        (the cold one included) gives the same stage counts and manifest
        checksum, and the reads after the last batch are right for the
        collection it left."""
        if not self.batches:
            self.run.fail("check curation: no batch completed")
            return
        counts0, digest0 = self.batches[0]
        self.run.check("quality gate keeps every document",
                       lambda: counts0["kept"] == self.inp.sizes["corpus"])
        self.run.check("exact dedup removes the planted copies",
                       lambda: counts0["exact"] == counts0["kept"] - gen.CORPUS_EXACT_DUPS)
        self.run.check("near dedup removes the planted near copies",
                       lambda: counts0["canonical"] == counts0["exact"] - gen.CORPUS_NEAR_DUPS)
        self.run.check("every chunk is packed", lambda: (
            counts0["packed"] == counts0["chunks"] > 0))
        for i, (counts, digest) in enumerate(self.batches[1:], 1):
            self.run.check(f"batch {i} repeats batch 0",
                           lambda c=counts, d=digest: (c, d) == (counts0, digest0))
        docs = search.read_docs(self.coll_dir)
        self.run.check("collection holds base and clean documents",
                       lambda: docs.num_rows == self.n_docs())
        search.check(self.run, docs, self.fresh)


def main(run: harness.Run, inp) -> dict:
    w = Curation(run, inp)
    run.counter_sources = harness.sidecar_counters()
    with run.phase("setup"):
        run.timed_setup(w.setup)
    with run.phase("warmup"):
        w.unit(-1, traced=False, timed=False)
    with run.phase("window"):
        run.window(w.unit, min_units=WARM_BATCHES)
    if run.trace:
        with run.phase("ann"):
            w.ann_searches()
        metrics = run.layer_metrics()
    else:
        batch = run.samples["batch"]
        if not batch:
            raise RuntimeError("no warm batch completed")
        metrics = harness.e2e_common(
            run, run.samples["op"], run.samples["fresh"],
            docs_per_s=(inp.sizes["corpus"] / stats.median(batch), len(batch)),
            stored_ratio=w.stored_ratio())
    with run.phase("check"):
        w.check_all()
    return metrics
