"""``$search`` and ``$vectorSearch`` operations and their checks.

curation_batch searches the ``docs`` collection through ``mongo_scan``:
``$search`` text BM25 top-10 with two mid-frequency terms of the corpus
vocabulary, and exact ``$vectorSearch`` top-10 (ENN). The approximate
``$vectorSearch`` (``numCandidates`` below the collection size) goes
through the IVF sidecar, which Spark ML k-means builds on first use and
after every write, about 5 s warm and 18 s cold per build: the searches
after every write cannot afford it, so only traced runs make it, twice
at the end.

Checks: text results against the two-pass BM25 oracle in DuckDB,
vector results by recall against an exact numpy top-10.
"""

from __future__ import annotations

import numpy as np

import gen
import oracles

MIN_RECALL = {"vector_search": 0.9,  # exact search; one near-tie at the cut is tolerated
              "ann_search": 0.7}     # approximate: the probed cells may miss a few
ANN_CANDIDATES = 100


# vocabulary ranks of mid-frequency terms: a narrow band, so the share of
# documents a term prefilters in, and with it the work of a search, differ
# little from query to query: a term of ranks 200-299 is in 2-3% of
# 50-word documents and 19-28% of 500-word ones (ranks 100-999: 0.6-6.6%
# and 6-50%)
MID_RANKS = (200, 300)


def draw(rng, inp, kind: str):
    """A seeded query: two mid-frequency terms, so every text search
    takes the same routed plan (how selective a term is decides whether
    the scored scan is prefiltered), or a vector drawn like the
    corpus's."""
    if kind == "text_search":
        lo, hi = MID_RANKS
        return " ".join(rng.choice(inp.vocab[lo:hi], size=2, replace=False))
    return [float(x) for x in gen.embeddings(rng, inp, 1)[0]]


def pipeline(kind: str, q) -> list:
    if kind == "text_search":
        return [{"$search": {"text": {"query": q, "path": "text"}}}, {"$limit": 10},
                {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]
    exact = {"exact": True} if kind == "vector_search" else {"numCandidates": ANN_CANDIDATES}
    return [{"$vectorSearch": {"path": "embedding", "queryVector": q, "limit": 10, **exact}},
            {"$project": {"doc_id": 1, "score": {"$meta": "vectorSearchScore"}}}]


def run_search(run, backend, kind: str, q):
    """One search; returns ``([(doc_id, score)], rows)``."""
    from duckdb_mongo_spark.scan import mongo_scan

    df = mongo_scan(run.spark, backend, "main", "docs", pipeline=pipeline(kind, q)).df()
    with run.rec.span("spark.plan"):
        df._jdf.queryExecution().executedPlan()
    with run.rec.span("spark.action"):
        rows = [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]
    return rows, len(rows)


def recall(docs, qv, rows, k: int = 10) -> float:
    """Share of the exact cosine top-``k`` (numpy) found by the search."""
    emb = np.asarray(docs.column("embedding").to_pylist(), dtype=np.float64)
    ids = np.asarray(docs.column("doc_id").to_pylist())
    q = np.asarray(qv)
    cos = emb @ q / (np.linalg.norm(emb, axis=1) * np.linalg.norm(q))
    exact = set(ids[np.argsort(-cos, kind="stable")[:k]].tolist())
    return len(exact & {i for i, _ in rows}) / k


def check(run, docs, searches) -> None:
    """Check ``searches`` (kind, query, rows) against ``docs``, the arrow
    table of the collection they read."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.register("docs", docs.select(["doc_id", "text"]))
        for n, (kind, q, rows) in enumerate(searches):
            if kind == "text_search":
                sql = oracles.bm25_sql(q.split(" "), 10, entry._SHINGLE_TOKS_SQL)
                run.check(f"$search #{n} {q!r}", lambda s=sql, r=rows: oracles.same_topk(
                    r, [(int(i), float(v)) for i, v in con.execute(s).fetchall()]))
            else:
                run.check(f"$vectorSearch #{n} ({kind}) recall",
                          lambda v=q, r=rows, k=kind: recall(docs, v, r) >= MIN_RECALL[k])
    finally:
        con.close()


def read_docs(coll_dir: str):
    """The collection as the engine left it (every part file)."""
    import pyarrow.parquet as pq

    return pq.read_table(coll_dir, columns=["doc_id", "text", "embedding"])
