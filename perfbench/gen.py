"""Seeded input generator for the benchmark workloads.

Every collection is synthesized from ``numpy.random.default_rng(seed)``:
the same seed writes byte-identical files, another seed writes other
rows of the same sizes and distributions. Nothing is read from outside
the run directory, so a run can be reproduced from its seed alone.

Sizes (rows) are fixed constants so the per-run work does not depend on
the seed; ``DIRECT_SCAN_MAX_ROWS`` of ``duckdb_mongo_spark.frame`` is
250,000, so ``orders_small`` sits below it (direct path), ``orders_big``
and ``events`` above it (native parquet path), and the JSONL collection
has no native path at all (Python DataSource). ``docs`` is the
collection curation_batch ingests into and searches.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

# interactive_query
ORDERS_SMALL_ROWS = 60_000
ORDERS_BIG_ROWS = 300_000
ORDERS_JSONL_ROWS = 8_000
CUSTOMER_ROWS = 6_000
EVENT_ROWS = 300_000
EVENT_USERS = 3_000
# curation_batch
CORPUS_UNIQUE_DOCS = 160
CORPUS_EXACT_DUPS = 20      # verbatim copies of a unique doc
CORPUS_NEAR_DUPS = 20       # copies with one word changed
CORPUS_ID0 = 1_000_001
CURATION_DOCS = 2_000       # search collection the clean corpus is ingested into
EMBED_DIM = 16
EMBED_CLUSTERS = 64
VOCAB_SIZE = 3_000

STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "view"]
STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
             "on", "with", "as", "was", "at", "by", "an", "be", "this", "are"]
TS0 = 1_704_067_200  # 2024-01-01T00:00:00Z


@dataclass
class Inputs:
    """Paths and sizes of one run's generated collections."""

    parquet_root: str
    jsonl_root: str
    sizes: dict = field(default_factory=dict)
    json_bytes: dict = field(default_factory=dict)  # collection -> its rows as JSON Lines
    vocab: list = field(default_factory=list)
    zipf_p: object = None
    centers: object = None    # embedding cluster centers


def json_lines_bytes(table) -> int:
    """Size of a table's rows written as JSON Lines (one object a row)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("t", table)
        return int(con.execute(
            "SELECT SUM(strlen(CAST(to_json(t) AS VARCHAR)) + 1) FROM t").fetchone()[0])
    finally:
        con.close()


def _write_parquet(inp: "Inputs", name: str, table_dict: dict, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(table_dict)
    pq.write_table(table, path, row_group_size=64_000)
    inp.json_bytes[name] = json_lines_bytes(table)


def _vocabulary(rng) -> tuple[list, np.ndarray]:
    """Stopwords first (so quality scoring sees English-like text), then
    distinct lowercase pseudo-words; Zipf-like rank probabilities."""
    words = list(STOPWORDS)
    seen = set(words)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    p = 1.0 / (ranks + 2.7) ** 1.1
    return words, p / p.sum()


def _texts(rng, vocab, p, n, lo, hi) -> list[str]:
    lens = rng.integers(lo, hi, size=n)
    idx = rng.choice(len(vocab), size=int(lens.sum()), p=p)
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(vocab[i] for i in idx[at:at + ln]))
        at += ln
    return out


def _orders(rng, n, key0, n_cust) -> dict:
    keys = np.arange(key0, key0 + n, dtype=np.int64)
    return {
        "_id": keys,
        "o_orderkey": keys,
        "o_custkey": rng.integers(1, n_cust + 1, size=n, dtype=np.int64),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, size=n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, size=n), 2),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, size=n)],
    }


def _interactive(rng, inp: Inputs) -> None:
    pq_root = inp.parquet_root
    cust_keys = np.arange(1, CUSTOMER_ROWS + 1, dtype=np.int64)
    _write_parquet(inp, "customer", {
        "_id": cust_keys,
        "c_custkey": cust_keys,
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=CUSTOMER_ROWS), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, size=CUSTOMER_ROWS)],
    }, os.path.join(pq_root, "customer.parquet"))
    # key shifting: the three order collections never share a key
    _write_parquet(inp, "orders_small", _orders(rng, ORDERS_SMALL_ROWS, 1, CUSTOMER_ROWS),
                   os.path.join(pq_root, "orders_small.parquet"))
    _write_parquet(inp, "orders_big", _orders(rng, ORDERS_BIG_ROWS, 1_000_001, CUSTOMER_ROWS),
                   os.path.join(pq_root, "orders_big.parquet"))
    jl = _orders(rng, ORDERS_JSONL_ROWS, 5_000_001, CUSTOMER_ROWS)
    os.makedirs(os.path.join(inp.jsonl_root, "main"), exist_ok=True)
    with open(os.path.join(inp.jsonl_root, "main", "orders_jsonl.jsonl"), "w") as f:
        for i in range(ORDERS_JSONL_ROWS):
            f.write(json.dumps({k: (v[i].item() if hasattr(v[i], "item") else v[i])
                                for k, v in jl.items()}) + "\n")
    inp.json_bytes["orders_jsonl"] = os.path.getsize(
        os.path.join(inp.jsonl_root, "main", "orders_jsonl.jsonl"))
    import pyarrow as pa

    ts = TS0 + np.sort(rng.integers(0, 60 * 86400, size=EVENT_ROWS))
    _write_parquet(inp, "events", {
        "_id": np.arange(1, EVENT_ROWS + 1, dtype=np.int64),
        "event_id": np.arange(1, EVENT_ROWS + 1, dtype=np.int64),
        "user_id": rng.integers(1, EVENT_USERS + 1, size=EVENT_ROWS, dtype=np.int64),
        "ts": pa.array(ts * 1_000_000, type=pa.timestamp("us", tz="UTC")),
        "event_type": [EVENT_TYPES[i] for i in rng.choice(3, size=EVENT_ROWS, p=[0.6, 0.1, 0.3])],
        "value": np.round(rng.uniform(0.0, 100.0, size=EVENT_ROWS), 3),
    }, os.path.join(pq_root, "events.parquet"))
    inp.sizes.update({
        "customer": CUSTOMER_ROWS, "orders_small": ORDERS_SMALL_ROWS,
        "orders_big": ORDERS_BIG_ROWS, "orders_jsonl": ORDERS_JSONL_ROWS,
        "events": EVENT_ROWS,
    })


def _curation(rng, inp: Inputs) -> None:
    """Corpus with planted duplicate clusters: exact copies and copies
    with one word replaced (near duplicates, Jaccard well above 0.8).
    Its ids start past the search collection's, which it is ingested
    into."""
    texts = _texts(rng, inp.vocab, inp.zipf_p, CORPUS_UNIQUE_DOCS, 150, 900)
    src = rng.choice(CORPUS_UNIQUE_DOCS, size=CORPUS_EXACT_DUPS + CORPUS_NEAR_DUPS,
                     replace=False)
    for j, s in enumerate(src):
        if j < CORPUS_EXACT_DUPS:
            texts.append(texts[s])
        else:
            words = texts[s].split(" ")
            words[int(rng.integers(0, len(words)))] = "zzplanted"
            texts.append(" ".join(words))
    n = len(texts)
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    ids = np.arange(CORPUS_ID0, CORPUS_ID0 + n, dtype=np.int64)
    emb = embeddings(rng, inp, n)
    _write_parquet(inp, "corpus", {"doc_id": ids, "text": texts},
                   os.path.join(inp.parquet_root, "corpus.parquet"))
    _write_parquet(inp, "corpus_emb", {"vec_id": ids, "embedding": [list(r) for r in emb]},
                   os.path.join(inp.parquet_root, "corpus_emb.parquet"))
    inp.sizes.update({"corpus": n, "corpus_dup_rate": round(
        (CORPUS_EXACT_DUPS + CORPUS_NEAR_DUPS) / n, 4)})
    _docs(rng, inp, CURATION_DOCS)


def embeddings(rng, inp: Inputs, n: int) -> np.ndarray:
    """Clustered vectors: a random center plus small noise, the shape
    real text embeddings have (queries are drawn the same way)."""
    c = rng.integers(0, len(inp.centers), size=n)
    return inp.centers[c] + 0.35 * rng.standard_normal((n, EMBED_DIM))


def _docs(rng, inp: Inputs, n: int) -> None:
    """The search collection: a directory layout, so appends add files."""
    d = os.path.join(inp.parquet_root, "docs.parquet")
    os.makedirs(d)
    ids = np.arange(1, n + 1, dtype=np.int64)
    _write_parquet(inp, "docs", {
        "_id": ids,
        "doc_id": ids,
        "text": _texts(rng, inp.vocab, inp.zipf_p, n, 20, 80),
        "embedding": [list(r) for r in embeddings(rng, inp, n)],
    }, os.path.join(d, "part-00000-base.parquet"))
    inp.sizes["docs"] = n


def generate(workload: str, seed: int, root: str) -> Inputs:
    """Write the inputs of ``workload`` under ``root`` (created fresh)."""
    rng = np.random.default_rng(seed)
    inp = Inputs(parquet_root=os.path.join(root, "pq"), jsonl_root=os.path.join(root, "jsonl"))
    os.makedirs(inp.parquet_root)
    os.makedirs(inp.jsonl_root)
    inp.vocab, inp.zipf_p = _vocabulary(rng)
    inp.centers = rng.standard_normal((EMBED_CLUSTERS, EMBED_DIM))
    {"interactive_query": _interactive, "curation_batch": _curation}[workload](rng, inp)
    return inp
