"""DuckDB oracles and result comparison for the correctness checks.

Every check runs after the timed window, against the same generated
files the engine read. The SQL mirrors the shapes of the package's
driver-oracle ledger (``__spark_entry__.oracle_sql()``) with the
seeded literals of this run substituted in; the BM25 oracle is the
two-pass computation of ``bench.py``'s ``search_text_topk`` oracle,
generalised to any number of query terms.
"""

from __future__ import annotations

import datetime as _dt
import math

import duckdb

_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def connect(parquet_root: str, jsonl_root: str, tables: dict) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated collection;
    ``tables`` maps view name -> ("parquet" | "jsonl", collection)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for view, (kind, coll) in tables.items():
        if kind == "parquet":
            src = f"read_parquet('{parquet_root}/{coll}.parquet')"
        else:
            src = f"read_json_auto('{jsonl_root}/main/{coll}.jsonl')"
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM {src}")
    return con


def _norm(v):
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return ("ts", round((v - _EPOCH).total_seconds() * 1e6))
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    if hasattr(v, "__float__"):  # Decimal
        return float(v)
    return v


def _close(a, b, rel: float) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)
    return a == b


def same_rows(got, want, rel: float = 1e-9) -> bool:
    """Order-insensitive equality of two row lists (tuples), floats
    within ``rel`` relative tolerance, timestamps to the microsecond."""
    if len(got) != len(want):
        return False
    key = lambda r: tuple((x is None, str(type(x)), x if not isinstance(x, float) else round(x, 3))
                          for x in r)
    g = sorted((tuple(_norm(x) for x in r) for r in got), key=key)
    w = sorted((tuple(_norm(x) for x in r) for r in want), key=key)
    return all(len(a) == len(b) and all(_close(x, y, rel) for x, y in zip(a, b))
               for a, b in zip(g, w))


def bm25_sql(terms: list[str], k: int, tokens_sql: str) -> str:
    """Top-``k`` BM25 (k1=1.2, b=0.75) over view ``docs`` — the oracle
    shape of ``bench.py``'s ``search_text_topk``, for any term list."""
    bm = ("CASE WHEN tf{i} > 0 THEN ln(1 + (n - df{i} + 0.5) / (df{i} + 0.5))"
          " * (tf{i} * 2.2) / (tf{i} + 1.2 * (0.25 + 0.75 * dl / (total / n)))"
          " ELSE 0 END")
    tfs = ",\n".join(f"len(list_filter(t, x -> x = '{w}')) AS tf{i}"
                     for i, w in enumerate(terms))
    dfs = ", ".join(f"COUNT(*) FILTER (WHERE tf{i} > 0) AS df{i}"
                    for i in range(len(terms)))
    score = " + ".join(bm.format(i=i) for i in range(len(terms)))
    return f"""
    WITH tk AS (SELECT doc_id, {tokens_sql} AS t FROM docs),
    st AS (SELECT COUNT(*) AS n, CAST(SUM(len(t)) AS DOUBLE) AS total FROM tk),
    d AS (SELECT doc_id, len(t) AS dl, {tfs} FROM tk),
    f AS (SELECT {dfs} FROM d),
    s AS (SELECT doc_id, ({score}) AS score FROM d, st, f)
    SELECT doc_id, score FROM s WHERE score > 0
    ORDER BY score DESC, doc_id LIMIT {k}
    """


def same_topk(got, want, rel: float = 1e-9) -> bool:
    """Top-k (id, score) equality that tolerates ties at the cut: the
    score lists must match, and every id scoring strictly above the
    k-th score must be in both answers."""
    if len(got) != len(want):
        return False
    gs = sorted((float(s) for _, s in got), reverse=True)
    ws = sorted((float(s) for _, s in want), reverse=True)
    if not all(math.isclose(a, b, rel_tol=rel, abs_tol=1e-12) for a, b in zip(gs, ws)):
        return False
    if not ws:
        return True
    cut = ws[-1] * (1 + 1e-9) + 1e-12
    above_g = {i for i, s in got if float(s) > cut}
    above_w = {i for i, s in want if float(s) > cut}
    return above_g == above_w
