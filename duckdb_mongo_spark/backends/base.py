"""Abstract document backend.

Scan semantics contract (matches what the reference asks of mongod via
mongocxx in /root/reference/src/mongo_table_function.cpp:280-724):

- ``find(db, coll, filter, projection, limit)`` — stream matching docs
- ``aggregate(db, coll, pipeline)``             — run a pipeline
- ``sample(db, coll, n, seed)``                 — random sample (schema inference)
- ``count(db, coll, filter)``                   — server-side count
- ``bounded_count(db, coll, cap)``              — NEW: unfiltered count
  exact up to ``cap`` (the size gates' probe; memoized per fingerprint)
- ``partitions(db, coll, n)``                   — NEW vs reference: split the
  collection into ≤n independently scannable splits so Spark executors can
  read in parallel (the reference uses a single cursor; SURVEY.md §4.2
  flags partitioned reads as the 100 TB design point).

Backends must be **picklable** (they are shipped to Spark executors inside
the Python DataSource reader).
"""

from __future__ import annotations

import itertools
from abc import ABC, abstractmethod
from collections.abc import Iterable, Iterator


class DocumentBackend(ABC):
    is_remote = False  # remote backends push pipelines server-side

    # Document model: dense backends (columnar/tabular stores) emit EVERY
    # schema field on every document, as None when unset — so a null in a
    # flattened row faithfully round-trips to a present-with-null field.
    # Sparse backends (jsonl/memory/mongo) genuinely omit fields, and a
    # flattened null is more likely an absent field than an explicit null.
    # The routed-pipeline tail uses this to rebuild documents the way
    # this backend's iter_documents would have emitted them.
    dense_documents = False

    # Pushdown profile: "remote" sources are network-bound — ship every
    # supported stage ($group/$sort/$count included) to the server, like
    # the reference does with mongod. "local" sources are already on fast
    # storage next to Spark — push only record-wise stages (match/project/
    # limit) into the scan and let Spark run distributed agg/sort; pushing
    # them into a single-partition local interpreter would serialize the
    # query. This is the knob that keeps the same plans correct at 100 TB.
    pushdown_profile = "local"

    def find_schema_doc(self, db: str, coll: str, probe_limit: int = 1000):
        """Locate a ``__schema`` document (reference: tier-2 schema source).
        Local backends probe only the first ``probe_limit`` docs — a
        schema doc is by convention at the head of the collection; remote
        backends use an indexed lookup instead."""
        for doc in itertools.islice(self.iter_documents(db, coll), probe_limit):
            if doc.get("_id") == "__schema":
                return doc
        return None

    @abstractmethod
    def list_databases(self) -> list[str]: ...

    @abstractmethod
    def list_collections(self, db: str) -> list[str]: ...

    @abstractmethod
    def iter_documents(self, db: str, coll: str) -> Iterator[dict]:
        """Full scan, no filter."""

    def find(self, db, coll, filter=None, projection=None, limit=None) -> Iterator[dict]:
        from duckdb_mongo_spark.mql import run_pipeline

        pipeline = []
        if filter:
            pipeline.append({"$match": filter})
        if projection:
            pipeline.append({"$project": projection})
        if limit is not None:
            pipeline.append({"$limit": limit})
        return iter(run_pipeline(self.iter_documents(db, coll), pipeline))

    def aggregate(self, db, coll, pipeline, seed=None) -> Iterator[dict]:
        from duckdb_mongo_spark.mql import run_pipeline

        return iter(
            run_pipeline(
                self.iter_documents(db, coll),
                pipeline,
                seed=seed,
                # $lookup joins other collections of the SAME db, as mongod
                collections=lambda c: self.iter_documents(db, c),
            )
        )

    def sample(self, db, coll, n, seed=42) -> list[dict]:
        return list(
            self.aggregate(db, coll, [{"$sample": {"size": n}}], seed=seed)
        )

    def distinct_values(self, db, coll, column, filter=None, cap=None) -> list:
        """Distinct non-null values of a (dotted) ``column`` among docs
        matching ``filter`` — the build side of the engine's semi-join
        runtime filter (A11): the reference materializes its
        OPTIONAL_FILTER build side inside the host engine's own pipeline
        (src/mongo_filter_pushdown.cpp:302-318); the analog here is
        fetching the key set straight from the backend instead of
        paying a second full federation round-trip.

        Returns at most ``cap + 1`` values when ``cap`` is given so the
        caller can detect overflow. Columnar backends override with a
        vectorized path; this default streams the interpreter."""
        out: set = set()
        parts = column.split(".")
        for doc in self.find(db, coll, filter=filter, projection={column: 1}):
            if doc.get("_id") == "__schema":
                continue
            v = doc
            for p in parts:
                v = v.get(p) if isinstance(v, dict) else None
                if v is None:
                    break
            if v is not None and not isinstance(v, (dict, list)):
                out.add(v)
                if cap is not None and len(out) > cap:
                    break
        return list(out)

    def fast_count(self, db, coll) -> int | None:
        """Unfiltered row count when it is METADATA-cheap (parquet
        footer stats); None when counting would require a data pass —
        callers gating on size must then decide without it."""
        return None

    def fingerprint(self, db, coll):
        """Cheap content-version token for cache invalidation (file
        paths + sizes + mtimes for file backends). None = unknown —
        caches then key on backend identity for the session."""
        return None

    def count(self, db, coll, filter=None) -> int:
        # the __schema sentinel doc is engine metadata, never data: every
        # count path must agree with the scan path (which drops it in
        # datasource._docs_for), filtered or not
        docs = self.find(db, coll, filter=filter)
        return sum(1 for d in docs if d.get("_id") != "__schema")

    def bounded_count(self, db, coll, cap: int) -> int:
        """Unfiltered document count, exact up to ``cap``: returns
        ``cap + 1`` for any larger collection — the size gates only ask
        "is it at most cap?", so a huge collection costs at most one
        probe of ``cap + 1`` documents, never a full pass.

        A metadata count (``fast_count``) answers without a scan.
        Otherwise the probe streams ``iter_documents`` (sentinel
        excluded, as in ``count``) and is memoized per ``fingerprint()``:
        an append or rewrite changes the fingerprint and re-probes; a
        backend without one (None) is probed every call. A memoized
        "more than N" answers every cap below N; an exact count answers
        every cap."""
        n = self.fast_count(db, coll)
        if n is not None:
            return min(n, cap + 1)
        fp = self.fingerprint(db, coll)
        memo = self.__dict__.setdefault("_bounded_count_memo", {})
        hit = memo.get((db, coll)) if fp is not None else None
        if hit is not None and hit[0] == fp and (hit[2] or hit[1] > cap):
            return min(hit[1], cap + 1)
        docs = (d for d in self.iter_documents(db, coll)
                if d.get("_id") != "__schema")
        seen = sum(1 for _ in itertools.islice(docs, cap + 1))
        if fp is not None:
            memo[(db, coll)] = (fp, seen, seen <= cap)
        return seen

    def partitions(self, db: str, coll: str, n: int) -> list["ScanPartition"]:
        """Split a collection into ≤n partitions. Default: one partition."""
        return [ScanPartition(db=db, coll=coll, index=0, total=1)]

    def read_partition(self, part: "ScanPartition") -> Iterator[dict]:
        """Stream the documents belonging to one partition."""
        if part.total == 1:
            return self.iter_documents(part.db, part.coll)
        return (
            d
            for i, d in enumerate(self.iter_documents(part.db, part.coll))
            if i % part.total == part.index
        )

    def find_partition(
        self, part: "ScanPartition", filter=None, projection=None, limit=None
    ) -> Iterator[dict]:
        """One partition of a find() scan WITH the pushed filter applied
        at the source. Local backends filter while streaming; remote
        backends override to ship the filter server-side per cursor
        (the reference's shape: one filtered cursor, here one per
        partition)."""
        from duckdb_mongo_spark.mql import run_pipeline

        pipeline = []
        if filter:
            pipeline.append({"$match": filter})
        if limit is not None:
            pipeline.append({"$limit": limit})
        return iter(run_pipeline(self.read_partition(part), pipeline))


class ScanPartition:
    """One independently-scannable split of a collection."""

    __slots__ = ("db", "coll", "index", "total", "extra")

    def __init__(self, db, coll, index, total, extra=None):
        self.db = db
        self.coll = coll
        self.index = index
        self.total = total
        self.extra = extra or {}

    def __repr__(self):
        return f"ScanPartition({self.db}.{self.coll} {self.index}/{self.total} {self.extra})"
