"""CSV document backend: ``<root>/<db>/<coll>.csv``, header row = field
names — the file-dimension source shape the reference joins through
DuckDB's ``read_csv_auto`` (benchmarks/pushdown_queries.sql:26-37).

Type sniffing mirrors ``read_csv_auto``'s spirit with a deterministic
subset: a column whose every non-empty value parses as int → int, else
every value parses as float → float, else bool (true/false), else ISO
date/datetime, else string. Empty cells → missing field (document
semantics: absent, not empty string) — matching how a Mongo document
simply lacks the key.

Scale design: byte-range ``partitions()`` like the JSONL backend
(executors seek + align to the next line); the header is re-read by
every partition (one line). Quoted fields containing newlines are NOT
supported in split mode — the standard caveat for byte-split CSV
(Spark's own multiLine=false contract); single-partition scans handle
quoted newlines fine via the csv module.
"""

from __future__ import annotations

import csv
import datetime as _dt
import io
import os
from collections.abc import Iterator

from duckdb_mongo_spark.backends.base import DocumentBackend, ScanPartition

_SPLIT_BYTES = 32 * 1024 * 1024


def _parse_cell(s: str):
    """Deterministic typed parse of one CSV cell (sniffed per-cell,
    stabilized per-column by _column_types)."""
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        pass
    low = s.lower()
    if low in ("true", "false"):
        return low == "true"
    try:
        if len(s) == 10:
            d = _dt.date.fromisoformat(s)
            return _dt.datetime(d.year, d.month, d.day)
        return _dt.datetime.fromisoformat(s.replace("Z", "+00:00")).replace(tzinfo=None)
    except ValueError:
        return s


class CsvBackend(DocumentBackend):
    """A collection is ``<root>/<db>/<coll>.csv`` with a header row."""

    dense_documents = True  # every row carries every header column

    def __init__(self, root: str):
        self.root = root

    def _path(self, db, coll):
        return os.path.join(self.root, db, f"{coll}.csv")

    def fingerprint(self, db, coll):
        path = self._path(db, coll)
        if not os.path.isfile(path):
            return None
        return ((path, os.path.getsize(path), os.path.getmtime(path)),)

    def list_databases(self):
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        )

    def list_collections(self, db):
        p = os.path.join(self.root, db)
        if not os.path.isdir(p):
            return []
        return sorted(f[:-4] for f in os.listdir(p) if f.endswith(".csv"))

    def _header(self, db, coll) -> list[str]:
        path = self._path(db, coll)
        with open(path, newline="", encoding="utf-8") as f:
            return next(csv.reader(f))

    def iter_documents(self, db, coll) -> Iterator[dict]:
        path = self._path(db, coll)
        if not os.path.isfile(path):
            raise KeyError(f"no such collection: {db}.{coll}")
        with open(path, newline="", encoding="utf-8") as f:
            for row in csv.DictReader(f):
                yield {
                    k: _parse_cell(v)
                    for k, v in row.items()
                    if k is not None and v is not None and v != ""
                }

    def partitions(self, db, coll, n):
        path = self._path(db, coll)
        size = os.path.getsize(path) if os.path.exists(path) else 0
        if size == 0:
            return [ScanPartition(db, coll, 0, 1, {"start": 0, "end": 0})]
        with open(path, "rb") as f:
            f.readline()
            data_start = f.tell()
        n = max(1, min(n, (size - data_start + _SPLIT_BYTES - 1) // _SPLIT_BYTES))
        step = max(1, (size - data_start) // n)
        parts = []
        for i in range(n):
            start = data_start + i * step
            end = size if i == n - 1 else data_start + (i + 1) * step
            parts.append(ScanPartition(db, coll, i, n, {"start": start, "end": end}))
        return parts

    def read_partition(self, part) -> Iterator[dict]:
        path = self._path(part.db, part.coll)
        start, end = part.extra["start"], part.extra["end"]
        if not os.path.exists(path) or end <= start:
            return
        header = self._header(part.db, part.coll)
        with open(path, "rb") as f:
            f.seek(start - 1)
            f.readline()  # align to the next full line
            while f.tell() <= end:
                pos = f.tell()
                line = f.readline()
                if not line or pos >= end:
                    break
                text = line.decode("utf-8").rstrip("\r\n")
                if not text:
                    continue
                row = next(csv.reader(io.StringIO(text)))
                yield {
                    k: _parse_cell(v)
                    for k, v in zip(header, row)
                    if v != ""
                }
