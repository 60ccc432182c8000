"""Catalog façade: ATTACH, secrets, schema caches, lazy views.

Spark-side analog of the reference catalog adapter
(src/mongo_catalog.cpp, src/mongo_storage_extension.cpp,
src/mongo_secrets.cpp): connection-string parsing (key=value and
``mongodb://`` URI formats), named secrets with percent-encoded userinfo,
one namespace per document database, lazy view-per-collection, metadata
caches with all-or-nothing ``clear_cache()``.

Local backends attach with ``jsonl:<root>`` / ``csv:<root>`` / ``parquet:<dir>`` /
``memory:`` connection strings; real MongoDB URIs need pymongo.
"""

from __future__ import annotations

import urllib.parse
from dataclasses import dataclass, field

from duckdb_mongo_spark.backends import JsonlBackend, MemoryBackend, ParquetBackend
from duckdb_mongo_spark.errors import ConnectionStringError
from duckdb_mongo_spark.frame import MongoFrame
from duckdb_mongo_spark.schema.infer import resolve_schema

# ---------------------------------------------------------------------------
# secrets (reference src/mongo_secrets.cpp:10-204)

_SECRETS: dict[str, dict] = {}
DEFAULT_SECRET_NAME = "__default_mongo"

_SECRET_KEYS = {
    "host", "port", "user", "password", "database", "authsource",
    "srv", "tls", "tls_ca_file", "tls_allow_invalid_certificates",
    # extra URI query options (e.g. readPreference=secondary), merged
    # verbatim into the connection string after the derived params —
    # the reference accepts them via the attach path (r9)
    "query_options",
}
# parameter aliases the reference accepts (test/sql/secrets/
# secrets_validation.test: USERNAME for USER, DBNAME for DATABASE)
_SECRET_ALIASES = {"username": "user", "dbname": "database"}


def create_secret(name: str | None = None, replace: bool = False, **kwargs) -> str:
    """CREATE [OR REPLACE] SECRET analog: an existing name errors unless
    ``replace`` (reference secrets_validation.test CREATE OR REPLACE)."""
    name = name or DEFAULT_SECRET_NAME
    norm = {_SECRET_ALIASES.get(k.lower(), k.lower()): v for k, v in kwargs.items()}
    bad = set(norm) - _SECRET_KEYS
    if bad:
        raise ConnectionStringError(f"unknown secret keys: {sorted(bad)}")
    if not replace and name in _SECRETS:
        raise ConnectionStringError(
            f"secret {name!r} already exists (use replace=True to overwrite)"
        )
    _SECRETS[name] = norm
    return name


def get_secret(name: str) -> dict | None:
    return _SECRETS.get(name)


def drop_secret(name: str) -> bool:
    return _SECRETS.pop(name, None) is not None


def redacted_secret(name: str) -> dict | None:
    s = _SECRETS.get(name)
    if s is None:
        return None
    return {k: ("***" if k == "password" else v) for k, v in s.items()}


def build_connection_string(secret: dict) -> str:
    """Secret → mongodb:// URI with percent-encoded userinfo."""
    scheme = "mongodb+srv" if str(secret.get("srv", "")).lower() in ("1", "true") else "mongodb"
    userinfo = ""
    if secret.get("user"):
        u = urllib.parse.quote(str(secret["user"]), safe="")
        userinfo = u
        if secret.get("password"):
            userinfo += ":" + urllib.parse.quote(str(secret["password"]), safe="")
        userinfo += "@"
    host = secret.get("host", "localhost")
    port = "" if scheme == "mongodb+srv" else f":{secret.get('port', 27017)}"
    db = secret.get("database", "")
    params = []
    if secret.get("authsource"):
        params.append(f"authSource={secret['authsource']}")
    if str(secret.get("tls", "")).lower() in ("1", "true"):
        params.append("tls=true")
    if secret.get("tls_ca_file"):
        params.append(f"tlsCAFile={urllib.parse.quote(str(secret['tls_ca_file']), safe='')}")
    if str(secret.get("tls_allow_invalid_certificates", "")).lower() in ("1", "true"):
        params.append("tlsAllowInvalidCertificates=true")
    if secret.get("query_options"):
        # extra URI query options merged after the secret-derived ones
        # (reference test_atlas_integration.cpp:124 — ATTACH
        # '?readPreference=secondary' AS ... (SECRET ...)); values are
        # re-encoded so userinfo-style specials can't smuggle params
        for k, v in urllib.parse.parse_qsl(
                str(secret["query_options"]).lstrip("?"),
                keep_blank_values=True):
            params.append(
                f"{urllib.parse.quote(k, safe='')}="
                f"{urllib.parse.quote(v, safe='')}")
    qs = ("?" + "&".join(params)) if params else ""
    return f"{scheme}://{userinfo}{host}{port}/{db}{qs}"


# ---------------------------------------------------------------------------
# connection-string parsing (reference src/mongo_storage_extension.cpp:11-175)


def parse_attach_string(conn: str) -> dict:
    """Parse key=value or URI attach strings into connect options."""
    conn = conn.strip()
    if conn.startswith(("mongodb://", "mongodb+srv://")):
        parsed = urllib.parse.urlparse(conn)
        return {
            "kind": "mongodb",
            "uri": conn,
            "dbname": parsed.path.lstrip("/") or None,
        }
    if conn.startswith("jsonl:"):
        return {"kind": "jsonl", "root": conn[len("jsonl:"):]}
    if conn.startswith("csv:"):
        return {"kind": "csv", "root": conn[len("csv:"):]}
    if conn.startswith("parquet:"):
        rest = conn[len("parquet:"):]
        dbname = None
        if "#" in rest:
            rest, dbname = rest.rsplit("#", 1)
        return {"kind": "parquet", "root": rest, "dbname": dbname or "main"}
    if conn.startswith("memory:") or conn == "":
        return {"kind": "memory"}
    if conn.startswith("?"):
        # bare URI query options, merged with the secret's connection
        # string (reference test_atlas_integration.cpp:121-124: ATTACH
        # '?readPreference=secondary' AS ... (TYPE MONGO, SECRET ...))
        return {"kind": "mongodb-kv", "query_options": conn}
    opts: dict = {"kind": "mongodb-kv"}
    for tok in conn.split():
        if "=" not in tok:
            raise ConnectionStringError(f"bad attach token: {tok!r}")
        k, v = tok.split("=", 1)
        k = k.lower()
        if "?" in v and k != "query_options":
            # the reference README's documented form appends URI query
            # options to the dbname value: 'dbname=mydb?readPreference=
            # secondaryPreferred' (reference README.md:42). Split them
            # into query_options so reads target db 'mydb' with the
            # options applied; a '?' in any other kv value is ambiguous
            # (likely a typo'd option string) — raise rather than mangle.
            if k in ("dbname", "database"):
                v, _, qs = v.partition("?")
                prev = opts.get("query_options")
                opts["query_options"] = (
                    f"{prev.lstrip('?')}&{qs}" if prev else qs)
            else:
                raise ConnectionStringError(
                    f"'?' in attach value for {k!r}; URI query options are "
                    "only accepted on dbname=/database= or as a bare "
                    "'?opts' attach string")
        opts[k] = v
    return opts


def backend_for(conn, secret: str | None = None):
    """Connection string / backend object → DocumentBackend."""
    from duckdb_mongo_spark.backends.base import DocumentBackend

    if isinstance(conn, DocumentBackend):
        return conn, None
    opts = parse_attach_string(conn) if isinstance(conn, str) else dict(conn)
    kind = opts.get("kind")
    if kind == "jsonl":
        return JsonlBackend(opts["root"]), None
    if kind == "csv":
        from duckdb_mongo_spark.backends import CsvBackend

        return CsvBackend(opts["root"]), None
    if kind == "parquet":
        return ParquetBackend(opts["root"], opts.get("dbname", "main")), opts.get("dbname", "main")
    if kind == "memory":
        return MemoryBackend(), None
    # real MongoDB
    sec = dict(_SECRETS.get(secret or DEFAULT_SECRET_NAME, {}))
    if kind == "mongodb-kv":
        for k in _SECRET_KEYS:
            if k in opts:
                sec[k] = opts[k]
        if "dbname" in opts:
            sec["database"] = opts["dbname"]
        if "query_options" in opts:
            sec["query_options"] = opts["query_options"]
        uri = build_connection_string(sec)
        dbname = sec.get("database")
    else:
        uri = opts["uri"]
        dbname = opts.get("dbname")
    from duckdb_mongo_spark.backends.mongo import PymongoBackend

    return PymongoBackend(uri), dbname


# ---------------------------------------------------------------------------
# attached catalog with caches (reference src/mongo_catalog.cpp)


@dataclass
class AttachedCatalog:
    spark: object
    backend: object
    alias: str
    dbname: str | None = None
    num_partitions: int = 0  # 0 = auto (session defaultParallelism)
    _schema_cache: dict = field(default_factory=dict)
    _collections_cache: dict = field(default_factory=dict)
    _view_cache: dict = field(default_factory=dict)

    def databases(self) -> list[str]:
        if self.dbname:
            return [self.dbname]
        if "databases" not in self._collections_cache:
            self._collections_cache["databases"] = self.backend.list_databases()
        return self._collections_cache["databases"]

    def collections(self, db: str | None = None) -> list[str]:
        db = db or self._default_db()
        key = f"colls:{db}"
        if key not in self._collections_cache:
            self._collections_cache[key] = self.backend.list_collections(db)
        return self._collections_cache[key]

    def _default_db(self) -> str:
        if self.dbname:
            return self.dbname
        dbs = self.databases()
        if len(dbs) == 1:
            return dbs[0]
        raise ConnectionStringError(
            f"attach {self.alias!r} has {len(dbs)} databases; qualify the collection"
        )

    def schema_for(self, coll: str, db: str | None = None, **scan_opts):
        db = db or self._default_db()
        key = (db, coll)
        if key not in self._schema_cache:
            self._schema_cache[key] = resolve_schema(
                self.backend, db, coll,
                columns=scan_opts.get("columns"),
                sample_size=scan_opts.get("sample_size", 100),
            )
        return self._schema_cache[key]

    def table(self, coll: str, db: str | None = None, **scan_opts) -> MongoFrame:
        """Lazy view-per-collection (reference creates
        `SELECT * FROM mongo_scan(...)` views on first lookup)."""
        db = db or self._default_db()
        schema = self.schema_for(coll, db=db, **scan_opts)
        return MongoFrame(
            spark=self.spark,
            backend=self.backend,
            db=db,
            coll=coll,
            schema=schema,
            schema_mode=str(scan_opts.get("schema_mode", "PERMISSIVE")),
            num_partitions=self.num_partitions,
            manual_filter=scan_opts.get("filter"),
            manual_pipeline=scan_opts.get("pipeline"),
        )

    def register_views(self, db: str | None = None, prefix: str | None = None):
        """Register every collection as a Spark temp view named
        ``<alias>_<coll>`` so plain spark.sql works over the source.

        Each view is the plan ``table(coll).df()`` picks at registration.
        A broadcast-class local collection (the direct path) becomes a
        ``LocalRelation`` of rows read now: no SQL filter reaches a
        reader. A local parquet collection past the caps reads through
        Spark's own parquet scan, which pushes filters itself. A Python
        DataSource view (remote and in-memory backends, JSONL/CSV past
        the caps) gets Catalyst filter pushdown through ``pushFilters``.
        Views are snapshots: a view does not see writes made after it
        was registered, so re-run ``register_views`` after a write."""
        db = db or self._default_db()
        prefix = prefix if prefix is not None else self.alias
        created = []
        for coll in self.collections(db):
            name = f"{prefix}_{coll}" if prefix else coll
            self.table(coll, db=db).df().createOrReplaceTempView(name)
            created.append(name)
        return created

    def clear_cache(self) -> bool:
        """All-or-nothing invalidation (reference mongo_clear_cache(),
        src/mongo_clear_cache.cpp:16-52)."""
        self._schema_cache.clear()
        self._collections_cache.clear()
        self._view_cache.clear()
        return True


_ATTACHED: dict[str, AttachedCatalog] = {}


def attach(conn, alias: str, spark=None, secret: str | None = None,
           dbname: str | None = None, num_partitions: int = 0) -> AttachedCatalog:
    """ATTACH '<conn>' AS <alias> (TYPE MONGO[, SECRET <name>]).

    A duplicate alias errors like the reference's ATTACH (DuckDB:
    "already exists", test/sql/attach/attach_errors.test) — detach first.
    """
    if alias in _ATTACHED:
        raise ConnectionStringError(
            f"catalog alias {alias!r} already exists; detach it first"
        )
    if spark is None:
        from duckdb_mongo_spark.session import get_spark

        spark = get_spark()
    backend, inferred_db = backend_for(conn, secret=secret)
    cat = AttachedCatalog(
        spark=spark, backend=backend, alias=alias,
        dbname=dbname or inferred_db, num_partitions=num_partitions,
    )
    _ATTACHED[alias] = cat
    return cat


def detach(alias: str) -> bool:
    return _ATTACHED.pop(alias, None) is not None


def attached(alias: str) -> AttachedCatalog | None:
    return _ATTACHED.get(alias)


def clear_cache() -> bool:
    for cat in _ATTACHED.values():
        cat.clear_cache()
    from duckdb_mongo_spark.ops.interval_index import (
        clear_interval_index_cache,
    )
    from duckdb_mongo_spark.frame import clear_native_read_memo
    from duckdb_mongo_spark.ops.text_index import clear_text_stats_cache
    from duckdb_mongo_spark.ops.vector_index import clear_vector_index_cache

    clear_vector_index_cache()
    clear_text_stats_cache()
    clear_interval_index_cache()
    clear_native_read_memo()
    return True
