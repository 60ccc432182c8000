"""Versioned on-disk store shared by the durable index sidecars.

The reference ships ``$search``/``$vectorSearch`` to the server, whose
index holds the state those stages read. Locally three sidecars stand
in for it: BM25 statistics (``ops/text_index.py``), the IVF-PQ vector
index (``ops/vector_index.py``) and interval envelopes
(``ops/interval_index.py``). Each keeps one ``SidecarStore``; the store
owns the storage protocol, and the index modules own only their key,
what they write into a version dir, and how they build a handle from
``(vdir, meta)``.

Layout: ``<root>/<sha1(key)[:24]>/`` holds immutable ``v-<token>/``
version dirs and a ``CURRENT`` file naming the committed one. A build
writes a fresh version dir, ``meta.json`` last, then publishes it by
an fsynced ``os.replace`` of a per-version tmp pointer onto
``CURRENT``: a reader sees the old version or the new one, never a torn
one, and concurrent builders of one key race safely last-wins. A build
killed mid-write leaves a ``v-*`` dir that no reader resolves.

Lookup order: the in-process handle cache, then the committed version
on disk, then a miss. A ``meta.json`` of another layout version, an
unreadable one, or a handle factory that returns None reads as a miss,
never an error.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import uuid
from typing import Any, Callable

_META = "meta.json"
_POINTER = "CURRENT"
_TMP_POINTER = ".CURRENT."
_VERSION_PREFIX = "v-"


def backend_key(backend, db: str, coll: str, *rest) -> tuple[tuple, bool]:
    """``(key, durable)`` for a collection-scoped sidecar. The key holds
    the backend's collection fingerprint (file paths, sizes, mtimes), so
    a rewritten collection gets a new key; a backend without one is keyed
    by its object id and is not durable (valid within the process)."""
    fp = None
    fingerprint = getattr(backend, "fingerprint", None)
    if callable(fingerprint):
        try:
            fp = fingerprint(db, coll)
        except Exception:
            fp = None
    ident = fp if fp is not None else id(backend)
    return (type(backend).__name__, ident, db, coll, *rest), fp is not None


class SidecarStore:
    """The sidecars of one index kind: a root dir, the committed versions
    under it, and the in-process handle cache. ``build_count``,
    ``load_count`` and ``hit_count`` count builds, durable loads and
    lookups served."""

    def __init__(self, root_env: str, default_dir: str, meta_version: int,
                 on_delete: Callable[[list[str]], None] | None = None):
        self.root_env = root_env
        self.default_dir = default_dir
        self.meta_version = meta_version
        # called with the version dirs that GC or drop deleted
        self.on_delete = on_delete
        self.cache: dict = {}
        self.build_count = 0
        self.load_count = 0
        self.hit_count = 0

    def counter(self, name: str) -> int:
        """The index module's ``__getattr__``: its ``build_count``,
        ``load_count`` and ``hit_count`` are the store's."""
        if name not in ("build_count", "load_count", "hit_count"):
            raise AttributeError(name)
        return getattr(self, name)

    def root(self) -> str:
        return os.environ.get(
            self.root_env, os.path.join(tempfile.gettempdir(), self.default_dir))

    def dir(self, key) -> str:
        # a str key hashes as itself, any other key by its repr
        raw = key if isinstance(key, str) else repr(key)
        return os.path.join(
            self.root(), hashlib.sha1(raw.encode()).hexdigest()[:24])

    def current(self, sdir: str) -> str | None:
        """The committed version dir of a sidecar, or None. A version
        without its ``meta.json`` reads as uncommitted."""
        try:
            with open(os.path.join(sdir, _POINTER)) as f:
                name = f.read().strip()
        except OSError:
            return None
        if not name or os.sep in name or name.startswith("."):
            return None
        vdir = os.path.join(sdir, name)
        return vdir if os.path.isfile(os.path.join(vdir, _META)) else None

    def lookup(self, key, durable: bool,
               make: Callable[[str, dict], Any]) -> Any:
        """The handle for ``key``: cached, else loaded from the committed
        version by ``make(vdir, meta)``, else None. Never builds."""
        handle = self.cache.get(key)
        if handle is None and durable:
            handle = self._load(key, make)
        if handle is not None:
            self.hit_count += 1
        return handle

    def _load(self, key, make):
        vdir = self.current(self.dir(key))
        if vdir is None:
            return None
        try:
            with open(os.path.join(vdir, _META)) as f:
                meta = json.load(f)
            if meta.get("version") != self.meta_version:
                return None
            handle = make(vdir, meta)
        except Exception:
            return None
        if handle is not None:
            self.cache[key] = handle
            self.load_count += 1
        return handle

    def new_version(self, sdir: str) -> str:
        """A fresh, uncommitted version dir under ``sdir``."""
        vdir = os.path.join(sdir, f"{_VERSION_PREFIX}{uuid.uuid4().hex[:16]}")
        os.makedirs(vdir, exist_ok=True)
        return vdir

    def commit(self, key, vdir: str, meta: dict, handle):
        """Publish a written version dir: ``meta.json`` (the layout
        version first, then ``meta``) as its last file, then the atomic
        pointer swap, then GC of everything but this version and the one
        it replaced. Caches and returns ``handle``."""
        with open(os.path.join(vdir, _META), "w") as f:
            json.dump({"version": self.meta_version, **meta}, f)
        sdir, vname = os.path.split(vdir)
        prev = self.current(sdir)
        # per-version tmp name: two racing builders never share a tmp file
        tmp = os.path.join(sdir, _TMP_POINTER + vname)
        with open(tmp, "w") as f:
            f.write(vname)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(sdir, _POINTER))
        self.gc(sdir, keep={vname} | ({os.path.basename(prev)} if prev else set()))
        return self.put(key, handle)

    def put(self, key, handle):
        """Cache a freshly built handle and count the build."""
        self.cache[key] = handle
        self.build_count += 1
        return handle

    def gc(self, sdir: str, keep: set) -> None:
        """Delete every version dir not in ``keep`` and every torn tmp
        pointer; report the deleted version dirs to ``on_delete``. The
        replaced version is kept because Spark reads a version by path
        and scans lazily: a reader that loaded it must still find its
        files. That bounds a sidecar at two versions. Best effort: GC is
        hygiene, never correctness."""
        try:
            names = os.listdir(sdir)
        except OSError:
            return
        removed = []
        for name in names:
            if name.startswith(_VERSION_PREFIX) and name not in keep:
                removed.append(os.path.join(sdir, name))
                shutil.rmtree(removed[-1], ignore_errors=True)
            elif (name.startswith(_TMP_POINTER)
                  and name[len(_TMP_POINTER):] not in keep):
                # a builder died before its pointer swap
                try:
                    os.unlink(os.path.join(sdir, name))
                except OSError:
                    pass
        if removed and self.on_delete is not None:
            self.on_delete(removed)

    def clear(self) -> int:
        """Drop every cached handle; the sidecars stay on disk, so the
        next lookup reloads without rebuilding. Returns the count."""
        n = len(self.cache)
        self.cache.clear()
        return n

    def drop(self) -> int:
        """Delete every sidecar under the root, running ``on_delete`` for
        their versions, and the cached handles. Returns the number of
        sidecar dirs removed."""
        root = self.root()
        n = 0
        if os.path.isdir(root):
            for name in os.listdir(root):
                sdir = os.path.join(root, name)
                if os.path.isdir(sdir):
                    self.gc(sdir, keep=set())
                    shutil.rmtree(sdir, ignore_errors=True)
                    n += 1
        self.clear()
        return n
