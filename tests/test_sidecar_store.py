"""The versioned sidecar store (``ops/sidecar.py``) over plain temp
dirs: commit visibility, torn pointers, GC bounds, layout-version and
corrupt-meta misses, and the clear/drop split. No Spark."""

from __future__ import annotations

import json
import os

import pytest

from duckdb_mongo_spark.ops.sidecar import SidecarStore


@pytest.fixture()
def store(tmp_path, monkeypatch):
    monkeypatch.setenv("SIDECAR_STORE_TEST_DIR", str(tmp_path))
    deleted = []
    st = SidecarStore("SIDECAR_STORE_TEST_DIR", "unused", 7,
                      on_delete=deleted.extend)
    st.deleted = deleted
    return st


def _handle(vdir, meta):
    return {"vdir": vdir, "n": meta["n"]}


def _build(store, key, n=1):
    vdir = store.new_version(store.dir(key))
    with open(os.path.join(vdir, "payload"), "w") as f:
        f.write(str(n))
    return store.commit(key, vdir, {"n": n}, _handle(vdir, {"n": n}))


def test_root_and_key_dirs(store, tmp_path):
    assert store.root() == str(tmp_path)
    assert os.path.dirname(store.dir(("a", 1))) == str(tmp_path)
    assert store.dir(("a", 1)) != store.dir(("a", 2))
    assert store.dir("k") != store.dir(repr("k"))


def test_commit_then_reload(store):
    h = _build(store, "k", n=3)
    assert store.build_count == 1 and store.cache["k"] is h
    with open(os.path.join(h["vdir"], "meta.json")) as f:
        assert json.load(f) == {"version": 7, "n": 3}
    store.clear()
    got = store.lookup("k", True, _handle)
    assert got == h and store.load_count == 1 and store.hit_count == 1
    # memory first: a second lookup loads nothing
    assert store.lookup("k", True, _handle) is got
    assert store.load_count == 1 and store.hit_count == 2


def test_not_durable_never_reads_disk(store):
    _build(store, "k")
    store.clear()
    assert store.lookup("k", False, _handle) is None
    assert store.load_count == 0 and store.hit_count == 0


def test_uncommitted_version_is_invisible(store):
    key = "k"
    assert store.lookup(key, True, _handle) is None
    vdir = store.new_version(store.dir(key))
    with open(os.path.join(vdir, "meta.json"), "w") as f:
        json.dump({"version": 7, "n": 1}, f)  # written, never committed
    assert store.current(store.dir(key)) is None
    assert store.lookup(key, True, _handle) is None
    h = _build(store, key)
    os.makedirs(os.path.join(store.dir(key), "v-torn"))
    store.clear()
    assert store.lookup(key, True, _handle)["vdir"] == h["vdir"]


def test_torn_pointer_is_gcd(store):
    h = _build(store, "k")
    sdir = store.dir("k")
    torn = os.path.join(sdir, ".CURRENT.v-dead")
    with open(torn, "w") as f:
        f.write("v-dead")
    _build(store, "k")
    assert not os.path.exists(torn)
    assert os.path.isdir(h["vdir"])  # the replaced version stays


def test_gc_keeps_current_and_previous(store):
    built = [_build(store, "k", n=i) for i in range(4)]
    sdir = store.dir("k")
    names = sorted(n for n in os.listdir(sdir) if n.startswith("v-"))
    assert names == sorted(os.path.basename(h["vdir"]) for h in built[2:])
    assert store.current(sdir) == built[3]["vdir"]
    assert sorted(store.deleted) == sorted(h["vdir"] for h in built[:2])
    assert sorted(os.listdir(sdir)) == sorted(["CURRENT", *names])


@pytest.mark.parametrize("meta_text", [
    json.dumps({"version": 6, "n": 1}),  # another layout version
    "{not json",                         # corrupt
    json.dumps({"version": 7}),          # the handle factory raises
])
def test_bad_meta_reads_as_miss(store, meta_text):
    h = _build(store, "k")
    store.clear()
    with open(os.path.join(h["vdir"], "meta.json"), "w") as f:
        f.write(meta_text)
    assert store.lookup("k", True, _handle) is None
    assert store.load_count == 0 and "k" not in store.cache


def test_factory_returning_none_is_a_miss(store):
    _build(store, "k")
    store.clear()
    assert store.lookup("k", True, lambda vdir, meta: None) is None
    assert store.load_count == 0 and store.hit_count == 0


def test_clear_keeps_disk_and_drop_removes_it(store, tmp_path):
    a, b = _build(store, "a"), _build(store, "b")
    assert store.clear() == 2 and not store.cache
    assert os.path.isdir(a["vdir"]) and os.path.isdir(b["vdir"])
    assert store.lookup("a", True, _handle) is not None
    assert store.drop() == 2
    assert os.listdir(tmp_path) == [] and not store.cache
    assert sorted(store.deleted) == sorted([a["vdir"], b["vdir"]])
    assert store.lookup("a", True, _handle) is None
