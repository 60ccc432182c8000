"""Durable per-collection IVF(-PQ) vector index for approximate
``$vectorSearch``.

Atlas ``$vectorSearch`` is ANN by contract — ``numCandidates`` < corpus
means the server consults an index and considers only a candidate
subset. The reference ships the stage verbatim to the server
(/root/reference/src/mongo_table_function.cpp); on local backends this
module supplies the index the server would have had:

- **Durable postings sidecar** (r8): the index is a NARROW parquet
  table ``(__pk, __cell, __norm[, code])`` written once per
  (collection-fingerprint, path, dim, metric-family) under
  ``SPARK_GRAFT_INDEX_DIR``, range-partitioned and sorted by ``__cell``
  so a probe's ``__cell IN (...)`` filter prunes files and row groups
  at the scan. A fresh session LOADS the sidecar by fingerprint instead
  of rebuilding (``load_count`` vs ``build_count``), and nothing keeps
  a second full-row copy of the collection in memory — the 100 TB
  design is the local design: the index is data layout, not cache.
- **Coarse quantizer**: seeded KMeans fit on a bounded deterministic
  sample, one distributed assignment pass. Cell sizes in the sidecar
  metadata are EXACT (counted from the written postings, k rows), so
  probe breadth arithmetic is not an estimate.
- **Zero-norm pseudo-cell** (cos family): zero vectors score a
  CONSTANT 0.5 under Atlas cosine, which outranks every negatively
  similar doc — excluding them from the index would make them
  unreachable for any ``numCandidates`` < corpus. They are stored
  under ``__cell = -1`` and that pseudo-cell is probed on EVERY
  cos-family query, so they compete in the exact re-rank like any
  candidate.
- **PQ codes sidecar column** (``pq_train``/``pq_encode`` reuse): for
  high-dimension vectors (>= SPARK_GRAFT_PQ_MIN_DIM, default 128) the
  postings carry an m-byte PQ code. Query-time ADC preselect scans
  only the probed cells of the narrow sidecar and keeps the top
  ``numCandidates`` ids; the (<= 10k by Atlas contract) winners are
  pushed back into the BACKEND scan as an ``_id $in`` filter —
  pyarrow row-group pruning locally, the server's _id index against a
  real mongod. For small dimensions the JVM exact scorer is cheaper
  than an Arrow round-trip, so the code column is skipped.
- **Exact re-rank**: candidates are always re-scored with the SAME JVM
  score expression as the exact path, so ``{$meta: "vectorSearchScore"}``
  is the true Atlas score formula — approximation only decides WHICH
  rows are considered, never what a score means.

Recall contract: probing accumulates exact cell sizes until
>= numCandidates, so recall rises monotonically with numCandidates,
reaching exactness when numCandidates >= corpus (the frame layer
short-circuits that case to the exact scanner before any index is
consulted). Under a selective pre-filter the frame layer re-probes
adaptively (frame._try_ann_candidates) until the FILTERED candidate
count reaches numCandidates — Atlas filters during index traversal, so
its recall does not degrade with filter selectivity; neither does ours.

Durability contract (r9, versioned): each build writes a fresh
``v-<token>/`` directory (postings, arrays.npz, then meta.json LAST
within the version) and commits it by atomically renaming a pointer
file onto ``CURRENT`` (``os.replace`` — POSIX rename atomicity).
Readers resolve ``CURRENT`` once at load and keep file handles into
that immutable version, so CONCURRENT builders of the same
fingerprint race safely last-wins: a reader never observes a torn or
half-overwritten index, only the previously committed version. A
build killed mid-write leaves an uncommitted ``v-*`` dir that no
reader resolves. Superseded versions and orphaned fingerprints are
reclaimed by ``drop_vector_index_sidecars``.
"""
from __future__ import annotations

import hashlib
import json
import math
import os
import tempfile
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_META_VERSION = 3  # r9: versioned sidecar layout (CURRENT pointer commit)


def _fit_sample() -> int:
    return int(os.environ.get("SPARK_GRAFT_IVF_FIT_SAMPLE", "100000"))


def _pq_min_dim() -> int:
    return int(os.environ.get("SPARK_GRAFT_PQ_MIN_DIM", "128"))


def _adc_factor() -> float:
    return float(os.environ.get("SPARK_GRAFT_ANN_ADC_FACTOR", "4"))


def _index_root() -> str:
    return os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(tempfile.gettempdir(), "spark_graft_vector_index"))


def _fetch_max() -> int:
    """Largest candidate-id set the frame layer will collect and push
    into the backend scan as an ``$in``. Beyond it the pruning value of
    ANN is gone relative to the plan-string/driver cost of the id list,
    so the caller degrades to the exact scan (loud in the diagnostics).
    With PQ-ADC active the id set is <= numCandidates <= 10k (Atlas
    contract), far under this bound."""
    return int(os.environ.get("SPARK_GRAFT_ANN_FETCH_MAX", "200000"))


_CACHE: dict = {}
build_count = 0  # test introspection: how many indexes were BUILT
load_count = 0   # ... and how many were loaded from a durable sidecar


@dataclass
class CollectionVectorIndex:
    centroids: object          # np.ndarray (k, d)
    cell_sizes: object         # np.ndarray (k,) EXACT per-cell row counts
    corpus_n: int              # valid vectors in the collection (incl zero)
    zero_n: int                # zero-norm rows in the cos pseudo-cell
    postings: DataFrame        # lazy sidecar scan: __pk, __cell, __norm[, code]
    vec_name: str
    d: int
    id_name: str
    family: str = "cos"        # "cos": spherical cells; "l2": raw cells
    codebooks: list | None = None
    sidecar: str | None = None  # directory the index was written/loaded from
    extra: dict = field(default_factory=dict)

    @property
    def has_codes(self) -> bool:
        return self.codebooks is not None


def _cache_key(backend, db, coll, mongo_path, d, family):
    fp = None
    fingerprint = getattr(backend, "fingerprint", None)
    if callable(fingerprint):
        try:
            fp = fingerprint(db, coll)
        except Exception:
            fp = None
    ident = fp if fp is not None else id(backend)
    return (type(backend).__name__, ident, db, coll, mongo_path, d, family)


def _sidecar_dir(key) -> str:
    return os.path.join(
        _index_root(),
        hashlib.sha1(repr(key).encode()).hexdigest()[:24])


def _current_version_dir(sdir: str) -> str | None:
    """Resolve the committed version of a sidecar, or None. ``CURRENT``
    names the version directory; a version without its meta.json (a
    builder died between pointer write and... impossible by ordering,
    but also a hand-truncated dir) reads as uncommitted."""
    try:
        with open(os.path.join(sdir, "CURRENT")) as f:
            name = f.read().strip()
    except OSError:
        return None
    if not name or os.sep in name or name.startswith("."):
        return None
    vdir = os.path.join(sdir, name)
    return vdir if os.path.isfile(os.path.join(vdir, "meta.json")) else None


def _commit_version(sdir: str, vname: str) -> None:
    """Atomically publish ``vname`` as the sidecar's committed version.
    The tmp pointer is per-version-named so two racing builders never
    write the same tmp file; ``os.replace`` is the atomic swap — a
    concurrent reader sees either the old pointer or the new one,
    never a partial file."""
    tmp = os.path.join(sdir, f".CURRENT.{vname}")
    with open(tmp, "w") as f:
        f.write(vname)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(sdir, "CURRENT"))


def _gc_stale_versions(sdir: str, keep: set) -> list[str]:
    """Best-effort reclaim of superseded ``v-*`` version dirs after a
    commit (r9 advice: repeated rebuilds of one fingerprint leaked every
    prior version until the all-or-nothing drop). The committed version
    AND the one it superseded are kept — Spark parquet readers resolve a
    version by PATH at load and scan lazily (no held file handles), so a
    reader that loaded the just-superseded version must still find its
    files; anything two generations stale (or a racing builder's
    never-committed dir) is reclaimed. Leak bound: <= 2 versions per
    fingerprint instead of unbounded. Failures are swallowed: GC is
    hygiene, never correctness. Returns the version dirs removed."""
    import shutil

    removed = []
    try:
        names = os.listdir(sdir)
    except OSError:
        return removed
    for name in names:
        if name.startswith("v-") and name not in keep:
            removed.append(os.path.join(sdir, name))
            shutil.rmtree(removed[-1], ignore_errors=True)
        elif name.startswith(".CURRENT.") and name[len(".CURRENT."):] not in keep:
            # torn tmp pointer from a builder that died pre-replace
            try:
                os.unlink(os.path.join(sdir, name))
            except OSError:
                pass
    return removed


def cached_index(backend, db, coll, mongo_path, d, family):
    """Cache peek — lets callers skip building the base scan frame when
    the index already exists (fingerprint re-checked, so stale file
    versions miss)."""
    return _CACHE.get(_cache_key(backend, db, coll, mongo_path, d, family))


def clear_vector_index_cache() -> int:
    """Drop every in-memory index handle. Wired into
    ``catalog.clear_cache()`` — the reference's all-or-nothing metadata
    invalidation stance (src/mongo_clear_cache.cpp). Durable sidecars
    stay on disk (an index is data, not cache): the next query reloads
    by fingerprint without rebuilding. ``drop_vector_index_sidecars``
    deletes the disk side too."""
    n = len(_CACHE)
    _CACHE.clear()
    return n


def drop_vector_index_sidecars() -> int:
    """Delete every durable sidecar under the index root (and the
    in-memory handles pointing at them). Returns the number of sidecar
    directories removed. The explicit "drop index" verb — fingerprint
    rotation already orphans stale sidecars, this reclaims them."""
    import shutil

    root = _index_root()
    n = 0
    if os.path.isdir(root):
        for name in os.listdir(root):
            p = os.path.join(root, name)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
                n += 1
    clear_vector_index_cache()
    return n


def _valid_vectors(bdf: DataFrame, vec_name: str, d: int):
    """Rows the exact scorer could ever return: non-null vector of the
    query's dimension with no null elements (null elements score NULL
    and are excluded by the exact path, so dropping them from the index
    changes nothing)."""
    vec = F.col(vec_name).cast("array<double>")
    return bdf.where(
        F.col(vec_name).isNotNull()
        & (F.size(F.col(vec_name)) == d)
        & ~F.exists(vec, lambda x: x.isNull())
    )


def _load_sidecar(spark, key, sdir) -> "CollectionVectorIndex | None":
    """Load a committed sidecar (CURRENT pointer -> immutable version
    dir). Version/shape mismatches read as a miss, never an error."""
    global load_count
    import numpy as np

    vdir = _current_version_dir(sdir)
    if vdir is None:
        return None
    meta_path = os.path.join(vdir, "meta.json")
    try:
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("version") != _META_VERSION:
            return None
        arrs = np.load(os.path.join(vdir, "arrays.npz"))
        codebooks = None
        if meta["n_codebooks"]:
            codebooks = [arrs[f"cb{i}"] for i in range(meta["n_codebooks"])]
        postings = spark.read.parquet(os.path.join(vdir, "postings"))
        idx = CollectionVectorIndex(
            centroids=arrs["centroids"], cell_sizes=arrs["cell_sizes"],
            corpus_n=int(meta["corpus_n"]), zero_n=int(meta["zero_n"]),
            postings=postings, vec_name=meta["vec_name"], d=int(meta["d"]),
            id_name=meta["id_name"], family=meta["family"],
            codebooks=codebooks, sidecar=vdir,
        )
    except Exception:
        return None
    _CACHE[key] = idx
    load_count += 1
    return idx


def get_collection_vector_index(
    backend, db, coll, bdf: DataFrame, vec_name: str, mongo_path: str,
    d: int, id_name: str | None, family: str = "cos", seed: int = 42,
) -> "CollectionVectorIndex | None":
    """Build-load-or-fetch the IVF(-PQ) index for one collection vector
    path. ``bdf`` must be the UNFILTERED base scan (query filters are
    applied to candidates at probe time, never baked into the index).
    Returns None when no index is possible — no stable id column to
    join candidates back through (Atlas requires ``_id`` for exactly
    this reason), or no valid vectors to fit.

    ``family`` picks the cell geometry: "cos" trains cells on
    NORMALIZED vectors (cosine neighborhoods are L2 neighborhoods on
    the unit sphere, |a-b|^2 = 2 - 2cos — raw-vector cells would group
    by magnitude, not direction), "l2" on raw vectors (euclidean
    similarity). Zero-norm vectors go to the always-probed ``-1``
    pseudo-cell of a "cos" index — their constant 0.5 score outranks
    negatively similar docs, so leaving them out would lose them
    entirely, not just lose ties. dotProduct queries use the "cos"
    family: cells capture direction and the exact re-rank restores
    magnitude — extreme norm variance degrades recall, a documented
    MIPS-on-IVF limitation."""
    global build_count
    key = _cache_key(backend, db, coll, mongo_path, d, family)
    idx = _CACHE.get(key)
    if idx is not None:
        return idx
    if id_name is None or id_name not in bdf.columns:
        return None  # no stable id: candidates can't round-trip the scan

    durable = key[1] is not None and not isinstance(key[1], int)
    sdir = _sidecar_dir(key)
    if durable:
        idx = _load_sidecar(bdf.sparkSession, key, sdir)
        if idx is not None:
            return idx

    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    valid = _valid_vectors(bdf, vec_name, d)
    vec = F.col(vec_name).cast("array<double>")
    nrm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))
    if family == "cos":
        fit_src = valid.where(nrm > 0.0)
        feat_arr = F.transform(vec, lambda x: x / nrm)
    else:
        fit_src = valid
        feat_arr = vec
    feat = fit_src.withColumn("__features", array_to_vector(feat_arr))
    # bounded deterministic sample in a fixed layout, as ivf_index fits:
    # the cells must not follow the scan path or the session's
    # range-exchange sampling
    from duckdb_mongo_spark.ops.similarity import fixed_layout_sample

    sample_src, n_fit = fixed_layout_sample(
        feat, id_name, _fit_sample(), ["__features"])
    if n_fit == 0:
        return None  # nothing to fit (e.g. all-zero cos corpus) — exact path
    k_env = os.environ.get("SPARK_GRAFT_IVF_CENTROIDS")
    k = int(k_env) if k_env else max(1, min(1024, round(math.sqrt(n_fit) * 2)))
    k = min(k, n_fit)
    model = KMeans(k=k, seed=seed, featuresCol="__features",
                   predictionCol="__cell").fit(sample_src)
    centroids = np.asarray([list(c) for c in model.clusterCenters()],
                           dtype=np.float64)

    assigned = model.transform(feat).select(
        F.col(id_name).alias("__pk"), F.col("__cell").cast("int"),
        nrm.alias("__norm"))

    codebooks = None
    if d >= _pq_min_dim():
        from duckdb_mongo_spark.ops.similarity import pq_encode, pq_train

        # ~8 dims per subspace (FAISS-typical granularity): 32 one-byte
        # codes for d=256 — recall-measured in tests/test_vector_ann.py.
        # "cos" family codes NORMALIZED vectors: IP-ADC against them is
        # |q|*cos — monotonic in cosine with no norm correction, and PQ
        # distortion stops scaling with vector magnitude spread.
        # dotProduct restores magnitude via the stored __norm.
        m = max(1, min(64, d // 8))
        code_src = fit_src
        code_vec = vec_name
        if family == "cos":
            code_src = fit_src.withColumn("__nvec", feat_arr)
            code_vec = "__nvec"
        codebooks = pq_train(code_src, m=m, c_id=id_name, c_vec=code_vec,
                             seed=seed, fit_sample_size=_fit_sample())
        codes = (pq_encode(code_src, codebooks, c_id=id_name, c_vec=code_vec)
                 .withColumnRenamed(id_name, "__pk"))
        assigned = assigned.join(codes, "__pk")
    postings = assigned
    if family == "cos":
        zeros = valid.where(~(nrm > 0.0)).select(
            F.col(id_name).alias("__pk"),
            F.lit(-1).cast("int").alias("__cell"),
            F.lit(0.0).alias("__norm"))
        if codebooks is not None:
            zeros = zeros.withColumn("code", F.lit(None).cast("binary"))
        postings = postings.unionByName(zeros)

    # Fresh immutable version dir; committed only by the CURRENT rename
    # below, so concurrent builders and readers never interleave files.
    vname = f"v-{uuid.uuid4().hex[:16]}"
    vdir = os.path.join(sdir, vname)
    os.makedirs(vdir, exist_ok=True)
    post_dir = os.path.join(vdir, "postings")
    nparts = max(1, min(64, math.ceil(k / 16)))
    (postings.repartitionByRange(nparts, "__cell")
     .sortWithinPartitions("__cell")
     .write.mode("overwrite").parquet(post_dir))
    postings = bdf.sparkSession.read.parquet(post_dir)

    # EXACT cell sizes from the written sidecar (k+1 driver rows) —
    # probe arithmetic is then a guarantee, not a sample-scaled guess
    sizes = {int(r["__cell"]): int(r["n"]) for r in
             postings.groupBy("__cell").agg(F.count("*").alias("n"))
             .collect()}
    zero_n = sizes.pop(-1, 0)
    cell_sizes = np.zeros(k, dtype=np.int64)
    for c, n in sizes.items():
        cell_sizes[c] = n
    corpus_n = int(cell_sizes.sum()) + zero_n

    arrays = {"centroids": centroids, "cell_sizes": cell_sizes}
    n_cb = 0
    if codebooks is not None:
        for i, cb in enumerate(codebooks):
            arrays[f"cb{i}"] = np.asarray(cb, dtype=np.float64)
        n_cb = len(codebooks)
    np.savez(os.path.join(vdir, "arrays.npz"), **arrays)
    meta = {"version": _META_VERSION, "d": d, "family": family,
            "id_name": id_name, "vec_name": vec_name,
            "mongo_path": mongo_path, "corpus_n": corpus_n,
            "zero_n": zero_n, "k": k, "n_codebooks": n_cb}
    with open(os.path.join(vdir, "meta.json"), "w") as f:
        json.dump(meta, f)  # last file within the version dir
    prev = _current_version_dir(sdir)  # the version this commit supersedes
    _commit_version(sdir, vname)  # atomic publish: old version stays intact
    _gc_stale_versions(sdir, keep={vname} | (
        {os.path.basename(prev)} if prev else set()))

    idx = CollectionVectorIndex(
        centroids=centroids, cell_sizes=cell_sizes, corpus_n=corpus_n,
        zero_n=zero_n, postings=postings, vec_name=vec_name, d=d,
        id_name=id_name, family=family, codebooks=codebooks, sidecar=vdir,
    )
    _CACHE[key] = idx
    build_count += 1
    return idx


def probe_cells(index: CollectionVectorIndex, qv, num_candidates: int):
    """Rank cells by L2 distance of the query to each centroid (k-means
    cells are L2-Voronoi — an inner-product probe would favor large-norm
    centroids, ops/similarity.py ivf_pq_topk) and accumulate EXACT
    sizes until >= num_candidates. The query is normalized first for
    "cos"-family indexes (the cells live on the unit sphere), and the
    zero-norm pseudo-cell (-1) is appended to every cos probe. Returns
    (cells, n_probed); cells is None when every cell would be probed
    (no pruning value)."""
    import numpy as np

    q = np.asarray([float(x) for x in qv], dtype=np.float64)
    if index.family == "cos":
        qn = float(np.sqrt((q * q).sum()))
        if qn > 0:
            q = q / qn
    c = index.centroids
    dist = (c * c).sum(1) - 2.0 * (c @ q)
    order = np.lexsort((np.arange(len(c)), dist))
    sizes = np.asarray(index.cell_sizes, dtype=np.float64)
    cum = np.cumsum(sizes[order]) + float(index.zero_n)
    n_cells = int(np.searchsorted(cum, float(num_candidates)) + 1)
    if n_cells >= len(c):
        return None, float(index.corpus_n)
    cells = [int(x) for x in order[:n_cells]]
    if index.zero_n:
        cells.append(-1)
    return cells, float(cum[n_cells - 1])


def candidate_pks(index: CollectionVectorIndex, cells) -> DataFrame:
    """One-column (__pk) frame of every posting in the probed cells —
    a file/row-group-pruned scan of the narrow sidecar."""
    return (index.postings.where(F.col("__cell").isin(cells))
            .select("__pk"))


def adc_preselect(index: CollectionVectorIndex, cells, qv,
                  similarity: str, num_candidates: int) -> DataFrame | None:
    """PQ asymmetric-distance preselect over the narrow postings
    sidecar: score only (id, code) rows of the probed cells, keep the
    top ``num_candidates`` ids under the query's similarity ordering.
    Returns a 1-column (__pk) DataFrame (broadcast-class, <= 10k by the
    Atlas limit contract) or None when no code column exists.

    "cos"-family codes hold NORMALIZED vectors, so the IP partial sum is
    |q|*cos — already monotonic in cosine; dotProduct multiplies the
    stored exact ``__norm`` back in; "l2" codes hold raw vectors and use
    the L2 expansion. Zero-norm pseudo-cell rows carry no code and ride
    past the ADC cut unconditionally (they are candidates by contract).
    The survivors are exact re-ranked by the caller, so ADC error can
    only cost recall, never score fidelity."""
    if index.codebooks is None:
        return None
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cb = [np.asarray(c, dtype=np.float64) for c in index.codebooks]
    bounds = np.cumsum([0] + [c.shape[1] for c in cb])
    q = np.asarray([float(x) for x in qv], dtype=np.float64)
    want_l2 = similarity == "euclidean"
    lut = np.zeros((len(cb), max(c.shape[0] for c in cb)))
    for j, c in enumerate(cb):
        qs = q[bounds[j]:bounds[j + 1]]
        if want_l2:
            lut[j, : c.shape[0]] = ((qs * qs).sum()
                                    - 2.0 * (c @ qs)
                                    + (c * c).sum(1))
        else:
            lut[j, : c.shape[0]] = c @ qs

    src = index.postings.where(F.col("__cell").isin(cells))
    pk_type = src.schema["__pk"].dataType
    out_schema = T.StructType([
        T.StructField("__pk", pk_type),
        T.StructField("__adc", T.DoubleType()),
    ])
    m = len(cb)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            code_mat = np.frombuffer(
                b"".join(pdf["code"]), dtype=np.uint8).reshape(len(pdf), m)
            s = np.zeros(len(pdf))
            for j in range(m):
                s += lut[j, code_mat[:, j]]
            if similarity == "dotProduct":
                s = s * pdf["__norm"].to_numpy()
            yield pd.DataFrame({"__pk": pdf["__pk"], "__adc": s})

    scored = (src.where(F.col("code").isNotNull())
              .select("__pk", "code", "__norm")
              .mapInPandas(kernel, schema=out_schema))
    order = F.col("__adc").asc() if want_l2 else F.col("__adc").desc()
    top = scored.orderBy(order).limit(num_candidates).select("__pk")
    if index.zero_n:
        top = top.unionByName(
            src.where(F.col("__cell") == -1).select("__pk"))
    return top
