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
  high-dimension vectors (>= ``PQ_MIN_DIM``, 128) the
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
immutable version dir (postings, arrays.npz) and commits it through
``ops/sidecar.py``, which owns the versioned commit, load and GC
protocol shared with the text and interval sidecars. Readers resolve
the committed version once at load and scan that immutable dir, so
concurrent builders of one fingerprint race safely last-wins and a
reader never observes a torn index. Orphaned fingerprints are
reclaimed by ``drop_vector_index_sidecars``.
"""
from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_mongo_spark.ops.sidecar import SidecarStore, backend_key

_META_VERSION = 3  # r9: versioned sidecar layout

FIT_SAMPLE = 100_000  # KMeans and PQ codebook fit sample size
PQ_MIN_DIM = 128      # vectors of this dimension or more carry PQ codes
# ADC preselect runs when the probe covers this many times numCandidates
ADC_FACTOR = 4.0
# Largest candidate-id set the frame layer will collect and push into
# the backend scan as an ``$in``. Beyond it the pruning value of ANN is
# gone relative to the plan-string/driver cost of the id list, so the
# caller degrades to the exact scan. With PQ-ADC active the id set is
# <= numCandidates <= 10k (Atlas contract), far under this bound.
FETCH_MAX = 200_000

_STORE = SidecarStore("SPARK_GRAFT_INDEX_DIR", "spark_graft_vector_index",
                      _META_VERSION)
_CACHE = _STORE.cache
__getattr__ = _STORE.counter  # build_count, load_count, hit_count


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


def cached_index(backend, db, coll, mongo_path, d, family):
    """Cache peek — lets callers skip building the base scan frame when
    the index already exists (fingerprint re-checked, so stale file
    versions miss)."""
    key, _ = backend_key(backend, db, coll, mongo_path, d, family)
    return _CACHE.get(key)


def clear_vector_index_cache() -> int:
    """Drop every in-memory index handle. Wired into
    ``catalog.clear_cache()`` — the reference's all-or-nothing metadata
    invalidation stance (src/mongo_clear_cache.cpp). Durable sidecars
    stay on disk (an index is data, not cache): the next query reloads
    by fingerprint without rebuilding. ``drop_vector_index_sidecars``
    deletes the disk side too."""
    return _STORE.clear()


def drop_vector_index_sidecars() -> int:
    """Delete every durable sidecar under the index root (and the
    in-memory handles pointing at them). Returns the number of sidecar
    directories removed. The explicit "drop index" verb — fingerprint
    rotation already orphans stale sidecars, this reclaims them."""
    return _STORE.drop()


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


def _load_sidecar(spark, vdir: str, meta: dict) -> CollectionVectorIndex:
    """The handle of a committed version dir."""
    import numpy as np

    arrs = np.load(os.path.join(vdir, "arrays.npz"))
    codebooks = None
    if meta["n_codebooks"]:
        codebooks = [arrs[f"cb{i}"] for i in range(meta["n_codebooks"])]
    return CollectionVectorIndex(
        centroids=arrs["centroids"], cell_sizes=arrs["cell_sizes"],
        corpus_n=int(meta["corpus_n"]), zero_n=int(meta["zero_n"]),
        postings=spark.read.parquet(os.path.join(vdir, "postings")),
        vec_name=meta["vec_name"], d=int(meta["d"]),
        id_name=meta["id_name"], family=meta["family"],
        codebooks=codebooks, sidecar=vdir,
    )


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
    if id_name is None or id_name not in bdf.columns:
        return None  # no stable id: candidates can't round-trip the scan
    key, durable = backend_key(backend, db, coll, mongo_path, d, family)
    spark = bdf.sparkSession
    idx = _STORE.lookup(key, durable,
                        lambda vdir, meta: _load_sidecar(spark, vdir, meta))
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
        feat, id_name, FIT_SAMPLE, ["__features"])
    if n_fit == 0:
        return None  # nothing to fit (e.g. all-zero cos corpus) — exact path
    k = max(1, min(1024, round(math.sqrt(n_fit) * 2)))
    k = min(k, n_fit)
    model = KMeans(k=k, seed=seed, featuresCol="__features",
                   predictionCol="__cell").fit(sample_src)
    centroids = np.asarray([list(c) for c in model.clusterCenters()],
                           dtype=np.float64)

    assigned = model.transform(feat).select(
        F.col(id_name).alias("__pk"), F.col("__cell").cast("int"),
        nrm.alias("__norm"))

    codebooks = None
    if d >= PQ_MIN_DIM:
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
                             seed=seed, fit_sample_size=FIT_SAMPLE)
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

    # fresh immutable version dir, published only by the store's commit
    vdir = _STORE.new_version(_STORE.dir(key))
    post_dir = os.path.join(vdir, "postings")
    nparts = max(1, min(64, math.ceil(k / 16)))
    (postings.repartitionByRange(nparts, "__cell")
     .sortWithinPartitions("__cell")
     .write.mode("overwrite").parquet(post_dir))
    postings = spark.read.parquet(post_dir)

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
    meta = {"d": d, "family": family, "id_name": id_name,
            "vec_name": vec_name, "mongo_path": mongo_path,
            "corpus_n": corpus_n, "zero_n": zero_n, "k": k,
            "n_codebooks": n_cb}
    return _STORE.commit(key, vdir, meta, CollectionVectorIndex(
        centroids=centroids, cell_sizes=cell_sizes, corpus_n=corpus_n,
        zero_n=zero_n, postings=postings, vec_name=vec_name, d=d,
        id_name=id_name, family=family, codebooks=codebooks, sidecar=vdir,
    ))


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
