"""Similarity search over embedding columns (``array<float>``).

Spark-first design:

- ``cosine_topk`` — exact brute force: the (small) query set ships to
  every corpus batch, one numpy GEMM per Arrow batch with a per-batch
  top-k preselect, window top-k with deterministic tie-break. This is
  the exact answer and the reference for the ANN variants. (A JVM-pure
  ``zip_with``/``aggregate`` form measured 5.2-6.5x DuckDB at sf10
  against 1.6-1.9x for the GEMM and was deleted; ``dot``/``cosine``
  below remain the scorers of the bucketed paths.)
- ``lsh_topk`` — scale path: random-hyperplane signature buckets
  (deterministic md5-derived hyperplanes), candidates share a bucket,
  exact re-rank inside buckets. Sub-linear probes at 100 TB where the
  brute force would cross-join.
- ``embedding_near_dup_pairs`` — cosine ≥ threshold pairs via bucketed
  self-join (embedding-cosine near-dup for dedup pipelines).
- ``pq_train`` / ``pq_encode`` / ``pq_topk`` — product quantization:
  m-byte codes instead of full float vectors (the 100 TB storage +
  scan-bandwidth path), asymmetric-distance top-k with per-partition
  pruning so the shuffle is bounded at partitions × |Q| × k.

Doubles all the way (cast from float) so DuckDB oracles match; scores
rounded to 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_mongo_spark.ops.partitioning import ensure_min_parallelism

ROUND = 6


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a, b):
    return dot(a, b) / (norm(a) * norm(b))


def _vector_dim(df: DataFrame, vec_col: str, dim: int | None = None) -> int:
    """Resolve embedding dimensionality WITHOUT running a Spark job.

    Priority: explicit ``dim`` param → column metadata key ``"dim"``
    (attach with ``df.withMetadata(col, {"dim": d})``) → last resort, a
    ``first()`` probe — which kicks off a whole-stage scan job before
    any candidate generation, so callers on big corpora should always
    pass ``dim`` (it is a property of the embedding model, not the
    data)."""
    if dim is not None:
        return int(dim)
    md = df.schema[vec_col].metadata or {}
    if "dim" in md:
        return int(md["dim"])
    import warnings

    warnings.warn(
        f"inferring dim of {vec_col!r} via a first() probe (a Spark job); "
        "pass dim= or attach column metadata {'dim': d} to avoid it",
        stacklevel=3,
    )
    return len(df.select(vec_col).first()[0])


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 bytes (portable,
    no RNG state). Values in [-1, 1)."""
    import hashlib

    planes = []
    for p in range(n_planes):
        vec = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()
            vec.append(int.from_bytes(h[:8], "big") / float(1 << 63) - 1.0)
        planes.append(vec)
    return planes


def signature_col(vec_col, planes: list[list[float]]):
    """Bit-signature column: one bit per hyperplane (sign of projection)."""
    bits = []
    for i, plane in enumerate(planes):
        pl = F.array(*[F.lit(v) for v in plane])
        proj = dot(_as_double(vec_col), pl)
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int | None = None,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share the hyperplane-sign bucket,
    exact cosine re-rank within the bucket.

    Recall < 1.0 by construction; at scale the bucket join replaces the
    full cross join (probe cost ∝ bucket size, not corpus size).
    """
    from pyspark.sql import Window

    planes = hyperplanes(_vector_dim(corpus, c_vec, dim), n_planes, seed=seed)
    q = queries.select(
        F.col(q_id).alias("q_id"),
        _as_double(F.col(q_vec)).alias("qv"),
        signature_col(F.col(q_vec), planes).alias("sig"),
    )
    c = ensure_min_parallelism(corpus).select(
        F.col(c_id).alias("c_id"),
        _as_double(F.col(c_vec)).alias("cv"),
        signature_col(F.col(c_vec), planes).alias("sig"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "sig")
        .select(
            "q_id",
            F.col("c_id"),
            F.round(cosine(F.col("qv"), F.col("cv")), ROUND).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("c_id").alias(c_id), "score", "rank")
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbours for each query vector via an
    Arrow-batched numpy kernel (``mapInArrow``): per-batch matrix
    multiply instead of per-element higher-order-function evaluation.

    The query set is collected to the driver (it must be broadcastable
    anyway) and shipped in the closure as one ndarray; each corpus batch
    does ONE (B×d)·(d×Q) GEMM. At 100 TB this is the fast path — HOF
    lambdas evaluate interpreted per element, a GEMM runs at memory
    bandwidth. Scores are rounded to ``ROUND`` places; ties are broken
    by corpus id, so results are fully deterministic. Output: q_id,
    vec_id (``c_id``), score, rank.

    Two r8 upgrades, measured at sf10 (200k×64d corpus, 10 queries,
    0.89 → 0.64 s vs DuckDB's 0.41 — at the Python-stage floor):
    - each batch PRESELECTS its per-query top-k under the final
      ordering key (rounded score desc, c_id asc) before anything
      crosses Arrow back to the JVM — the global top-k is a subset of
      every batch's top-k, so results are identical while the kernel
      output (and ranking-window input) shrinks from
      |corpus|×|queries| rows to batches×|queries|×k;
    - the kernel reads the Arrow ListArray's flat values buffer and
      reshapes (``mapInArrow``) — the matrix is built with ZERO
      per-row Python, where the pandas path paid an object conversion
      per corpus row.
    """
    import numpy as np

    from pyspark.sql import Window
    from pyspark.sql import types as T

    q_rows = queries.select(q_id, q_vec).collect()
    q_ids = np.asarray([r[0] for r in q_rows])
    q_mat = np.asarray([[float(x) for x in r[1]] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_norm[q_norm == 0.0] = 1.0
    d = q_mat.shape[1] if len(q_rows) else 0

    out_schema = T.StructType([
        T.StructField("q_id", queries.schema[q_id].dataType),
        T.StructField("c_id", corpus.schema[c_id].dataType),
        T.StructField("score", T.DoubleType()),
    ])

    def kernel(batches):
        import pyarrow as pa

        out_fields = None
        for rb in batches:
            if out_fields is None:
                out_fields = [pa.field("q_id", _arrow_id_type(rb.column(0))),
                              pa.field("c_id", rb.schema.field(0).type),
                              pa.field("score", pa.float64())]
            n_c = rb.num_rows
            if n_c == 0:
                continue
            cv = rb.column(1)
            if cv.null_count:
                raise ValueError(
                    "cosine_topk: null corpus vectors — filter "
                    "them out upstream (the exact scorer excludes them)")
            offs = cv.offsets.to_numpy()
            if d and not (np.diff(offs) == d).all():
                raise ValueError(
                    "cosine_topk: ragged corpus vectors "
                    f"(expected dim {d})")
            vals = cv.values.to_numpy(zero_copy_only=False)
            c_mat = vals[offs[0]:offs[-1]].reshape(n_c, d) if d else \
                np.zeros((n_c, 0))
            cid = rb.column(0).to_numpy(zero_copy_only=False)
            c_norm = np.linalg.norm(c_mat, axis=1)
            c_norm[c_norm == 0.0] = 1.0
            scores = np.round(
                (c_mat @ q_mat.T) / np.outer(c_norm, q_norm), ROUND)
            n_q = scores.shape[1]
            if n_c <= k:
                sel_q = np.repeat(q_ids, n_c)
                sel_c = np.tile(cid, n_q)
                sel_s = scores.T.reshape(-1)
            else:
                # per-query top-k under the FINAL key (score desc, c_id
                # asc): stable argsort over -score on rows pre-sorted by
                # c_id keeps the id tiebreak — NaNs sort last, like the
                # window's descending order drops them past rank k
                by_id = np.argsort(cid, kind="stable")
                outs_q, outs_c, outs_s = [], [], []
                for j in range(n_q):
                    s = scores[by_id, j]
                    sel = by_id[np.argsort(-s, kind="stable")[:k]]
                    outs_q.append(np.repeat(q_ids[j: j + 1], len(sel)))
                    outs_c.append(cid[sel])
                    outs_s.append(scores[sel, j])
                sel_q = np.concatenate(outs_q)
                sel_c = np.concatenate(outs_c)
                sel_s = np.concatenate(outs_s)
            yield pa.RecordBatch.from_arrays(
                [pa.array(sel_q, type=out_fields[0].type),
                 pa.array(sel_c, type=out_fields[1].type),
                 pa.array(sel_s, type=pa.float64())],
                schema=pa.schema(out_fields))

    def _arrow_id_type(_c):
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_type

        try:
            return to_arrow_type(out_schema["q_id"].dataType)
        except Exception:
            return pa.array(q_ids[:1]).type if len(q_ids) else pa.int64()

    c = ensure_min_parallelism(corpus).select(
        F.col(c_id).alias("c_id"), _as_double(F.col(c_vec)).alias("cv")
    )
    scored = c.mapInArrow(kernel, schema=out_schema)
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("c_id").alias(c_id), "score", "rank")
    )


def fixed_layout_sample(df: DataFrame, order_col: str, n: int,
                        cols: list[str]) -> tuple[DataFrame, int]:
    """The first ``n`` rows of ``df`` in ``order_col`` order, projected
    to ``cols`` and laid out in ``defaultParallelism`` contiguous
    slices of that order; returns ``(sample, rows in it)``.

    Fit input for Spark ML KMeans, whose k-means|| initialisation
    samples per partition: fitting a frame as planned makes the same
    seed give different centroids on different scan layouts (one
    parquet split vs a direct path's four slices, a range exchange's
    session-dependent bounds). The sample is bounded by ``n`` — the
    only rows that reach the driver."""
    spark = df.sparkSession
    rows = df.orderBy(order_col).limit(n).select(*cols).collect()
    sc = spark.sparkContext
    sample = spark.createDataFrame(
        sc.parallelize(rows, sc.defaultParallelism), df.select(*cols).schema)
    return sample, len(rows)


def ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    seed: int = 42,
    fit_sample_size: int = 100_000,
):
    """IVF coarse quantizer: seeded KMeans fit on a bounded sample,
    assignment as one map over the full corpus.

    Returns (assigned, centroids): ``assigned`` = corpus rows +
    ``centroid_id``; ``centroids`` = [(centroid_id, [floats])]. Scale
    contract: the ONLY driver-side jobs are over the fit sample
    (``limit(fit_sample_size)``, so cost is bounded regardless of corpus
    size — a 100 TB corpus never feeds KMeans); inverted lists are just
    the ``centroid_id`` column (group locality comes free from
    partitioning on it).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = ensure_min_parallelism(corpus).select(
        F.col(c_id).alias("c_id"), _as_double(F.col(c_vec)).alias("cv")
    ).withColumn("features", array_to_vector(F.col("cv")))
    # deterministic fit sample in a fixed layout: a bare limit() would
    # pick a partition-order-dependent subset, and fitting the frame as
    # planned would let k-means|| init follow the corpus's partitioning
    fit_df, n_fit = fixed_layout_sample(c, "c_id", fit_sample_size, ["features"])
    # tiny-corpus guard: the SAMPLE size (bounded by fit_sample_size)
    n_centroids = max(1, min(n_centroids, n_fit))
    model = KMeans(k=n_centroids, seed=seed, featuresCol="features",
                   predictionCol="centroid_id").fit(fit_df)
    assigned = model.transform(c).select("c_id", "cv", "centroid_id")
    centroids = [
        (i, [float(x) for x in center]) for i, center in enumerate(model.clusterCenters())
    ]
    return assigned, centroids


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest centroid
    lists per query, exact cosine re-rank inside the probed lists.

    The centroid table is tiny and broadcast twice (query→centroid
    ranking, then candidate join); probe cost ∝ corpus/n_centroids ×
    nprobe instead of the full corpus. Recall < 1.0 by construction
    (nprobe/n_centroids is the knob).
    """
    from pyspark.sql import Window

    assigned, centroids = ivf_index(corpus, n_centroids, c_id, c_vec, seed)
    spark = queries.sparkSession
    cent_df = spark.createDataFrame(
        centroids, ["centroid_id", "centroid"]
    )
    q = queries.select(F.col(q_id).alias("q_id"), _as_double(F.col(q_vec)).alias("qv"))
    wq = Window.partitionBy("q_id").orderBy(
        F.col("c_dist").asc(), F.col("centroid_id").asc()
    )
    probes = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cent_df))
        .withColumn("c_dist", -dot(F.col("qv"), F.col("centroid")))
        .withColumn("c_rank", F.row_number().over(wq))
        .filter(F.col("c_rank") <= nprobe)
        .select("q_id", "qv", "centroid_id")
    )
    scored = probes.join(assigned, "centroid_id").select(
        "q_id",
        F.col("c_id"),
        F.round(cosine(F.col("qv"), F.col("cv")), ROUND).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("c_id").alias(c_id), "score", "rank")
    )


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 256,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    seed: int = 42,
    fit_sample_size: int = 100_000,
    iters: int = 10,
):
    """Train a product quantizer: split the embedding dimension into
    ``m`` subspaces and run seeded Lloyd k-means (``n_codes`` centroids)
    per subspace on a bounded, deterministic sample.

    Returns a list of ``m`` float64 ndarrays, codebooks[j] of shape
    (k_j, dsub_j) — uneven subspace widths are allowed (``array_split``).

    Scale contract (same stance as ``ivf_index``): the ONLY driver-side
    job is the ``orderBy(id).limit(fit_sample_size)`` sample collect —
    a 100 TB corpus never feeds k-means. Training is pure numpy on the
    driver (m × k × dsub work, independent of corpus size).
    """
    import numpy as np

    rows = (
        corpus.select(F.col(c_id).alias("i"), _as_double(F.col(c_vec)).alias("v"))
        .orderBy("i")
        .limit(fit_sample_size)
        .collect()
    )
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    if x.ndim != 2 or x.shape[0] == 0:
        raise ValueError("pq_train needs a non-empty fixed-dim embedding column")
    if m < 1 or m > x.shape[1]:
        raise ValueError("m must be in [1, dim]")
    rng = np.random.default_rng(seed)
    codebooks = []
    for sub in np.array_split(x, m, axis=1):
        k = min(n_codes, sub.shape[0])
        # seeded init on distinct rows; Lloyd with empty-cluster re-seed
        # to the farthest point (deterministic given the seed)
        cent = sub[rng.choice(sub.shape[0], size=k, replace=False)].copy()
        for _ in range(iters):
            d = (
                (sub * sub).sum(1)[:, None]
                - 2.0 * (sub @ cent.T)
                + (cent * cent).sum(1)[None, :]
            )
            assign = d.argmin(1)
            for j in range(k):
                mask = assign == j
                if mask.any():
                    cent[j] = sub[mask].mean(0)
                else:
                    cent[j] = sub[d.min(1).argmax()]
        codebooks.append(cent)
    return codebooks


def pq_encode(
    corpus: DataFrame,
    codebooks,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` uint8 code indices packed into ONE
    BINARY column (m bytes/vector — e.g. 8 bytes instead of a 3 KB
    float768 array; the 100 TB storage story for ANN).

    Arrow-batched ``mapInPandas``: per subspace one (B×dsub)·(dsub×k)
    GEMM + argmin. Output: (c_id, code binary).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    if any(len(cb) > 256 for cb in codebooks):
        raise ValueError("uint8 packing requires n_codes <= 256")
    cb = [np.asarray(c, dtype=np.float64) for c in codebooks]
    dims = [c.shape[1] for c in cb]
    bounds = np.cumsum([0] + dims)

    out_schema = T.StructType([
        T.StructField("c_id", corpus.schema[c_id].dataType),
        T.StructField("code", T.BinaryType()),
    ])

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["cv"]], dtype=np.float64
            )
            codes = np.empty((x.shape[0], len(cb)), dtype=np.uint8)
            for j, c in enumerate(cb):
                sub = x[:, bounds[j]:bounds[j + 1]]
                d = (
                    (sub * sub).sum(1)[:, None]
                    - 2.0 * (sub @ c.T)
                    + (c * c).sum(1)[None, :]
                )
                codes[:, j] = d.argmin(1)
            yield pd.DataFrame({
                "c_id": pdf["c_id"],
                "code": [row.tobytes() for row in codes],
            })

    c = ensure_min_parallelism(corpus).select(
        F.col(c_id).alias("c_id"), _as_double(F.col(c_vec)).alias("cv")
    )
    return c.mapInPandas(kernel, schema=out_schema).withColumnRenamed("c_id", c_id)


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks,
    k: int = 10,
    metric: str = "ip",
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    code_col: str = "code",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC) over
    PQ codes: per query, an (m × k) lookup table of partial scores
    against the codebooks, then score(code) = Σ_j LUT[j, code[j]] — the
    full vector is never touched after encoding.

    ``metric``: "ip" (inner product, higher is better; equals the exact
    dot product when quantization distortion is zero) or "l2" (squared
    distance, lower is better).

    Scale shape: the query side is collected/broadcast (it must be
    broadcastable anyway, as in ``cosine_topk``); each code
    partition computes scores with numpy gathers and keeps only its own
    top-k per query under the final total order, so the shuffle is
    bounded at partitions × |Q| × k rows, never the corpus. The global
    window over those partial winners is exact (each partition's top-k
    under a total order contains every global winner).

    Output: q_id, c_id, score (rounded), rank — deterministic
    tie-break on c_id.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import types as T

    if metric not in ("ip", "l2"):
        raise ValueError("metric must be 'ip' or 'l2'")
    cb = [np.asarray(c, dtype=np.float64) for c in codebooks]
    dims = [c.shape[1] for c in cb]
    bounds = np.cumsum([0] + dims)

    q_rows = queries.select(q_id, q_vec).collect()
    q_ids = [r[0] for r in q_rows]
    q_mat = np.asarray([[float(x) for x in r[1]] for r in q_rows], dtype=np.float64)
    if q_mat.ndim != 2 or q_mat.shape[1] != bounds[-1]:
        raise ValueError("query dim does not match the codebooks")
    # LUTs[q, j, code]: partial score of query q's subvector j vs centroid
    luts = np.zeros((len(q_ids), len(cb), max(c.shape[0] for c in cb)))
    for j, c in enumerate(cb):
        qs = q_mat[:, bounds[j]:bounds[j + 1]]
        if metric == "ip":
            luts[:, j, : c.shape[0]] = qs @ c.T
        else:
            luts[:, j, : c.shape[0]] = (
                (qs * qs).sum(1)[:, None]
                - 2.0 * (qs @ c.T)
                + (c * c).sum(1)[None, :]
            )

    bigger_better = metric == "ip"
    out_schema = T.StructType([
        T.StructField("q_id", queries.schema[q_id].dataType),
        T.StructField("c_id", codes.schema[c_id].dataType),
        T.StructField("score", T.DoubleType()),
    ])

    def kernel(batches):
        # per-PARTITION top-k per query (mapInPandas feeds all of a
        # partition's batches to one generator): bounded emit
        best: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            code_mat = np.frombuffer(
                b"".join(pdf["code"]), dtype=np.uint8
            ).reshape(len(pdf), len(cb))
            scores = np.zeros((len(q_ids), len(pdf)))
            for j in range(len(cb)):
                scores += luts[:, j, :][:, code_mat[:, j]]
            ids = pdf["c_id"].to_numpy()
            for qi in range(len(q_ids)):
                cur = best.setdefault(qi, [])
                cur.extend(zip(np.round(scores[qi], ROUND).tolist(), ids.tolist()))
                # keep the partition-local top-k under the final order
                cur.sort(key=lambda t: (-t[0], t[1]) if bigger_better else t)
                del cur[k:]
        rows = {"q_id": [], "c_id": [], "score": []}
        for qi, cur in best.items():
            for score, cid in cur:
                rows["q_id"].append(q_ids[qi])
                rows["c_id"].append(cid)
                rows["score"].append(score)
        yield pd.DataFrame(rows, columns=["q_id", "c_id", "score"])

    c = ensure_min_parallelism(codes).select(
        F.col(c_id).alias("c_id"), F.col(code_col).alias("code")
    )
    scored = c.mapInPandas(kernel, schema=out_schema)
    order = (
        [F.col("score").desc(), F.col("c_id").asc()]
        if bigger_better
        else [F.col("score").asc(), F.col("c_id").asc()]
    )
    w = Window.partitionBy("q_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("c_id").alias(c_id), "score", "rank")
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    m: int = 8,
    n_codes: int = 256,
    metric: str = "ip",
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """FAISS-style IVF+PQ: the coarse quantizer (``ivf_index``) restricts
    the search to ``nprobe`` inverted lists per query, and PQ asymmetric
    distance scores ONLY the candidate rows — neither the full corpus
    nor any full vector is touched at query time.

    Codes quantize the raw vectors (not residuals) so one LUT per query
    serves every probed list; with ``nprobe == n_centroids`` the
    candidate set is the whole corpus and results are IDENTICAL to
    ``pq_topk`` (pinned in tests — the composition adds pruning, never
    different scoring). Scale shape: probe cost ∝ corpus × nprobe /
    n_centroids rows of m-byte codes; the candidate join carries codes,
    not vectors.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import types as T

    if metric not in ("ip", "l2"):
        raise ValueError("metric must be 'ip' or 'l2'")
    assigned, centroids = ivf_index(corpus, n_centroids, c_id, c_vec, seed)
    books = pq_train(corpus, m=m, n_codes=n_codes, c_id=c_id, c_vec=c_vec,
                     seed=seed)
    codes = pq_encode(corpus, books, c_id=c_id, c_vec=c_vec)
    coded = assigned.select("c_id", "centroid_id").join(
        codes.withColumnRenamed(c_id, "c_id"), "c_id"
    )

    spark = queries.sparkSession
    cent_df = spark.createDataFrame(centroids, ["centroid_id", "centroid"])
    q = queries.select(F.col(q_id).alias("q_id"), _as_double(F.col(q_vec)).alias("qv"))
    wq = Window.partitionBy("q_id").orderBy(
        F.col("c_dist").asc(), F.col("centroid_id").asc()
    )
    # coarse probe ranks centroids by L2 (k-means cells are L2-Voronoi;
    # |q|^2 is constant per query so |c|^2 - 2 q.c suffices) — an
    # inner-product probe would favor large-norm centroids and miss the
    # query's own cell
    l2_rank = dot(F.col("centroid"), F.col("centroid")) - 2.0 * dot(
        F.col("qv"), F.col("centroid")
    )
    probes = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cent_df))
        .withColumn("c_dist", l2_rank)
        .withColumn("c_rank", F.row_number().over(wq))
        .filter(F.col("c_rank") <= nprobe)
        .select("q_id", "centroid_id")
    )

    # ADC LUTs per query, shipped in the kernel closure (query side is
    # broadcast-class by contract, as in pq_topk)
    cb = [np.asarray(c, dtype=np.float64) for c in books]
    dims = [c.shape[1] for c in cb]
    bounds = np.cumsum([0] + dims)
    q_rows = q.collect()
    q_index = {r["q_id"]: i for i, r in enumerate(q_rows)}
    q_mat = np.asarray([[float(x) for x in r["qv"]] for r in q_rows])
    luts = np.zeros((len(q_rows), len(cb), max(c.shape[0] for c in cb)))
    for j, c in enumerate(cb):
        qs = q_mat[:, bounds[j]:bounds[j + 1]]
        if metric == "ip":
            luts[:, j, : c.shape[0]] = qs @ c.T
        else:
            luts[:, j, : c.shape[0]] = (
                (qs * qs).sum(1)[:, None]
                - 2.0 * (qs @ c.T)
                + (c * c).sum(1)[None, :]
            )

    cand = F.broadcast(probes).join(coded, "centroid_id").select(
        "q_id", "c_id", "code"
    )
    out_schema = T.StructType([
        T.StructField("q_id", queries.schema[q_id].dataType),
        T.StructField("c_id", corpus.schema[c_id].dataType),
        T.StructField("score", T.DoubleType()),
    ])

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            code_mat = np.frombuffer(
                b"".join(pdf["code"]), dtype=np.uint8
            ).reshape(len(pdf), len(cb))
            qi = np.asarray([q_index[x] for x in pdf["q_id"]])
            scores = np.zeros(len(pdf))
            for j in range(len(cb)):
                scores += luts[qi, j, code_mat[:, j]]
            yield pd.DataFrame({
                "q_id": pdf["q_id"],
                "c_id": pdf["c_id"],
                "score": np.round(scores, ROUND),
            })

    scored = cand.mapInPandas(kernel, schema=out_schema)
    order = (
        [F.col("score").desc(), F.col("c_id").asc()]
        if metric == "ip"
        else [F.col("score").asc(), F.col("c_id").asc()]
    )
    w = Window.partitionBy("q_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("c_id").alias(c_id), "score", "rank")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int | None = None,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    seed: int = 42,
    exact: bool = False,
) -> DataFrame:
    """Pairs (a < b) with cosine ≥ threshold.

    exact=True does the full O(n²) self-join (oracle / small corpora);
    default uses hyperplane buckets as a candidate filter (misses pairs
    whose signatures differ — recall/cost knob is n_planes).
    """
    c = ensure_min_parallelism(corpus).select(
        F.col(c_id).alias("id"), _as_double(F.col(c_vec)).alias("v")
    )
    if not exact:
        planes = hyperplanes(
            _vector_dim(corpus, c_vec, dim), n_planes, seed=seed
        )
        c = c.withColumn("sig", signature_col(F.col("v"), planes))
        l, r = c.alias("l"), c.alias("r")
        joined = l.join(r, (F.col("l.sig") == F.col("r.sig")) & (F.col("l.id") < F.col("r.id")))
    else:
        l, r = c.alias("l"), c.alias("r")
        joined = l.join(r, F.col("l.id") < F.col("r.id"))
    return (
        joined.select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            F.round(cosine(F.col("l.v"), F.col("r.v")), ROUND).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )
