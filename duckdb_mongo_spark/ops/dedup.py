"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Spark-first design for 100 TB:

- exact dedup = hash groupBy on the dedup key (single shuffle, map-side
  partial aggregation)
- n-gram Jaccard = explode shingles → self-join on shingle → pair
  intersection counts (no pairwise cross join; ``max_doc_freq`` drops
  stop-shingles to cap join skew, the standard big-corpus trick)
- MinHash+LSH = k slice-permutation minhashes (one md5 digest per
  shingle, four 32-bit hex slices) via explode + grouped MIN → band
  hashes → bucket join produces candidates only (sub-quadratic), then
  candidate-restricted exact-Jaccard verify over each document's
  distinct-shingle array (``array_intersect``; no exploded rows)
- duplicate clusters = min-label connected components with pointer
  jumping: labels start at each node's closed-neighbourhood min, and
  convergence is counted by an observed metric inside each round's
  lineage-cutting checkpoint, so a batch of 2-node components costs
  one round and no extra convergence job
- SimHash = per-token 16-bit md5 projections, bit-majority vote via
  explode + grouped per-bit SUMs

Execution shape: the dedup maps use explode + partial-aggregation, NOT
higher-order functions — HOF lambdas evaluate interpreted per element
(bits x tokens invocations), while exploded rows stay inside
whole-stage codegen; map-side combine bounds every shuffle at
#docs x k values regardless of token/shingle volume.

Hashes are md5-based so a DuckDB oracle reproduces values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_mongo_spark.ops.partitioning import ensure_min_parallelism

SHINGLE_WORDS = 3


def _norm_tokens(col):
    """Lowercased [a-z0-9]-run tokens, separators translated to spaces.

    Equivalent to ``split(regexp_replace(lower(c), '[^a-z0-9\\s]', ' '),
    '\\s+')`` on ASCII text (the oracle corpus is verified pure-ASCII),
    but with NO java-regex in the plan: java.util.regex measured ~65x
    slower per char under executor-thread concurrency (see
    ``ops/text.py`` module header for the stage-metrics evidence);
    the translate+literal-split form measured 17x faster end-to-end at
    sf1. On unicode text the contract differs deliberately: non-ASCII
    codepoints stay inside tokens instead of being stripped."""
    import string

    seps = string.punctuation + "\t\n\x0b\f\r"
    # empty-token drop via array_remove, not a filter lambda: HOFs are
    # CodegenFallback (interpreted per element) while array_remove is
    # codegen'd; identical output — split never yields NULL elements
    # (the one input class where the two differ). See ops/text.py r15.
    return F.array_remove(
        F.split(F.translate(F.lower(col), seps, " " * len(seps)), " ", -1),
        "",
    )


def _shingles_of_tokens(toks, n: int = SHINGLE_WORDS):
    """Distinct word n-gram shingles of an ALREADY-MATERIALIZED token
    array column.

    ``toks`` must be a plain column reference, not an expression: Spark
    evaluates a higher-order-function lambda body per element, so an
    inline token expression (regexp+split) would be recomputed for every
    shingle — the difference is ~50× on realistic documents.

    The gram itself is built with n ``element_at`` lookups concatenated
    directly, NOT ``concat_ws(slice(...))``: slice allocates an
    intermediate array per shingle inside the interpreted lambda, and
    the direct form measured 5.8× faster at sf1 (1.11 s → 0.19 s for
    the 2.6M-shingle explode) with bit-identical output.
    """
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))

    def _gram(i):
        parts = []
        for j in range(n):
            if j:
                parts.append(F.lit(" "))
            parts.append(F.element_at(toks, i + 1 + j))
        return F.concat(*parts)

    grams = F.transform(idx, _gram)
    # short docs (< n tokens): single shingle of the whole normalized text
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def shingle_array(col, n: int = SHINGLE_WORDS):
    """Distinct word n-gram shingles of the normalized text (one-shot
    column form — fine for small data / tests; hot paths should
    materialize tokens first via ``_with_shingles``)."""
    return _shingles_of_tokens(_norm_tokens(col), n)


def _with_shingles(df: DataFrame, id_col: str, text_col: str, n: int = SHINGLE_WORDS):
    """(id, __sh) projection with tokens materialized in their own
    projection step so the shingle lambda reads an attribute."""
    df = ensure_min_parallelism(df)
    toked = df.select(F.col(id_col), _norm_tokens(F.col(text_col)).alias("__toks"))
    return toked.select(
        F.col(id_col), _shingles_of_tokens(F.col("__toks"), n).alias("__sh")
    )


def exact_duplicate_groups(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Groups of exact duplicates: key cols + n_dups + representative id."""
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep one row per distinct key: the minimum id (deterministic)."""
    keep = df.groupBy(*cols).agg(F.min(id_col).alias(id_col))
    return df.join(keep, on=[*cols, id_col], how="inner")


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int = SHINGLE_WORDS) -> DataFrame:
    """(doc, shingle) rows.

    Plan-shape caveat (measured 20x): the generator must receive the
    shingle-array EXPRESSION inline over the materialized token column —
    exploding a pre-aliased array column from a separate projection step
    makes Spark re-evaluate the whole gram-construction expression per
    output row (~#shingles times per doc) instead of once per doc.
    """
    df = ensure_min_parallelism(df)
    toked = df.select(F.col(id_col), _norm_tokens(F.col(text_col)).alias("__toks"))
    return toked.select(
        F.col(id_col).alias("doc"),
        F.explode(_shingles_of_tokens(F.col("__toks"), n)).alias("shingle"),
    )


DEFAULT_MAX_DOC_FREQ = 1000


def near_dup_pairs_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n: int = SHINGLE_WORDS,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard ≥ threshold.

    Columns: a, b, inter, size_a, size_b, jaccard (rounded to 6).

    ``max_doc_freq`` caps the document frequency of shingles entering
    the self-join (stop-shingle drop): a shingle present in d documents
    contributes O(d²) join rows, so ONE hot shingle on a skewed corpus
    makes the uncapped join quadratic in corpus size. The cap is ON by
    default; pass ``max_doc_freq=None`` only for small/oracle corpora
    where exact set semantics over every shingle are required. Shingle
    SETS (doc sizes) are measured after the drop, so capped Jaccard is
    computed over the reduced universe on both sides of the ratio. For
    web-scale corpora prefer ``near_dup_pairs_minhash_lsh`` — candidate
    generation there is bucketed, never all-pairs.
    """
    sh = exploded_shingles(df, id_col, text_col, n)
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
        sh = sh.join(freq.filter(F.col("df_") <= max_doc_freq), "shingle").drop("df_")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("a"), F.col("b.doc").alias("b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    scored = (
        inter.join(sizes.select(F.col("doc").alias("a"), F.col("sz").alias("size_a")), "a")
        .join(sizes.select(F.col("doc").alias("b"), F.col("sz").alias("size_b")), "b")
        .withColumn("jaccard", _jaccard("inter", "size_a", "size_b"))
    )
    return (
        scored.filter(F.col("jaccard") >= threshold)
        .select("a", "b", "inter", "size_a", "size_b", "jaccard")
    )


def _jaccard(inter: str, size_a: str, size_b: str):
    """The rounded Jaccard score of a pair from its intersection and set
    sizes — the ONE definition of the score used by both the exact path
    and the LSH-verified path, so they cannot diverge (the
    bucketed-⊆-exact equal-scores contract depends on it)."""
    return F.round(F.col(inter) / (F.col(size_a) + F.col(size_b) - F.col(inter)), 6)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, n: int = SHINGLE_WORDS
) -> DataFrame:
    """k-permutation MinHash signature per doc.

    Permutations come in groups of four per md5 digest: digest j =
    md5(j || ':' || shingle) (j = i // 4), and permutation i takes the
    8-hex-char slice (i % 4) of its digest — a 128-bit digest yields
    four independent 32-bit hash functions, so k=4 costs ONE md5 per
    shingle instead of four (the md5 calls dominate signature cost; the
    slice trick measured ~2x end-to-end on the sf0.1 bench). The
    minhash is the lexicographic min of the hex slices (= numeric min
    of the 32-bit values; engine-portable, no native hash dependence).
    Output: id + minhash_0..minhash_{k-1}, ONE ROW PER ID — ``id_col``
    must uniquely identify a document; rows sharing an id contribute to
    a single unioned-shingle signature.

    Scale note: computed as explode + grouped MIN with map-side partial
    aggregation — shuffle volume is #docs x k minhash strings regardless
    of shingle volume, and every expression stays in whole-stage codegen
    (the per-row HOF form, ``array_min(transform(...))``, avoids the
    shuffle entirely but evaluates its lambdas interpreted per element
    and measured ~1.7x slower end-to-end).
    """
    df = ensure_min_parallelism(df)
    toked = df.select(F.col(id_col), _norm_tokens(F.col(text_col)).alias("__toks"))
    # explode the inline shingle expression — see exploded_shingles's
    # plan-shape caveat (pre-aliased array explode re-evaluates per row)
    sh = toked.select(
        F.col(id_col), F.explode(_shingles_of_tokens(F.col("__toks"), n)).alias("__s")
    )
    n_digests = (k + 3) // 4
    digested = sh.select(
        F.col(id_col),
        *[
            F.md5(F.concat(F.lit(f"{j}:"), F.col("__s"))).alias(f"__dg{j}")
            for j in range(n_digests)
        ],
    )
    # Execution-shape note: explode + grouped MIN beats the HOF
    # formulation (array_min over transform) ~1.7x end-to-end because
    # every expression here stays inside whole-stage codegen, while
    # higher-order-function lambdas evaluate interpreted per element.
    # The shuffle this reintroduces is bounded by map-side partial
    # aggregation at #docs x k minhash strings — independent of shingle
    # volume — so the trade holds at 100 TB, not just locally.
    aggs = [
        F.min(F.substring(F.col(f"__dg{i // 4}"), (i % 4) * 8 + 1, 8)).alias(
            f"minhash_{i}"
        )
        for i in range(k)
    ]
    return digested.groupBy(F.col(id_col)).agg(*aggs)


def _py_norm_tokens(text: str | None) -> list[str]:
    """Python mirror of ``_norm_tokens`` (Arrow-kernel side): lowercase,
    punctuation/control chars → space, split on single spaces, drop
    empties. Must stay byte-identical to the JVM form on ASCII text —
    ``str.split(" ")`` (not whitespace-run ``split()``) matches Spark's
    literal-space split exactly."""
    if text is None:
        return []
    return [t for t in text.lower().translate(_PY_SEP_TABLE).split(" ") if t]


def _py_shingles(toks: list[str], n: int) -> list[str]:
    """Python mirror of ``_shingles_of_tokens``: distinct word n-grams,
    or the single whole-text shingle for short docs (empty docs yield
    the "" shingle, as the JVM form does)."""
    if len(toks) >= n:
        return list({" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)})
    return [" ".join(toks)]


def _build_sep_table():
    import string

    seps = string.punctuation + "\t\n\x0b\f\r"
    return str.maketrans({c: " " for c in seps})


_PY_SEP_TABLE = _build_sep_table()


def _half_parallelism(df: DataFrame) -> int:
    """min_partitions target for Arrow-kernel inputs: cores/2. The Python
    kernels don't amplify work per input byte the way the JVM shingle
    explode does, so a scan already at half the core count isn't worth an
    extra full-text shuffle — only genuinely starved inputs (a couple of
    byte-sized splits) get repartitioned. No-op at real scale."""
    try:
        return max(1, df.sparkSession.sparkContext.defaultParallelism // 2)
    except Exception:  # noqa: BLE001 — sizing probe only
        return 1


def minhash_signatures_arrow(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, n: int = SHINGLE_WORDS
) -> DataFrame:
    """``minhash_signatures`` computed by an Arrow-batched Python kernel
    (``mapInPandas``) instead of JVM explode + grouped MIN — bit-identical
    output (same md5 digest-slice contract, same tokenizer on ASCII).

    Execution shape: the kernel emits ONE row per input row (the row's
    own k minhash slices — hashlib.md5 runs at C speed and shingle
    digests are cached across duplicate shingles within a batch, which is
    exactly where near-duplicate corpora repeat), then a grouped MIN
    merges rows sharing an id, preserving the unioned-shingle contract.
    Shuffle stays bounded at #rows × k strings; the per-shingle md5 cost
    moves from the JVM's per-expression evaluation into batched C calls.
    """
    from pyspark.sql import types as T

    # half-parallelism threshold: the Python kernel doesn't amplify work
    # per input byte the way the JVM shingle explode does, so a scan at
    # ~cores/2 partitions isn't worth an extra full-text shuffle — only
    # genuinely starved inputs (1-2 scan splits) get repartitioned
    df = ensure_min_parallelism(df, min_partitions=_half_parallelism(df))
    n_digests = (k + 3) // 4
    # the kernel surfaces RAW uint32 slice values (as longs): the grouped
    # MIN over longs matches the hex form's lexicographic min (fixed-width
    # hex of uint32 is order-isomorphic), the shuffle carries 8-byte ints
    # instead of 8-char strings, and the hex rendering happens ONCE after
    # the agg in whole-stage-codegen'd JVM (lower(lpad(hex(v)))) — the
    # previous per-row Python "%08x" loop was rows*k string formats
    # (4M at the sf10 corpus, ~2-4 core-s of pure formatting)
    out_schema = T.StructType(
        [T.StructField("__mh_id", df.schema[id_col].dataType)]
        + [T.StructField(f"__mhv_{i}", T.LongType()) for i in range(k)]
    )

    def kernel(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        md5 = hashlib.md5
        uniq: dict[str, int] = {}  # shingle -> row in dig_rows (across batches)
        dig_rows: list = []        # per unique shingle: k uint32 slice values
        for pdf in batches:
            texts = pdf[text_col]
            flat: list[int] = []
            bounds = [0]
            for text in texts:
                for s in _py_shingles(_py_norm_tokens(text), n):
                    ix = uniq.get(s)
                    if ix is None:
                        # digest j's hex slices [0:8][8:16][16:24][24:32]
                        # ARE its raw bytes [0:4][4:8][8:12][12:16] as
                        # big-endian uint32 — min over uint32 == the JVM
                        # form's lexicographic min over fixed-width hex
                        raw = b"".join(
                            md5(f"{j}:{s}".encode("utf-8")).digest()
                            for j in range(n_digests)
                        )
                        ix = len(dig_rows)
                        uniq[s] = ix
                        dig_rows.append(np.frombuffer(raw, dtype=">u4")[:k])
                    flat.append(ix)
                bounds.append(len(flat))
            dig_mat = np.asarray(dig_rows, dtype=np.uint32)
            mins = np.minimum.reduceat(
                dig_mat[np.asarray(flat, dtype=np.int64)],
                np.asarray(bounds[:-1], dtype=np.int64),
                axis=0,
            )
            if len(uniq) > 4_000_000:  # bound kernel memory on huge partitions
                uniq.clear()
                dig_rows.clear()
            out = {"__mh_id": pdf[id_col]}
            mins64 = mins.astype(np.int64)
            for i in range(k):
                out[f"__mhv_{i}"] = mins64[:, i]
            yield pd.DataFrame(out)

    per_row = df.select(id_col, text_col).mapInPandas(kernel, schema=out_schema)
    agged = per_row.groupBy(F.col("__mh_id").alias(id_col)).agg(
        *[F.min(f"__mhv_{i}").alias(f"__mhv_{i}") for i in range(k)]
    )
    return agged.select(
        id_col,
        # single-parse SQL form of lower(lpad(hex(v), 8, '0')) per slice —
        # identical expression, one py4j round trip instead of ~5 each
        *[
            F.expr(f"lower(lpad(hex(`__mhv_{i}`), 8, '0'))").alias(f"minhash_{i}")
            for i in range(k)
        ],
    )


def simhash_arrow(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """``simhash`` computed by an Arrow-batched Python kernel — identical
    output (same md5[:4] 16-bit token projection, same per-row-distinct
    token votes merged per id).

    The kernel emits per-ROW bit votes (ints) and a grouped SUM merges
    rows sharing an id before the sign threshold, so multi-row ids
    match the JVM form's explode + grouped-SUM semantics exactly.
    Token hashes are cached across rows within a batch.
    """
    from pyspark.sql import types as T

    df = ensure_min_parallelism(df, min_partitions=_half_parallelism(df))
    out_schema = T.StructType(
        [T.StructField("__sh_id", df.schema[id_col].dataType)]
        + [T.StructField(f"__v{b}", T.LongType()) for b in range(bits)]
    )

    def kernel(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        md5 = hashlib.md5
        hv_cache: dict[str, int] = {}
        for pdf in batches:
            ids: list = []
            flat: list[int] = []
            bounds = [0]
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                toks = set(_py_norm_tokens(text))
                if not toks:
                    continue  # token-less docs have no simhash (JVM parity)
                for t in toks:
                    hv = hv_cache.get(t)
                    if hv is None:
                        hv = int(md5(t.encode("utf-8")).hexdigest()[:4], 16)
                        hv_cache[t] = hv
                    flat.append(hv)
                ids.append(rid)
                bounds.append(len(flat))
            if len(hv_cache) > 4_000_000:
                hv_cache.clear()
            if ids:
                arr = np.asarray(flat, dtype=np.int64)
                b0 = np.asarray(bounds[:-1], dtype=np.int64)
                # per-bit shift-mask + reduceat: sequential passes over the
                # Ntok vector beat a (Ntok, bits) bit-table gather 2.6x warm
                # (0.026 vs 0.068 s / 465k tokens) and skip the gather's
                # ~1.1 s cold first-touch of the 4 MB table per worker
                sums = np.empty((len(b0), bits), dtype=np.int64)
                for b in range(bits):
                    sums[:, b] = np.add.reduceat((arr >> b) & 1, b0)
                counts = np.diff(np.asarray(bounds, dtype=np.int64))
                # per bit: +1 if set, -1 if clear == 2*popbit - n_tokens
                mat = 2 * sums - counts[:, None]
            else:
                mat = np.empty((0, bits), dtype=np.int64)
            out = {"__sh_id": pd.Series(ids, dtype="object")}
            for b in range(bits):
                out[f"__v{b}"] = mat[:, b]
            yield pd.DataFrame(out)

    per_row = df.select(id_col, text_col).mapInPandas(kernel, schema=out_schema)
    voted = per_row.groupBy(F.col("__sh_id").alias(id_col)).agg(
        *[F.sum(f"__v{b}").alias(f"__v{b}") for b in range(bits)]
    )
    # one parsed SQL expression instead of ~140 chained Column ops: the
    # when/otherwise fold is pure construction overhead driver-side (a
    # py4j round trip per op), and the parser yields the IDENTICAL
    # left-associated CASE-sum tree (integer adds — exact either way)
    sim = F.expr(
        "CAST(0 AS BIGINT) + " + " + ".join(
            f"CASE WHEN `__v{b}` > 0 THEN CAST({2 ** b} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END"
            for b in range(bits)
        )
    )
    return voted.select(F.col(id_col), sim.alias("simhash"))


def near_dup_pairs_minhash_lsh(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    k: int = 8,
    bands: int = 4,
    n: int = SHINGLE_WORDS,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact Jaccard verification.

    Bands of k/bands rows each; candidates = pairs sharing any band
    bucket. Verification computes exact Jaccard ONLY over candidate
    pairs: candidate (a, b) is joined to a's and to b's distinct-shingle
    array (``_with_shingles``), and the pair scores from the arrays
    alone — ``inter = size(array_intersect(sa, sb))``, ``size_a =
    size(sa)``, ``size_b = size(sb)``, then the shared rounded-Jaccard
    formula. That is two joins keyed by document, with no exploded
    shingle rows, no (b, shingle) join, no intersection groupBy and no
    size lookups. (An all-pairs shingle self-join before candidate
    restriction would defeat LSH at scale: at 100 TB the self-join
    output is O(corpus²) in hot shingles while the candidate set is
    ~linear.)

    Shuffle bound (100 TB lens): the verify joins move each candidate
    pair with its two documents' shingle arrays, i.e. O(#candidates ×
    shingle bytes per document) — linear in the candidate set, the same
    volume the exploded form moved as (pair, shingle) rows, minus the
    per-row overhead. A document in many candidate pairs is copied once
    per pair either way.
    """
    assert k % bands == 0
    rows = k // bands
    sig = minhash_signatures(df, id_col, text_col, k=k, n=n)
    band_cols = []
    for bidx in range(bands):
        parts = [F.col(f"minhash_{bidx * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(F.lit(bidx).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("bucket"))
        )
    buckets = sig.select(
        F.col(id_col).alias("doc"), F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    l, r = buckets.alias("l"), buckets.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
        .distinct()
    )
    # candidate-restricted verify: each candidate pair meets the two
    # documents' distinct-shingle arrays — never an all-pairs self-join
    sh = _with_shingles(df, id_col, text_col, n)
    scored = (
        cands.join(sh.select(F.col(id_col).alias("a"), F.col("__sh").alias("__sa")), "a")
        .join(sh.select(F.col(id_col).alias("b"), F.col("__sh").alias("__sb")), "b")
        .select(
            "a", "b",
            F.size(F.array_intersect("__sa", "__sb")).alias("inter"),
            F.size("__sa").alias("size_a"),
            F.size("__sb").alias("size_b"),
        )
    )
    return (
        scored.withColumn("jaccard", _jaccard("inter", "size_a", "size_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash over distinct normalized tokens.

    Token projection = first 4 hex chars of md5(token) → 16-bit int;
    per bit: majority vote (+1 if set, −1 if clear); simhash bit = 1
    iff vote > 0. Output: id + simhash (BIGINT). ``id_col`` must
    uniquely identify a document — rows sharing an id are unioned into
    one signature.

    Computed as exploded token rows + one grouped SUM per bit (map-side
    partial aggregation bounds the shuffle at #docs x bits longs,
    independent of token volume); the per-row HOF formulation avoids
    the shuffle but evaluates bits x tokens interpreted lambda calls
    and measured ~1.5x slower end-to-end — see the module header.
    """
    df = ensure_min_parallelism(df)
    toked = df.select(
        F.col(id_col),
        F.array_distinct(_norm_tokens(F.col(text_col))).alias("__toks"),
    ).filter(F.size("__toks") > 0)  # token-less docs have no simhash (as
    # in the unnest-based oracle)
    hv = toked.select(
        F.col(id_col), F.explode(F.col("__toks")).alias("__t")
    ).select(
        F.col(id_col),
        F.conv(F.substring(F.md5(F.col("__t")), 1, 4), 16, 10).cast("long").alias("hv"),
    )
    # Execution shape: exploded token rows + one grouped SUM per bit —
    # everything whole-stage codegen'd. The HOF formulation (aggregate
    # over the token-hash array with per-bit zip_with votes) evaluates
    # its lambdas interpreted: bits x tokens lambda invocations dominate
    # (measured ~1.5x slower end-to-end). Map-side partial aggregation
    # bounds the shuffle at #docs x bits longs — independent of token
    # volume — so the codegen'd form wins at 100 TB too.
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("hv"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"__v{b}")
        for b in range(bits)
    ]
    voted = hv.groupBy(F.col(id_col)).agg(*votes)
    sim = sum(
        [
            F.when(F.col(f"__v{b}") > 0, F.lit(2 ** b).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            for b in range(bits)
        ],
        F.lit(0).cast("long"),
    )
    return voted.select(F.col(id_col), sim.alias("simhash"))


def hamming64(a, b):
    """Hamming distance between two BIGINT hash values (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair frame.

    Input: (a, b) edges (e.g. the output of ``near_dup_pairs_jaccard`` or
    ``near_dup_pairs_minhash_lsh``). Output: one row per node appearing in
    any pair, columns ``node`` and ``cluster`` where ``cluster`` is the
    minimum node id (by the column's natural ordering) in that node's
    connected component — the canonical representative a dedup pipeline
    keeps.

    Algorithm: iterative min-label propagation with POINTER JUMPING.
    Labels start at the min of each node's closed neighbourhood
    (``least(node, min(neighbours))``, one grouped MIN over the edges) —
    the first neighbour-min step folded into initialisation, so every
    2-node component is already resolved before round one. Each round
    does (1) a neighbor-min step — every node takes the min of its label
    and its neighbors' labels (one join + partial-agg groupBy) — then
    (2) a pointer-jump — ``label(v) := label(label(v))`` (one self-join),
    which halves pointer-chain depth. Together they converge in
    O(log diameter) rounds, not O(diameter): a 10^6-long duplicate chain
    resolves in ~20 rounds. This is the standard MapReduce-CC shape
    (Kiveris et al., "Connected Components in MapReduce and Beyond" —
    star contraction; pointer jumping is the classic PRAM shortcut).

    Convergence is observed, not queried: each round carries the old
    label beside the new one, and a ``DataFrame.observe`` metric counts
    the labels that changed while the round's own ``localCheckpoint``
    runs. A round that changes no label ends the loop, so a batch of
    near-dup pairs costs one round and no separate convergence job. A
    stable round is a fixpoint: every label equals its neighbours'
    min, hence is constant on the component, and the component minimum
    keeps its own id from initialisation on.

    Scale notes (100 TB lens):
    - Per round: two shuffles (neighbor groupBy, pointer-jump join) over
      #edges and #nodes rows — no step is ever quadratic, and labels only
      decrease so late rounds shuffle mostly-stable data. The change
      count rides the round's checkpoint job as an accumulator-style
      metric (one long per task), never a join against the old labels.
    - ``localCheckpoint`` after every round cuts the lineage that would
      otherwise grow by ~4 plan levels per iteration (an iterative-loop
      requirement, not an optimization; on a real cluster with
      re-executable stages prefer ``spark.sparkContext.setCheckpointDir``
      + ``checkpoint`` for fault-tolerant truncation).
    - Near-dup components are overwhelmingly tiny (pairs of re-posts);
      the log-round bound only matters for adversarial chain graphs, but
      it costs nothing to have.
    """
    from pyspark.sql import Observation

    # materialize once: pairs is often itself an expensive pipeline (LSH
    # candidate generation + verify) and edges is re-joined every round
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).union(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    ).localCheckpoint()
    # closed-neighbourhood min: min over {self} ∪ neighbors
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("__nbmin"))
        .select("node", F.least("node", "__nbmin").alias("cluster"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # (1) neighbor-min: min label over {self} ∪ neighbors
        nb = (
            edges.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("cluster").alias("__nbmin"))
        )
        stepped = labels.join(nb, "node", "left").select(
            "node",
            F.col("cluster").alias("__old"),
            F.least("cluster", "__nbmin").alias("cluster"),
        )
        # (2) pointer jump: cluster(v) := cluster(cluster(v))
        jump = stepped.select(
            F.col("node").alias("cluster"), F.col("cluster").alias("__jmp")
        )
        new_labels = stepped.join(jump, "cluster", "left").select(
            "node", "__old", F.coalesce("__jmp", "cluster").alias("cluster")
        )
        # count changed labels inside the round's own checkpoint job
        obs = Observation()
        labels = (
            new_labels.observe(
                obs,
                F.sum(F.when(F.col("cluster") != F.col("__old"), 1).otherwise(0))
                .alias("changed"),
            )
            .select("node", "cluster")
            .localCheckpoint()
        )
        if not obs.get["changed"]:
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds "
            "(component diameter > 2^max_iter is not a realistic dedup graph)"
        )
    return labels.select("node", "cluster")


def dedup_keep_canonical(
    df: DataFrame, pairs: DataFrame, id_col: str,
    a_col: str = "a", b_col: str = "b",
) -> DataFrame:
    """Drop every near-duplicate except its component's canonical (min-id)
    member: rows never appearing in a pair survive untouched; rows in a
    duplicate component survive iff they ARE the component minimum.

    The anti-join side is #nodes-in-pairs rows (the duplicates only, not
    the corpus), so on a mostly-unique 100 TB corpus the join's build side
    is small and AQE broadcasts it.
    """
    drop = (
        duplicate_clusters(pairs, a_col=a_col, b_col=b_col)
        .filter(F.col("node") != F.col("cluster"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(drop, id_col, "left_anti")
