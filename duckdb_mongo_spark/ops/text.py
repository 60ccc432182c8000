"""Text analysis operators for document tables.

All operators are pure ``pyspark.sql.functions`` compositions (JVM-side,
whole-stage-codegen'd — no Python in the executor hot path), and each has
an exact ANSI-SQL equivalent so a DuckDB oracle can verify values.

Operators: token counting (whitespace + BPE-ish word/punct split),
quality scoring (length/punctuation/stopword/token-shape ratios),
language ID (marker-word n-gram heuristic), document fingerprinting
(normalized md5 + positional rolling sample).

The per-column functions are Column compositions; the two bundles,
``with_text_stats`` and ``with_analysis``, have one builder each, which
emits parsed SQL text (one py4j round trip per output column). Their
literals go through ``_sql_str``, which no parser conf can reinterpret.

HOT-PATH REGEX BAN (measured): ``java.util.regex`` evaluation degrades
~65x per character once multiple executor threads run it concurrently
in one JVM (sf1, local[32]: 0.9 core-sec of single-thread regex work
consumed 60+ CPU-seconds across 32 tasks — executorCpuTime, not GC or
scheduling; DuckDB's RE2 does the same pass in 0.03 s). Every operator
here therefore tokenizes via ``translate`` + literal-space ``split``:

- Whitespace ops (``token_count``, ``fingerprint``, tokenize-for-
  stopwords) are EXACTLY equivalent to the ``\\s+`` regex forms for
  every input string — java-regex ``\\s`` is precisely the six ASCII
  chars ``[ \\t\\n\\x0b\\f\\r]``, all enumerable by ``translate``.
- Class-complement ops (``[^a-z0-9\\s]``-style separators: BPE count,
  punct ratio, language-ID tokens) enumerate the 32 ASCII punctuation
  marks instead of negating a class. Byte-exact on ASCII corpora (the
  oracle corpus is verified pure-ASCII); on unicode text the contract
  differs deliberately: non-ASCII codepoints stay INSIDE tokens rather
  than being stripped. Callers needing exact unicode-class semantics at
  scale should run the RE2-vectorized Arrow kernel (pyarrow
  ``replace_substring_regex`` in a pandas UDF — measured 9x faster
  than java regex here and semantics-identical to the SQL oracles).
"""

from __future__ import annotations

import string

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from duckdb_mongo_spark.ops.partitioning import ensure_min_parallelism

# java-regex \s, exactly: the five non-space members map to ' '
_WS_TO_SPACE = "\t\n\x0b\f\r"
_PUNCT = string.punctuation                      # 32 ASCII marks (incl '_')
_PUNCT_NO_UNDERSCORE = _PUNCT.replace("_", "")   # \w keeps '_'
_DIGITS = string.digits


def _sp(n: int) -> str:
    return " " * n


def _sql_str(s: str) -> str:
    """Render a Python string as a Spark SQL string expression that
    parses to ``s`` under every parser conf: the two chars the parser's
    unescape rules touch, quote and backslash, are emitted as ``chr(39)``
    and ``chr(92)`` joined to the raw single-quoted runs by
    ``concat(...)``; every other char (controls and astral chars
    included) rides raw inside the quotes. With or without
    ``spark.sql.parser.escapedStringLiterals`` the text parses to the
    same string, and ConstantFolding folds the ``concat`` back into one
    literal, so the optimized plan is the one an escaped literal gives."""
    parts, run = [], []
    for ch in s:
        if ch in "'\\":
            if run:
                parts.append("'" + "".join(run) + "'")
                run = []
            parts.append(f"chr({ord(ch)})")
        else:
            run.append(ch)
    if run or not parts:
        parts.append("'" + "".join(run) + "'")
    return parts[0] if len(parts) == 1 else "concat(" + ", ".join(parts) + ")"


def _sql_name(c: str) -> str:
    """Backtick-quote a column name for SQL-text expressions."""
    return "`" + c.replace("`", "``") + "`"


def _ws_tokens_text(c_sql: str) -> str:
    """SQL text of ``ws_tokens`` over an already-rendered operand —
    the parser yields the identical expression tree in ONE py4j round
    trip where the Column composition pays one per operator (the
    construction-cost rationale for every ``*_text`` helper here)."""
    ws, sp = _sql_str(_WS_TO_SPACE), _sql_str(_sp(len(_WS_TO_SPACE)))
    return (f"array_remove(split(translate({c_sql}, {ws}, {sp}), "
            "' ', -1), '')")


def ws_tokens(col) -> Column:
    """Whitespace tokens — EXACT equivalent of
    ``filter(split(c, '\\s+'), x -> x <> '')`` for every input (see
    module header), with no java-regex in the plan.

    r15: the empty-token drop is ``array_remove(arr, '')``, not a
    ``filter`` lambda — higher-order functions are CodegenFallback
    (interpreted per element) while array_remove participates in
    whole-stage codegen; identical output because split never yields
    NULL elements (the one input class where the two differ). Measured
    −16% on the isolated tokenize shape, −7% on the full analysis
    bundle at sf10 (4/5 interleaved pairs, both scales)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(
        F.split(F.translate(c, _WS_TO_SPACE, _sp(len(_WS_TO_SPACE))), " ", -1),
        "",
    )

# BPE-ish tokenization: word pieces OR single punctuation marks
BPE_TOKEN_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

STOPWORDS_EN = [
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are",
]

# marker words per language for the n-gram language-ID heuristic;
# deliberately tiny and deterministic so the SQL oracle can mirror it
LANG_MARKERS = {
    "en": ["the", "and", "is", "of", "to"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "los", "es", "de"],
}


def token_count(col) -> Column:
    """Whitespace token count (empty tokens excluded)."""
    return F.size(ws_tokens(col))


def _strip_non_alpha(tok) -> Column:
    """ASCII form of ``regexp_replace(t, '[^a-z]', '')`` for a token that
    came out of a whitespace split of lowercased text (so the only
    possible non-[a-z] ASCII chars are digits and punctuation)."""
    drop = _DIGITS + _PUNCT
    return F.translate(tok, drop, "")


def bpe_token_count(col) -> Column:
    """BPE-ish token count: word-piece runs + individual punctuation
    marks — the count ``regexp_extract_all(BPE_TOKEN_RE)`` would give on
    ASCII text, computed without java-regex (module header): word runs =
    non-empty splits after translating punctuation-except-underscore and
    whitespace to spaces; marks = chars removed by translating them out."""
    c = F.col(col) if isinstance(col, str) else col
    seps = _PUNCT_NO_UNDERSCORE + _WS_TO_SPACE
    word_runs = F.size(
        F.array_remove(F.split(F.translate(c, seps, _sp(len(seps))),
                               " ", -1), "")
    )
    n_marks = F.length(c) - F.length(F.translate(c, _PUNCT_NO_UNDERSCORE, ""))
    return word_runs + n_marks


def punct_ratio(col) -> Column:
    """Fraction of chars that are punctuation marks (``[^\\w\\s]`` on
    ASCII = the 31 non-underscore ASCII marks, enumerated)."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.translate(c, _PUNCT_NO_UNDERSCORE, ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def stopword_ratio(col, stopwords: list[str] | None = None) -> Column:
    """Fraction of whitespace tokens that are (lowercased) stopwords."""
    c = F.col(col) if isinstance(col, str) else col
    sw = F.array(*[F.lit(w) for w in (stopwords or STOPWORDS_EN)])
    toks = ws_tokens(F.lower(c))
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, _strip_non_alpha(t))))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def with_text_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """Adds n_tokens, n_bpe_tokens, punct_ratio, stopword_ratio,
    avg_token_len.

    The token array is materialized ONCE as a real column before any
    higher-order function touches it: Spark evaluates HOF lambda bodies
    per element, so an inline split/regexp expression inside a lambda
    would be recomputed per token (~10-50× slowdown on real documents).

    The expressions are built as parsed SQL text — one py4j round trip
    each instead of one per Column operator (~1900 per build for the full
    analysis bundle, ~0.1 s of pure driver-side construction). Literals
    go through ``_sql_str``, so every parser conf yields the same tree."""
    df = ensure_min_parallelism(df)
    base = list(df.columns)
    c_sql = _sql_name(col)
    toked = df.select(*base, F.expr(_ws_tokens_text(c_sql)).alias("__toks"))
    seps = _PUNCT_NO_UNDERSCORE + _WS_TO_SPACE
    word_runs = (
        f"size(array_remove(split(translate({c_sql}, {_sql_str(seps)}, "
        f"{_sql_str(_sp(len(seps)))}), ' ', -1), ''))"
    )
    n_marks = (f"(length({c_sql}) - length(translate({c_sql}, "
               f"{_sql_str(_PUNCT_NO_UNDERSCORE)}, '')))")
    sw_arr = "array(" + ", ".join(_sql_str(w) for w in STOPWORDS_EN) + ")"
    drop = _sql_str(_DIGITS + _PUNCT)
    return toked.select(
        *base,
        F.expr("size(`__toks`)").alias("n_tokens"),
        F.expr(f"{word_runs} + {n_marks}").alias("n_bpe_tokens"),
        F.expr(
            f"CASE WHEN length({c_sql}) > 0 THEN {n_marks} / "
            f"length({c_sql}) ELSE 0.0D END"
        ).alias("punct_ratio"),
        F.expr(
            "CASE WHEN size(`__toks`) > 0 THEN "
            "size(filter(transform(`__toks`, x -> lower(x)), "
            f"t -> array_contains({sw_arr}, translate(t, {drop}, '')))) "
            "/ size(`__toks`) ELSE 0.0D END"
        ).alias("stopword_ratio"),
        # r15: sum-of-token-lengths as length(concat_ws('', toks)) — a
        # codegen'd expression where the aggregate() HOF evaluated its
        # lambda interpreted per token; identical value (no NULL
        # elements exist, so concat_ws skips nothing)
        F.expr(
            "CASE WHEN size(`__toks`) > 0 THEN "
            "CAST(length(concat_ws('', `__toks`)) AS BIGINT) "
            "/ size(`__toks`) ELSE 0.0D END"
        ).alias("avg_token_len"),
    )


def quality_score(col) -> Column:
    """Deterministic [0,1] quality score from cheap surface statistics.

    score = 0.3*len_score + 0.3*(1-punct_excess) + 0.4*stopword_presence
    — the shape of C4/Gopher-style heuristic filters, exactly
    reproducible in SQL.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    p = punct_ratio(c)
    punct_score = F.lit(1.0) - F.least(p * 5.0, F.lit(1.0))
    sw = stopword_ratio(c)
    sw_score = F.least(sw * 4.0, F.lit(1.0))
    return F.round(0.3 * len_score + 0.3 * punct_score + 0.4 * sw_score, 6)


def _lang_marker_counts(toks) -> dict:
    """Per-language marker-hit counts over a MATERIALIZED lowercase
    token array column."""
    return {
        lang: F.size(
            F.filter(toks, lambda t: F.array_contains(F.array(*[F.lit(m) for m in markers]), t))
        )
        for lang, markers in LANG_MARKERS.items()
    }


def _language_id_from_counts(counts: dict) -> Column:
    """argmax over per-language marker counts (dict of Columns); ties
    broken by language code order; 'und' when nothing matches.

    r14 (guide §4.1/§7.2): callers on hot paths should materialize the
    counts as real columns first — each HOF lambda instance carries
    fresh variable exprIds, so codegen subexpression elimination cannot
    unify the repeated count subtrees, and the inline form evaluates
    every count ~(2 + n_langs × n_langs-in-greatest) times per row."""
    langs = sorted(LANG_MARKERS)  # deterministic tie order
    best_count = F.greatest(*[counts[l] for l in langs])
    out = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties (applied last)
        out = F.when((counts[lang] > 0) & (counts[lang] == best_count), F.lit(lang)).otherwise(out)
    return out


def _lang_tokens(col) -> Column:
    """Lowercase letter-run tokens (``[^a-z\\s]`` separators on ASCII =
    digits + punctuation, enumerated — see module header)."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    seps = _DIGITS + _PUNCT + _WS_TO_SPACE
    return F.array_remove(
        F.split(F.translate(c, seps, _sp(len(seps))), " ", -1), "")


def language_id(col) -> Column:
    """Marker-word language ID (one-shot column form; hot paths should
    materialize the token array and count markers over it once, as
    ``with_analysis`` does)."""
    return _language_id_from_counts(_lang_marker_counts(_lang_tokens(col)))


def fingerprint(col) -> Column:
    """Document fingerprint: md5 over lowercase whitespace-normalized
    text. ``concat_ws(' ', ws_tokens(..))`` is EXACTLY
    ``trim(regexp_replace(c, '\\s+', ' '))`` for every input — interior
    runs collapse to one space, boundary whitespace drops."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.concat_ws(" ", ws_tokens(F.lower(c))))


def with_analysis(df: DataFrame, col: str = "text") -> DataFrame:
    """Full text-analysis bundle: stats + quality + language + fingerprint.

    quality is derived from the already-computed ratio columns (one
    evaluation per ratio — keeps the codegen'd expression tree small).
    Built as parsed SQL text, like ``with_text_stats``, with the
    arithmetic of the column functions above (``quality_score``,
    ``language_id``, ``fingerprint``); tests/test_ops.py holds it to the
    DuckDB templates below."""
    out = with_text_stats(df, col)
    c_sql = _sql_name(col)
    # identical arithmetic (and operator order) to ``quality_score``:
    # ((0.3*len_score + 0.3*punct_score) + 0.4*sw_score), all doubles
    quality = (
        f"round(0.3D * least(length({c_sql}) / 500.0D, 1.0D) + "
        "0.3D * (1.0D - least(`punct_ratio` * 5.0D, 1.0D)) + "
        "0.4D * least(`stopword_ratio` * 4.0D, 1.0D), 6)"
    )
    seps = _DIGITS + _PUNCT + _WS_TO_SPACE
    lt = (
        f"array_remove(split(translate(lower({c_sql}), {_sql_str(seps)}, "
        f"{_sql_str(_sp(len(seps)))}), ' ', -1), '')"
    )
    stats = list(out.columns)
    with_lt = out.select(
        *stats, F.expr(quality).alias("quality"), F.expr(lt).alias("__lt"))
    # r14: materialize each language's marker count ONCE as a column —
    # distinct lambda exprIds defeat codegen subexpression elimination,
    # so the inline argmax re-evaluated every count ~6x per row
    # (plan-visible as repeated filter(...) trees under greatest())
    langs = sorted(LANG_MARKERS)
    counts = {
        lang: ("size(filter(`__lt`, t -> array_contains(array("
               + ", ".join(_sql_str(m) for m in LANG_MARKERS[lang])
               + "), t)))")
        for lang in langs
    }
    fp = f"md5(concat_ws(' ', {_ws_tokens_text(f'lower({c_sql})')}))"
    with_counts = with_lt.select(
        *stats,
        "quality",
        *[F.expr(counts[l]).alias(f"__lc_{l}") for l in langs],
        F.expr(fp).alias("fingerprint"),
    )
    # flat CASE == the nested when/otherwise argmax: first match wins in
    # language-code order, 'und' when no marker hit
    best = "greatest(" + ", ".join(f"`__lc_{l}`" for l in langs) + ")"
    whens = " ".join(
        f"WHEN `__lc_{l}` > 0 AND `__lc_{l}` = {best} THEN '{l}'"
        for l in langs
    )
    return with_counts.select(
        *stats,
        "quality",
        F.expr(f"CASE {whens} ELSE 'und' END").alias("lang_id"),
        "fingerprint",
    )


# --- SQL oracle templates (DuckDB dialect) ---------------------------------

def token_count_sql(col: str = "text") -> str:
    return (
        f"len(list_filter(string_split_regex({col}, '\\s+'), x -> x <> ''))"
    )


def bpe_token_count_sql(col: str = "text") -> str:
    return f"len(regexp_extract_all({col}, '{BPE_TOKEN_RE}'))"


def punct_ratio_sql(col: str = "text") -> str:
    return (
        f"CASE WHEN length({col}) > 0 THEN "
        f"(length({col}) - length(regexp_replace({col}, '[^\\w\\s]', '', 'g')))"
        f" / CAST(length({col}) AS DOUBLE) ELSE 0.0 END"
    )


def stopword_ratio_sql(col: str = "text", stopwords: list[str] | None = None) -> str:
    sw = ", ".join(f"'{w}'" for w in (stopwords or STOPWORDS_EN))
    toks = f"list_filter(string_split_regex(lower({col}), '\\s+'), x -> x <> '')"
    hits = (
        f"len(list_filter({toks}, t -> list_contains([{sw}], "
        f"regexp_replace(t, '[^a-z]', '', 'g'))))"
    )
    return (
        f"CASE WHEN len({toks}) > 0 THEN {hits} / CAST(len({toks}) AS DOUBLE) "
        f"ELSE 0.0 END"
    )


def quality_score_sql(col: str = "text") -> str:
    len_score = f"least(length({col}) / 500.0, 1.0)"
    punct_score = f"(1.0 - least(({punct_ratio_sql(col)}) * 5.0, 1.0))"
    sw_score = f"least(({stopword_ratio_sql(col)}) * 4.0, 1.0)"
    return f"round(0.3*{len_score} + 0.3*{punct_score} + 0.4*{sw_score}, 6)"


def language_id_sql(col: str = "text") -> str:
    toks = (
        f"list_filter(string_split_regex("
        f"regexp_replace(lower({col}), '[^a-z\\s]', ' ', 'g'), '\\s+'), x -> x <> '')"
    )
    counts = {}
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        counts[lang] = f"len(list_filter({toks}, t -> list_contains([{lst}], t)))"
    langs = sorted(LANG_MARKERS)
    greatest = "greatest(" + ", ".join(counts[l] for l in langs) + ")"
    whens = " ".join(
        f"WHEN {counts[l]} > 0 AND {counts[l]} = {greatest} THEN '{l}'" for l in langs
    )
    return f"CASE {whens} ELSE 'und' END"


def fingerprint_sql(col: str = "text") -> str:
    return f"md5(trim(regexp_replace(lower({col}), '\\s+', ' ', 'g')))"
