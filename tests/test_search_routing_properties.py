"""Property test: random $search compound trees — text/phrase/condition
clauses, score modifiers, nesting — produce BIT-IDENTICAL (id, score)
sets through the routed distributed path and the single-stream
interpreter oracle. Ties (equal scores) have unspecified order on both
sides, so the compare is score-sorted."""
from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_mongo_spark.backends import ParquetBackend
from duckdb_mongo_spark.mql.interpreter import run_pipeline
from duckdb_mongo_spark.scan import mongo_scan

DOCS = [
    {"_id": 1, "body": "spark engine fast data", "title": "spark intro",
     "year": 2020, "tag": "a"},
    {"_id": 2, "body": "the duck swims in a pond", "title": "nature duck",
     "year": 2018, "tag": "b"},
    {"_id": 3, "body": "spark and ducks share a pond", "title": "mixed",
     "year": 2021, "tag": "a"},
    {"_id": 4, "body": "fast rice cooking engine", "title": "kitchen",
     "year": 2019, "tag": "c"},
    {"_id": 5, "body": "spark spark engine spark", "title": "spark spark",
     "year": 2022, "tag": "b"},
    {"_id": 6, "body": None, "title": "empty body", "year": None,
     "tag": "a"},
    {"_id": 7, "body": "pond pond pond duck", "title": None, "year": 2020,
     "tag": None},
]

_WORDS = ["spark", "engine", "duck", "pond", "fast", "rice", "nothing"]
# mixed scripts: Cyrillic, Turkish (dotted/dotless i), CJK, accented
# Latin, Greek, Arabic — the multilingual corpus a training-data
# pipeline actually sees (r8: routes via the oracle-analyzer Arrow pass)
_UWORDS = ["спарк", "движок", "ördek", "göl", "日本語", "データ",
           "café", "Ελλάδα", "بيانات", "duck", "nothing"]
_PATHS = st.sampled_from(["body", "title", ["body", "title"]])
_MOD = st.one_of(
    st.none(),
    st.builds(lambda v: {"boost": {"value": v}},
              st.sampled_from([0.5, 2, 3.0])),
    st.builds(lambda v: {"constant": {"value": v}},
              st.sampled_from([4.0, 0.25])),
    # r8: doc-local score shapes — boost-by-path and the IEEE-exact
    # function subset route; parity must hold either way
    st.builds(lambda u: {"boost": {"path": "year", "undefined": u}},
              st.sampled_from([0.0, 1.5])),
    st.builds(lambda c: {"function": {"add": [
        {"multiply": [{"score": "relevance"}, {"constant": c}]},
        {"path": {"value": "year", "undefined": 0.5}}]}},
        st.sampled_from([0.5, 2.0])),
)


def _with_mod(spec, mod):
    if mod is not None:
        spec["score"] = mod
    return spec


_cond = st.one_of(
    st.builds(lambda v: {"equals": {"path": "tag", "value": v}},
              st.sampled_from(["a", "b", "zz"])),
    st.builds(lambda lo: {"range": {"path": "year", "gte": lo}},
              st.sampled_from([2019, 2021])),
    st.builds(lambda vs: {"in": {"path": "year", "value": vs}},
              st.lists(st.sampled_from([2018, 2020, 2022]),
                       min_size=1, max_size=2)),
    st.just({"exists": {"path": "year"}}),
)


def _clause_of(words):
    text = st.builds(
        lambda ws, path, mod: {"text": _with_mod(
            {"query": " ".join(ws), "path": path}, mod)},
        st.lists(st.sampled_from(words), min_size=1, max_size=3),
        _PATHS, _MOD)
    phrase = st.builds(
        lambda ws, path, slop, mod: {"phrase": _with_mod(
            {"query": " ".join(ws), "path": path, "slop": slop}, mod)},
        st.lists(st.sampled_from(words), min_size=2, max_size=2),
        _PATHS, st.sampled_from([0, 1, 2]), _MOD)
    return st.one_of(text, phrase, _cond)


def _compound(depth, words=_WORDS):
    clause = _clause_of(words)
    inner = clause if depth == 0 else st.one_of(
        clause,
        st.builds(lambda c: {"compound": c}, _compound(depth - 1, words)))
    return st.builds(
        lambda must, should, mustnot, flt, msm: {
            k: v for k, v in (
                ("must", must), ("should", should),
                ("mustNot", mustnot), ("filter", flt),
                ("minimumShouldMatch", msm if should else 0),
            ) if v
        },
        st.lists(inner, max_size=2),
        st.lists(inner, max_size=2),
        st.lists(inner, max_size=1),
        st.lists(_cond, max_size=1),
        st.sampled_from([0, 1, 2]),
    )


@pytest.fixture(scope="module")
def search_backend(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = tmp_path_factory.mktemp("searchprop")
    pq.write_table(
        pa.table({k: [d[k] for d in DOCS]
                  for k in ("_id", "body", "title", "year", "tag")}),
        str(tmp / "posts.parquet"))
    return ParquetBackend(str(tmp), db_name="main")


UDOCS = [
    {"_id": 1, "body": "спарк движок fast данные", "title": "спарк intro",
     "year": 2020, "tag": "a"},
    {"_id": 2, "body": "ördek gölde yüzüyor İstanbul", "title": "doğa ördek",
     "year": 2018, "tag": "b"},
    {"_id": 3, "body": "спарк ve ördek aynı göl 日本語", "title": "mixed",
     "year": 2021, "tag": "a"},
    {"_id": 4, "body": "日本語のデータ処理は速い café", "title": "kitchen",
     "year": 2019, "tag": "c"},
    {"_id": 5, "body": "спарк спарк движок спарк", "title": "спарк спарк",
     "year": 2022, "tag": "b"},
    {"_id": 6, "body": None, "title": "empty body", "year": None,
     "tag": "a"},
    {"_id": 7, "body": "بيانات بيانات duck Ελλάδα", "title": None,
     "year": 2020, "tag": None},
]


@pytest.fixture(scope="module")
def unicode_backend(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = tmp_path_factory.mktemp("searchuprop")
    pq.write_table(
        pa.table({k: [d[k] for d in UDOCS]
                  for k in ("_id", "body", "title", "year", "tag")}),
        str(tmp / "posts.parquet"))
    return ParquetBackend(str(tmp), db_name="main")


def _parity(spark, backend, compound):
    pipe = [{"$search": {"compound": compound}}, {"$limit": 10},
            {"$addFields": {"score": {"$meta": "searchScore"}}},
            {"$project": {"_id": 1, "score": 1}}]
    mf = mongo_scan(spark, backend, "main", "posts", pipeline=pipe)
    got = sorted((r["_id"], r["score"]) for r in mf.df().collect())
    docs = [d for d in backend.iter_documents("main", "posts")]
    exp = sorted((d["_id"], d["score"]) for d in run_pipeline(docs, pipe))
    assert got == exp, (compound, mf.last_exec_path)
    return mf


class TestRandomCompoundParity:
    @settings(max_examples=30, deadline=None)
    @given(compound=_compound(1))
    def test_routed_matches_interpreter(self, spark, search_backend,
                                        compound):
        _parity(spark, search_backend, compound)


def _single_op():
    """A top-level operator, no compound around it: any compound clause
    kind with a score modifier drawn on top (conditions get one only
    here; a text or phrase clause keeps its own when none is drawn)."""
    return st.builds(
        lambda c, mod: {op: _with_mod(dict(spec), mod)
                        for op, spec in c.items()},
        _clause_of(_WORDS), _MOD)


def _by_score(rows):
    return sorted(((r["score"], r["_id"]) for r in rows),
                  key=lambda t: (-t[0], t[1]))


class TestSingleOperatorTopK:
    """A ``$limit`` below the match count cuts the top-k, which the
    compound trees above (limit 10 over 7 documents) never do. The
    routed and interpreter top-k agree on the score list; which of the
    documents tied at the cut-off score survive is unspecified, so ids
    are compared above it."""

    @settings(max_examples=30, deadline=None)
    @given(op=_single_op())
    def test_top_k_matches_interpreter(self, spark, search_backend, op):
        docs = list(search_backend.iter_documents("main", "posts"))
        n = len(run_pipeline(docs, [{"$search": op}]))
        pipe = [{"$search": op}, {"$limit": max(1, n // 2)},
                {"$addFields": {"score": {"$meta": "searchScore"}}},
                {"$project": {"_id": 1, "score": 1}}]
        mf = mongo_scan(spark, search_backend, "main", "posts",
                        pipeline=pipe)
        got = _by_score(r.asDict() for r in mf.df().collect())
        exp = _by_score(run_pipeline(docs, pipe))
        assert [s for s, _i in got] == [s for s, _i in exp], \
            (op, mf.last_exec_path)
        if got:
            cut = got[-1][0]
            assert [i for s, i in got if s > cut] == \
                [i for s, i in exp if s > cut], (op, mf.last_exec_path)


class TestMixedScriptParity:
    """r8 done-criterion: routed-vs-interpreter BIT-IDENTICAL scores
    over a mixed-script corpus (Cyrillic/Turkish/CJK/Arabic/Greek/
    accented Latin) with mixed-script queries — the routed side's token
    columns come from the oracle's own analyzer, so parity holds by
    construction."""

    @settings(max_examples=30, deadline=None)
    @given(compound=_compound(1, words=_UWORDS))
    def test_routed_matches_interpreter(self, spark, unicode_backend,
                                        compound):
        _parity(spark, unicode_backend, compound)

    def test_multibyte_corpus_routes_not_falls_back(self, spark,
                                                    unicode_backend):
        # the whole point of r8 item #2: no interpreter fallback for
        # multilingual text — and scores still match bit-for-bit
        mf = _parity(spark, unicode_backend, {
            "must": [{"text": {"query": "спарк ördek",
                               "path": ["body", "title"]}}],
        })
        assert mf.last_exec_path == "routed:search_text"


# ---------------------------------------------------------------------------
# r10 (r9 verdict #2): random embeddedDocument trees — routed parity

EDOCS_N = 12
_EWORDS = ["apple", "pear", "banana", "pie", "tart", "nothing"]


@pytest.fixture(scope="module")
def embedded_backend(tmp_path_factory):
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(77)
    rows = []
    for i in range(EDOCS_N):
        if i % 7 == 6:
            rows.append(None)  # missing array
            continue
        els = []
        for _ in range(rng.randrange(0, 4)):
            els.append({
                "name": " ".join(rng.sample(_EWORDS[:-1],
                                            rng.randrange(1, 3))),
                "qty": rng.randrange(0, 6),
            })
        rows.append(els)
    items = pa.array(rows, type=pa.list_(pa.struct(
        [("name", pa.string()), ("qty", pa.int64())])))
    tmp = tmp_path_factory.mktemp("searcheprop")
    pq.write_table(
        pa.table({"_id": list(range(EDOCS_N)), "items": items,
                  "tag": [("a", "b", "c")[i % 3] for i in range(EDOCS_N)]}),
        str(tmp / "posts.parquet"))
    return ParquetBackend(str(tmp), db_name="main")


_e_cond = st.one_of(
    st.builds(lambda v: {"equals": {"path": "items.qty", "value": v}},
              st.sampled_from([0, 2, 5])),
    st.builds(lambda lo: {"range": {"path": "items.qty", "gte": lo}},
              st.sampled_from([1, 4])),
    st.builds(lambda vs: {"in": {"path": "items.qty", "value": vs}},
              st.lists(st.sampled_from([0, 1, 2, 3]),
                       min_size=1, max_size=2)),
    st.just({"exists": {"path": "items.name"}}),
)
_e_text = st.builds(
    lambda ws, mod: {"text": _with_mod(
        {"query": " ".join(ws), "path": "items.name"}, mod)},
    st.lists(st.sampled_from(_EWORDS), min_size=1, max_size=3),
    st.one_of(st.none(),
              st.builds(lambda v: {"boost": {"value": v}},
                        st.sampled_from([0.5, 3.0])),
              st.builds(lambda v: {"constant": {"value": v}},
                        st.sampled_from([2.0]))),
)
_e_inner = st.one_of(
    _e_text, _e_cond,
    st.builds(
        lambda must, should, mustnot, msm: {"compound": {
            k: v for k, v in (
                ("must", must), ("should", should), ("mustNot", mustnot),
                ("minimumShouldMatch", msm if should else 0),
            ) if v}},
        st.lists(st.one_of(_e_text, _e_cond), max_size=2),
        st.lists(st.one_of(_e_text, _e_cond), max_size=2),
        st.lists(_e_cond, max_size=1),
        st.sampled_from([0, 1])),
)
_e_score = st.one_of(
    st.none(),
    st.builds(
        lambda agg, outer: {"embedded": {
            k: v for k, v in (("aggregate", agg),
                              ("outerScore", outer)) if v}},
        st.sampled_from(["sum", "maximum", "minimum", "mean"]),
        st.one_of(st.none(),
                  st.builds(lambda v: {"boost": {"value": v}},
                            st.sampled_from([2.0])))),
)
_e_clause = st.builds(
    lambda inner, score: {"embeddedDocument": {
        k: v for k, v in (("path", "items"), ("operator", inner),
                          ("score", score)) if v is not None}},
    _e_inner, _e_score)


class TestRandomEmbeddedDocumentParity:
    """Random nested corpora + random embeddedDocument trees (inner
    text/cond/compound, every aggregate strategy, outerScore), both
    standalone and inside a parent compound: routed (HOF-over-array)
    scores are BIT-IDENTICAL to the interpreter's per-element oracle."""

    @settings(max_examples=25, deadline=None)
    @given(clause=_e_clause)
    def test_top_level_parity(self, spark, embedded_backend, clause):
        pipe = [{"$search": clause}, {"$limit": 15},
                {"$addFields": {"score": {"$meta": "searchScore"}}},
                {"$project": {"_id": 1, "score": 1}}]
        mf = mongo_scan(spark, embedded_backend, "main", "posts",
                        pipeline=pipe)
        got = sorted((r["_id"], r["score"]) for r in mf.df().collect())
        docs = list(embedded_backend.iter_documents("main", "posts"))
        exp = sorted((d["_id"], d["score"]) for d in run_pipeline(docs, pipe))
        assert got == exp, (clause, mf.last_exec_path)
        assert mf.last_exec_path.startswith("routed"), clause

    @settings(max_examples=15, deadline=None)
    @given(clause=_e_clause,
           sib=st.one_of(
               st.builds(lambda v: {"equals": {"path": "tag", "value": v}},
                         st.sampled_from(["a", "b"])),
               st.none()))
    def test_inside_compound_parity(self, spark, embedded_backend,
                                    clause, sib):
        compound = {"must": [clause] + ([sib] if sib else [])}
        _parity(spark, embedded_backend, compound)


# ---------------------------------------------------------------------------
# r10: index definitions × random trees — parity whether routed or not


_INDEX_DEFNS = [
    # engine-contract (routes unchanged)
    {"mappings": {"dynamic": True}},
    # explicit std strings; year/tag unmapped (conds match nothing)
    {"mappings": {"fields": {"body": {"type": "string"},
                             "title": {"type": "string"}}}},
    # custom analyzer pair over both text paths (routes via Arrow)
    {"mappings": {"dynamic": True, "fields": {
        "body": {"type": "string", "analyzer": "lucene.whitespace"},
        "title": {"type": "string", "analyzer": "lucene.whitespace"}}}},
    {"mappings": {"dynamic": True, "fields": {
        "body": {"type": "string", "analyzer": "lucene.simple"},
        "title": {"type": "string", "analyzer": "lucene.simple"}}}},
    # MIXED pairs (r11: route with per-(clause, path) terms) + token
    # coverage
    {"mappings": {"dynamic": True, "fields": {
        "body": {"type": "string", "analyzer": "lucene.keyword"},
        "title": {"type": "string"},
        "tag": {"type": "token"}}}},
    # mixed pairs with different casing behavior per path, plus a
    # per-path searchAnalyzer split
    {"mappings": {"dynamic": True, "fields": {
        "body": {"type": "string", "analyzer": "lucene.whitespace",
                 "searchAnalyzer": "lucene.simple"},
        "title": {"type": "string", "analyzer": "lucene.simple"}}}},
    # partial coverage: title unmapped (matches nothing), dynamic off
    {"mappings": {"fields": {
        "body": {"type": "string"},
        "tag": {"type": "token"},
        "year": {"type": "number"}}}},
]


def _parity_with_index(spark, backend, compound, defn):
    from duckdb_mongo_spark.mql.search_index import attach_search_index

    pipe = [{"$search": {"compound": compound}}, {"$limit": 10},
            {"$addFields": {"score": {"$meta": "searchScore"}}},
            {"$project": {"_id": 1, "score": 1}}]
    mf = mongo_scan(spark, backend, "main", "posts", pipeline=pipe,
                    search_index=defn)
    got = sorted((r["_id"], r["score"]) for r in mf.df().collect())
    docs = [d for d in backend.iter_documents("main", "posts")]
    ap = attach_search_index(pipe, defn, lambda c: [])
    exp = sorted((d["_id"], d["score"]) for d in run_pipeline(docs, ap))
    assert got == exp, (defn, compound, mf.last_exec_path)


class TestIndexDefinitionParity:
    """r10 done-criterion: under ANY index definition, routed results
    are bit-identical to the index-aware interpreter — custom analyzer
    pairs route through the oracle-fn Arrow pass, everything else
    declines to the interpreter (exact either way). The definitions
    cover the engine default, explicit/partial mappings, two custom
    pairs, and a mixed-pair decline case."""

    @settings(max_examples=36, deadline=None)
    @given(compound=_compound(1),
           defn=st.sampled_from(_INDEX_DEFNS))
    def test_routed_matches_index_aware_interpreter(
            self, spark, search_backend, compound, defn):
        _parity_with_index(spark, search_backend, compound, defn)

    @settings(max_examples=12, deadline=None)
    @given(compound=_compound(1, words=_UWORDS),
           defn=st.sampled_from(_INDEX_DEFNS[:4]))
    def test_mixed_script_with_index(self, spark, unicode_backend,
                                     compound, defn):
        _parity_with_index(spark, unicode_backend, compound, defn)

    def test_two_analyzer_text_shape_routes(self, spark, search_backend):
        # r11 done-criterion: the two-analyzer text query shape no
        # longer declines — and stays interpreter-exact (parity is
        # asserted inside _parity_with_index via the routed result)
        defn = {"mappings": {"dynamic": True, "fields": {
            "body": {"type": "string", "analyzer": "lucene.whitespace"},
            "title": {"type": "string", "analyzer": "lucene.simple"}}}}
        pipe = [{"$search": {"text": {"query": "spark Engine",
                                      "path": ["body", "title"]}}},
                {"$limit": 10},
                {"$project": {"_id": 1, "s": {"$meta": "searchScore"}}}]
        mf = mongo_scan(spark, search_backend, "main", "posts",
                        pipeline=pipe, search_index=defn)
        rows = mf.df().collect()
        assert mf.last_exec_path == "routed:search_text"
        assert rows  # simple path lowercases "Engine" -> matches

    def test_mixed_pairs_inside_compound_route(self, spark,
                                               search_backend):
        defn = {"mappings": {"dynamic": True, "fields": {
            "body": {"type": "string", "analyzer": "lucene.whitespace"},
            "title": {"type": "string"}}}}
        compound = {
            "must": [{"text": {"query": "spark", "path": "body"}}],
            "should": [
                {"text": {"query": "intro", "path": "title"}},
                {"phrase": {"query": "spark engine",
                            "path": ["body", "title"]}},
            ],
        }
        _parity_with_index(spark, search_backend, compound, defn)
        pipe = [{"$search": {"compound": compound}}, {"$limit": 10},
                {"$project": {"_id": 1}}]
        mf = mongo_scan(spark, search_backend, "main", "posts",
                        pipeline=pipe, search_index=defn)
        mf.df().collect()
        assert mf.last_exec_path == "routed:search_text"


# ---------------------------------------------------------------------------
# r11: embeddedDocument under index definitions — custom element
# analyzers and multibyte element corpora route (were interpreter-only)


_EMB_DEFNS = [
    {"mappings": {"fields": {
        "items": {"type": "embeddedDocuments", "fields": {
            "name": {"type": "string", "analyzer": "lucene.whitespace"},
            "qty": {"type": "number"}}},
        "tag": {"type": "token"}}}},
    {"mappings": {"fields": {
        "items": {"type": "embeddedDocuments", "fields": {
            "name": {"type": "string", "analyzer": "lucene.keyword"},
            "qty": {"type": "number"}}}}}},
    {"mappings": {"fields": {
        "items": {"type": "embeddedDocuments", "fields": {
            "name": {"type": "string", "analyzer": "lucene.simple",
                     "searchAnalyzer": "lucene.whitespace"},
            "qty": {"type": "number"}}}}}},
]


class TestEmbeddedUnderIndexParity:
    @settings(max_examples=18, deadline=None)
    @given(clause=_e_clause, defn=st.sampled_from(_EMB_DEFNS))
    def test_embedded_custom_analyzer_parity(self, spark,
                                             embedded_backend,
                                             clause, defn):
        from duckdb_mongo_spark.mql.search_index import attach_search_index

        pipe = [{"$search": clause}, {"$limit": 15},
                {"$addFields": {"score": {"$meta": "searchScore"}}},
                {"$project": {"_id": 1, "score": 1}}]
        mf = mongo_scan(spark, embedded_backend, "main", "posts",
                        pipeline=pipe, search_index=defn)
        got = sorted((r["_id"], r["score"]) for r in mf.df().collect())
        docs = list(embedded_backend.iter_documents("main", "posts"))
        ap = attach_search_index(pipe, defn, lambda c: [])
        exp = sorted((d["_id"], d["score"]) for d in run_pipeline(docs, ap))
        assert got == exp, (defn, clause, mf.last_exec_path)

    def test_keyword_element_analyzer_routes_discriminating(
            self, spark, embedded_backend):
        # keyword treats the WHOLE element name as one term: the
        # full-value query matches, the single word does not — the
        # routed path must reproduce that, not the standard analyzer
        from duckdb_mongo_spark.mql.search_index import attach_search_index

        defn = _EMB_DEFNS[1]
        for q, expect_rows in (("apple pear", None), ("apple", None)):
            pipe = [{"$search": {"embeddedDocument": {
                        "path": "items",
                        "operator": {"text": {"query": q,
                                              "path": "items.name"}}}}},
                    {"$limit": 15},
                    {"$project": {"_id": 1,
                                  "score": {"$meta": "searchScore"}}}]
            mf = mongo_scan(spark, embedded_backend, "main", "posts",
                            pipeline=pipe, search_index=defn)
            rows = sorted((r["_id"], r["score"])
                          for r in mf.df().collect())
            assert mf.last_exec_path == "routed:search_text"
            docs = list(embedded_backend.iter_documents("main", "posts"))
            ap = attach_search_index(pipe, defn, lambda c: [])
            exp = sorted((d["_id"], d["score"])
                         for d in run_pipeline(docs, ap))
            assert rows == exp, q

    def test_multibyte_elements_route(self, spark, tmp_path_factory):
        # r10 declined multibyte element corpora to the interpreter;
        # r11 swaps to the oracle-analyzer Arrow token columns
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = [
            [{"name": "café спарк", "qty": 1},
             {"name": "plain words", "qty": 2}],
            [{"name": "ördek göl", "qty": 3}],
            [],
            None,
            [{"name": "café café", "qty": 0}],
        ]
        items = pa.array(rows, type=pa.list_(pa.struct(
            [("name", pa.string()), ("qty", pa.int64())])))
        tmp = tmp_path_factory.mktemp("searchembmb")
        pq.write_table(
            pa.table({"_id": list(range(len(rows))), "items": items}),
            str(tmp / "posts.parquet"))
        be = ParquetBackend(str(tmp), db_name="main")
        pipe = [{"$search": {"embeddedDocument": {
                    "path": "items",
                    "operator": {"text": {"query": "café göl",
                                          "path": "items.name"}}}}},
                {"$limit": 10},
                {"$project": {"_id": 1,
                              "score": {"$meta": "searchScore"}}}]
        mf = mongo_scan(spark, be, "main", "posts", pipeline=pipe)
        got = sorted((r["_id"], r["score"]) for r in mf.df().collect())
        assert mf.last_exec_path == "routed:search_text"
        docs = list(be.iter_documents("main", "posts"))
        exp = sorted((d["_id"], d["score"]) for d in run_pipeline(docs, pipe))
        assert got == exp
        assert got  # non-vacuous
