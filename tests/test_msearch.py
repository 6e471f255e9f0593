"""msearch (batched multi-query) must be result-identical to per-query
search. Reference: `_msearch` executes each request with identical
semantics to `_search` (TransportMultiSearchAction.java)."""

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from opensearch_spark.index.build import build_index
from opensearch_spark.search import dsl as dsl_mod
from opensearch_spark.search.engine import SearchEngine
from opensearch_spark.testing import brute
from opensearch_spark.testing.corpus import generate_corpus

K = 10

BATCH = [
    {"match": {"content": "def return import"}},
    {"match": {"content": {"query": "data load parse", "operator": "and"}}},
    {"match": {"content": {"query": "class import yield self", "minimum_should_match": 2}}},
    {"match_phrase": {"content": "public static"}},
    {"match_phrase": {"content": "return self"}},
    {
        "bool": {
            "must": [{"match": {"content": "class"}}],
            "should": [{"match": {"content": "import"}}, {"match": {"content": "yield"}}],
        }
    },
    {
        "bool": {
            "must": [{"match": {"content": "def"}}],
            "must_not": [{"match": {"content": "class"}}],
        }
    },
    {
        "bool": {
            "must": [{"match_phrase": {"content": "def main"}}],
            "filter": [{"match": {"content": "import"}}],
        }
    },
    {"match": {"content": "zzz_not_a_term"}},
    {"match": {"content": "def zzz_not_a_term"}},
    # fallback family (not match/phrase/bool-of-those):
    {"prefix": {"content": "ret"}},
    {"query_string": {"query": "def AND return", "default_field": "content"}},
]


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    pdf = generate_corpus(600, seed=11)
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("msix") / "index")
    build_index(spark, corpus, out, n_segments=4, shuffle_partitions=8)
    return SearchEngine(spark, out, corpus=corpus, cache=True)


def test_msearch_matches_per_query_search(eng):
    got = eng.msearch(BATCH, k=K).collect()
    by_qid = {}
    for r in got:
        by_qid.setdefault(int(r["qid"]), []).append(
            (int(r["docId"]), round(float(r["score"]), 9))
        )
    n_nonempty = 0
    for qid, q in enumerate(BATCH):
        want = [
            (int(r["docId"]), round(float(r["score"]), 9))
            for r in eng.search(q, k=K).collect()
        ]
        assert by_qid.get(qid, []) == want, f"qid {qid} mismatch: {q}"
        if want:
            n_nonempty += 1
    assert n_nonempty >= 9  # the batch isn't trivially empty


def test_msearch_single_job_plan(eng):
    """The hot-path queries must compile into ONE applyInPandas stage:
    no per-query postings scans."""
    hot = [q for q in BATCH[:8]]
    df = eng.msearch(hot, k=K)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one FlatMapGroupsInPandas for the whole batch
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_msearch_empty_batch(eng):
    assert eng.msearch([], k=K).count() == 0


def test_msearch_plan_cache_and_many(eng):
    """Identical batches return the SAME compiled DataFrame (Catalyst
    analysis paid once); msearch_many pipelines batches and matches the
    sequential results exactly."""
    batch = BATCH[:6]
    d1 = eng.msearch(batch, k=K)
    d2 = eng.msearch(batch, k=K)
    assert d1 is d2  # plan-cache hit
    assert eng.msearch(batch, k=K + 1) is not d1  # k is part of the key

    want = [(int(r["qid"]), int(r["docId"]), round(float(r["score"]), 6))
            for r in d1.collect()]
    many = eng.msearch_many([batch, batch, batch], k=K, max_concurrent=3)
    assert len(many) == 3
    for rows in many:
        got = [(int(r["qid"]), int(r["docId"]), round(float(r["score"]), 6))
               for r in rows]
        assert got == want


def test_search_hot_query_plan_cache(eng):
    """Repeated identical search() returns the same compiled DataFrame
    (request-cache analog); a delete invalidates it and results drop the
    tombstoned doc."""
    q = {"match": {"content": "def return"}}
    d1 = eng.search(q, k=7)
    assert eng.search(q, k=7) is d1
    assert eng.search(q, k=8) is not d1
    rows = d1.collect()
    victim = int(rows[0]["docId"])
    eng.delete([victim])
    try:
        d2 = eng.search(q, k=7)
        assert d2 is not d1
        assert victim not in [int(r["docId"]) for r in d2.collect()]
    finally:
        # leave the module fixture clean for other tests
        import glob, os as _os

        for f in glob.glob(_os.path.join(eng._deletes_dir, "*.parquet")):
            _os.remove(f)
        eng._load_deletes()
        eng._plan_cache.clear()


# ---- differential: every serving path against the brute oracle -------------

_TERMS = ["def", "return", "import", "class", "self", "yield", "public",
          "static", "void", "data", "load", "parse", "zzz_not_a_term"]
_PHRASES = ["def main", "public static", "return self", "static void",
            "for i in range", "import numpy", "def zzz_not_a_term", "return"]


@st.composite
def _match_leaf(draw):
    spec = {"query": " ".join(draw(st.lists(st.sampled_from(_TERMS),
                                            min_size=1, max_size=3))),
            "boost": draw(st.sampled_from([1.0, 2.0]))}
    mode = draw(st.sampled_from(["or", "and", "msm"]))
    if mode == "and":
        spec["operator"] = "and"
    elif mode == "msm":
        spec["minimum_should_match"] = 2
    return {"match": {"content": spec}}


@st.composite
def _phrase_leaf(draw):
    return {"match_phrase": {"content": {
        "query": draw(st.sampled_from(_PHRASES)),
        "slop": draw(st.sampled_from([0, 1])),
        "boost": draw(st.sampled_from([1.0, 2.0])),
    }}}


_LEAF = st.one_of(_match_leaf(), _phrase_leaf())


@st.composite
def _query(draw):
    if draw(st.booleans()):
        return draw(_LEAF)
    body = {occ: draw(st.lists(_LEAF, max_size=n))
            for occ, n in (("must", 2), ("filter", 1), ("should", 3),
                           ("must_not", 1))}
    if not (body["must"] or body["filter"] or body["should"]):
        body["should"] = [draw(_LEAF)]
    body = {occ: cs for occ, cs in body.items() if cs}
    msm = draw(st.sampled_from([None, 1, 2]))
    if msm is not None:
        body["minimum_should_match"] = msm
    return {"bool": body}


def _oracle(bix, q):
    if "bool" in q:
        b = q["bool"]
        return brute.bool_query(
            bix, must=[_oracle(bix, c) for c in b.get("must", [])],
            filt=[_oracle(bix, c) for c in b.get("filter", [])],
            should=[_oracle(bix, c) for c in b.get("should", [])],
            must_not=[_oracle(bix, c) for c in b.get("must_not", [])],
            msm=b.get("minimum_should_match"),
        )
    if "match" in q:
        s = q["match"]["content"]
        return brute.match(bix, s["query"], s.get("operator", "or"),
                           s.get("minimum_should_match", 0), s["boost"])
    s = q["match_phrase"]["content"]
    if s["slop"]:
        return brute.sloppy_phrase(bix, s["query"], s["slop"], s["boost"])
    return brute.phrase(bix, s["query"], s["boost"])


@pytest.fixture(scope="module")
def brute_ix(eng):
    rows = eng.corpus.select("docId", "content").collect()
    return brute.build_from_texts({int(r["docId"]): r["content"] for r in rows})


def _pairs(rows):
    return [(int(r["docId"]), float(r["score"])) for r in rows]


def _check_serving_paths(eng, brute_ix, queries):
    by_qid = {}
    for r in eng.msearch(queries, k=K).collect():
        by_qid.setdefault(int(r["qid"]), []).append(r)
    for qid, q in enumerate(queries):
        scores = _oracle(brute_ix, q)
        want = brute.topk(scores, K)
        got = _pairs(eng.search(q, k=K).collect())
        assert brute.rank_identical(got, want, 1e-6), (q, got, want)
        top = (eng.compile(dsl_mod.parse(q))
               .orderBy(F.desc("score"), F.asc("docId")).limit(K))
        assert brute.rank_identical(_pairs(top.collect()), want, 1e-6), q
        assert brute.rank_identical(_pairs(by_qid.get(qid, [])), want, 1e-6), q
        assert eng.count(q) == len(scores), q


_DEF = {"match": {"content": {"query": "def", "boost": 1.0}}}
_RETURN = {"match": {"content": {"query": "return", "boost": 1.0}}}
_MISSING = {"match": {"content": {"query": "zzz_not_a_term", "boost": 1.0}}}


@settings(max_examples=25, derandomize=True, deadline=None, database=None)
@given(queries=st.lists(_query(), min_size=1, max_size=2))
# minimum_should_match on a bool with no should clause is ignored
@example(queries=[{"bool": {"must": [_DEF, _RETURN],
                            "minimum_should_match": 1}}])
def test_serving_paths_match_oracle(eng, brute_ix, queries):
    """search(k), compile() top-k, msearch per-qid rows and count() all
    agree with the brute-force oracle on generated match / phrase / bool
    queries (ties broken by docId, scores within 1e-6)."""
    _check_serving_paths(eng, brute_ix, queries)


def test_should_clause_on_missing_term_counts_toward_msm(eng, brute_ix):
    """A should clause whose terms are not in the index can never match,
    but still counts toward minimum_should_match: the bool matches
    nothing, on every serving path."""
    q = {"bool": {"must": [_DEF], "should": [_MISSING],
                  "minimum_should_match": 1}}
    assert _oracle(brute_ix, q) == {}
    _check_serving_paths(eng, brute_ix, [q])


# ---- field routing: a leaf is scored against its own field's postings ------

@pytest.fixture(scope="module")
def two_field_index(spark, tmp_path_factory):
    rows = [(0, "alpha beta shared gamma", "shared note"),
            (1, "alpha plain text here", "other note"),
            (2, "unrelated content words", "shared thing")]
    corpus = spark.createDataFrame(rows, "doc_id long, text string, tag string")
    root = tmp_path_factory.mktemp("fields")
    dirs = {f: str(root / f) for f in ("text", "tag")}
    for f, d in dirs.items():
        build_index(spark, corpus, d, text_col=f, doc_id_col="doc_id",
                    n_segments=2)
    return corpus, rows, dirs


TAG_BOOL = {"bool": {"must": [{"match": {"tag": "shared"}}],
                     "should": [{"match": {"tag": "note"}}]}}


def test_other_field_leaf_is_rejected_on_single_field_engine(spark, two_field_index):
    corpus, _, dirs = two_field_index
    eng = SearchEngine(spark, dirs["text"], corpus=corpus, text_field="text",
                       doc_id_col="doc_id")
    with pytest.raises(ValueError, match="non-indexed field 'tag'"):
        eng.compile(dsl_mod.parse(TAG_BOOL))
    with pytest.raises(ValueError, match="non-indexed field 'tag'"):
        eng.search(TAG_BOOL, k=K).collect()
    with pytest.raises(ValueError, match="non-indexed field 'tag'"):
        eng.msearch([TAG_BOOL], k=K).collect()


def test_other_field_leaf_is_routed_on_multi_field_engine(spark, two_field_index):
    from opensearch_spark.search.engine import MultiFieldEngine

    corpus, rows, dirs = two_field_index
    eng = MultiFieldEngine(spark, dirs, corpus=corpus, doc_id_col="doc_id")
    bix = brute.build_from_texts({d: tag for d, _, tag in rows})
    want = brute.topk(brute.bool_query(
        bix, must=[brute.match(bix, "shared")],
        should=[brute.match(bix, "note")]), K)
    assert [d for d, _ in want] == [0, 2]
    assert brute.rank_identical(_pairs(eng.search(TAG_BOOL, k=K).collect()),
                                want, 1e-6)
    assert brute.rank_identical(
        _pairs(eng.msearch([TAG_BOOL], k=K).collect()), want, 1e-6)
    assert eng.count({"match": {"tag": "shared"}}) == 2
