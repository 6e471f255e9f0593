"""Brute-force BM25 oracle (pure Python/NumPy) for rank-identity tests.

Independent implementation of the exact same scoring contract as the
engine (Lucene BM25 with LegacyBM25's (k1+1) factor, byte4-quantized doc
lengths, global IDF over docs-with-field). Deliberately written doc-at-a-
time over plain dicts so a bug in the engine's vectorized/compressed path
cannot be mirrored here.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Dict, List, Sequence, Tuple

from opensearch_spark.analysis.analyzer import tokenize
from opensearch_spark.analysis.smallfloat import quantize_length

K1 = 1.2
B = 0.75


@dataclass
class BruteIndex:
    tokens: Dict[int, List[str]]      # docId -> token list
    dl_q: Dict[int, int]
    df: Dict[str, int]
    doc_count: int                    # docs with >=1 token
    avgdl: float
    all_doc_ids: List[int]


def build(doc_tokens: Dict[int, List[str]]) -> BruteIndex:
    df: Dict[str, int] = {}
    total_tf = 0
    with_field = 0
    dl_q = {}
    for d, toks in doc_tokens.items():
        dl_q[d] = quantize_length(len(toks))
        if toks:
            with_field += 1
            total_tf += len(toks)
            for t in set(toks):
                df[t] = df.get(t, 0) + 1
    avgdl = total_tf / with_field if with_field else 1.0
    return BruteIndex(doc_tokens, dl_q, df, with_field, avgdl, sorted(doc_tokens))


def build_from_texts(docs: Dict[int, str]) -> BruteIndex:
    return build({d: tokenize(t or "") for d, t in docs.items()})


def idf(ix: BruteIndex, term: str) -> float:
    n = ix.df.get(term, 0)
    return math.log(1.0 + (ix.doc_count - n + 0.5) / (n + 0.5))


def _term_score(ix: BruteIndex, term: str, d: int, boost: float = 1.0) -> float:
    tf = ix.tokens[d].count(term)
    if tf == 0:
        return 0.0
    dl = ix.dl_q[d]
    return boost * idf(ix, term) * (K1 + 1.0) * tf / (tf + K1 * (1 - B + B * dl / ix.avgdl))


def match(ix: BruteIndex, query: str, operator: str = "or",
          msm: int = 0, boost: float = 1.0) -> Dict[int, float]:
    terms = tokenize(query)
    present = [t for t in terms if t in ix.df]
    if not present:
        return {}
    if operator == "and" and len(set(present)) < len(set(terms)):
        return {}
    out: Dict[int, float] = {}
    for d in ix.all_doc_ids:
        toks = ix.tokens[d]
        matched = {t for t in set(present) if t in toks}
        if not matched:
            continue
        if operator == "and" and matched != set(present):
            continue
        if msm > 1 and len(matched) < msm:
            continue
        out[d] = boost * sum(_term_score(ix, t, d) for t in set(present))
    return out


def phrase(ix: BruteIndex, query: str, boost: float = 1.0) -> Dict[int, float]:
    terms = tokenize(query)
    if not terms:
        return {}
    if any(t not in ix.df for t in terms):
        return {}
    if len(terms) == 1:
        return match(ix, query, boost=boost)
    isum = sum(idf(ix, t) for t in terms)
    out: Dict[int, float] = {}
    for d in ix.all_doc_ids:
        toks = ix.tokens[d]
        pf = 0
        for s in range(len(toks) - len(terms) + 1):
            if toks[s : s + len(terms)] == terms:
                pf += 1
        if pf:
            dl = ix.dl_q[d]
            out[d] = boost * isum * (K1 + 1.0) * pf / (pf + K1 * (1 - B + B * dl / ix.avgdl))
    return out


def sloppy_phrase(ix: BruteIndex, query: str, slop: int,
                  boost: float = 1.0) -> Dict[int, float]:
    """slop > 0 phrase, doc at a time. The phrase frequency is Lucene's
    SloppyPhraseMatcher walk over each doc's offset-adjusted positions —
    the per-doc reference walk (bm25._lucene_sloppy_walk[_rpt]) that the
    engine's vectorized form is property-tested against."""
    from opensearch_spark.search.bm25 import (
        _lucene_sloppy_walk, _lucene_sloppy_walk_rpt, _repeat_groups,
    )

    terms = tokenize(query)
    if not terms or any(t not in ix.df for t in terms):
        return {}
    if len(terms) == 1:
        return match(ix, query, boost=boost)
    rpt = _repeat_groups(terms)
    isum = sum(idf(ix, t) for t in terms)
    out: Dict[int, float] = {}
    for d in ix.all_doc_ids:
        toks = ix.tokens[d]
        pls = [[p - off for p, tok in enumerate(toks) if tok == t]
               for off, t in enumerate(terms)]
        if not all(pls):
            continue
        pf = (_lucene_sloppy_walk_rpt(pls, slop, rpt) if rpt
              else _lucene_sloppy_walk(pls, slop))
        if pf > 0:
            dl = ix.dl_q[d]
            out[d] = boost * isum * (K1 + 1.0) * pf / (pf + K1 * (1 - B + B * dl / ix.avgdl))
    return out


def bool_query(
    ix: BruteIndex,
    must: Sequence[Dict[int, float]] = (),
    filt: Sequence[Dict[int, float]] = (),
    should: Sequence[Dict[int, float]] = (),
    must_not: Sequence[Dict[int, float]] = (),
    msm: int | None = None,
    boost: float = 1.0,
) -> Dict[int, float]:
    if msm is None:
        msm = 1 if (should and not must and not filt) else 0
    pure_negative = not must and not filt and not should
    out: Dict[int, float] = {}
    for d in ix.all_doc_ids:
        if any(d not in m for m in must):
            continue
        if any(d not in f for f in filt):
            continue
        if any(d in n for n in must_not):
            continue
        matched_should = [s for s in should if d in s]
        if should and len(matched_should) < msm:
            continue
        if not pure_negative and not must and not filt and not matched_should:
            continue
        score = sum(m[d] for m in must) + sum(s[d] for s in matched_should)
        if pure_negative:
            score = 1.0
        out[d] = score * boost
    return out


def topk(scores: Dict[int, float], k: int) -> List[Tuple[int, float]]:
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def rank_identical(
    a: List[Tuple[int, float]], b: List[Tuple[int, float]], atol: float = 1e-6
) -> bool:
    """Compare top-k lists. Both sides use the same deterministic
    comparator (score desc, docId asc), so docId sequences must be equal
    exactly and scores within atol (float-summation-order slack)."""
    if len(a) != len(b):
        return False
    for (da, sa), (db, sb) in zip(a, b):
        if da != db or abs(sa - sb) > atol:
            return False
    return True
