"""Programs: the one IR and the one per-segment executor for match,
match_phrase and flat bools of them.

A Program is a flat boolean combination of match / phrase clauses
(must | filter | should | must_not, with operator, minimum_should_match,
slop and boosts). Every engine path that scores such a query — search(k),
compile(), count() and the batched ``_msearch`` — builds Programs and
runs them through ONE executor (``make_scorer``) in ONE Python stage:

    postings.filter(term IN union-of-program-terms)
      .groupBy(seg)
      .applyInPandas(make_scorer(programs, idfs, avgdl, k))
      -> (qid, docId, score) per segment

Inside a segment the executor picks the pruning itself:

- one program with a ``k``: block-max top-k — ``wand.score_match_topk``
  for a bare match, ``wand.score_phrase_topk`` for an exact phrase,
  ``wand.score_program_topk`` (conjunction-led) for a program with a
  required clause;
- otherwise: every program over ONE shared decode of the segment's
  posting blocks (``_run_program``), so a batch of Q queries decodes a
  hot term once, plus a per-program top-k when ``k`` is given.

A scripted similarity replaces the BM25 per-term contribution of match
clauses; pruning is off then (the block bounds are BM25's). Sloppy
phrases (slop > 0) are scored exhaustively.

The coordinator reduce belongs to the caller: one query ends in
TakeOrderedAndProject (orderBy + limit), a batch in a Window
(partitionBy qid, row_number <= k). Reference: the ``_msearch`` endpoint
(``action/search/TransportMultiSearchAction.java``) and Lucene's single
Weight/BulkScorer contract for every query.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field
from typing import Callable, Dict, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from opensearch_spark.analysis.analyzer import tokenize
from opensearch_spark.search import ast as A, bm25, wand

MSEARCH_SCHEMA = "qid int, docId long, score double"


@dataclass
class _Clause:
    occur: str          # must | should | filter | must_not
    kind: str           # match | phrase
    terms: List[str] = field(default_factory=list)
    operator: str = "or"
    msm: int = 0
    weight: float = 1.0  # clause-level boost
    slop: int = 0        # phrase only; > 0 = sloppy phrase


@dataclass
class Program:
    qid: int
    clauses: List[_Clause] = field(default_factory=list)
    bool_msm: int = 0     # minimum_should_match across should clauses
    boost: float = 1.0
    match_none: bool = False


def build_program(qid: int, node: A.AnyNode, known_terms, tok,
                  field_name: str, phrases: bool) -> Optional[Program]:
    """AST -> flat scoring program, or None if the node is not
    program-expressible (caller falls back to the general compiler):
    another node family, a nested compound, ``zero_terms_query: all``
    with no terms, a pure-negative bool, a leaf on a field other than
    ``field_name``, or any phrase when ``phrases`` is False (a docs-only
    index verifies phrases against the source).

    ``known_terms``: terms present in the index — reproduces the
    missing-term semantics at build time (OR drops missing terms;
    AND/phrase with a missing term match nothing)."""
    prog = Program(qid=qid, boost=float(getattr(node, "boost", 1.0)))

    def leaf(n: A.AnyNode, occur: str) -> bool:
        if not isinstance(n, (A.Match, A.MatchPhrase)):
            return False
        if n.field_name != field_name:
            return False
        terms = tok(n.query)
        required = occur in ("must", "filter")
        if isinstance(n, A.Match):
            if not terms and n.zero_terms_query == "all":
                return False  # match_all semantics
            present = [t for t in terms if t in known_terms]
            if not present or (n.operator == "and"
                               and len(set(present)) < len(set(terms))):
                prog.match_none |= required  # the clause matches nothing
                return True
            prog.clauses.append(_Clause(
                occur=occur, kind="match", terms=present,
                operator=n.operator, msm=n.minimum_should_match,
                weight=float(n.boost),
            ))
            return True
        if not phrases:
            return False
        if not terms or any(t not in known_terms for t in terms):
            prog.match_none |= required
            return True
        prog.clauses.append(_Clause(
            occur=occur, kind="match" if len(terms) == 1 else "phrase",
            terms=terms, weight=float(n.boost), slop=int(n.slop),
        ))
        return True

    if isinstance(node, (A.Match, A.MatchPhrase)):
        if not leaf(node, "must"):
            return None
        prog.boost = 1.0  # a leaf's boost is its clause weight
        return prog
    if not isinstance(node, A.Bool):
        return None
    if not (node.must or node.filter or node.should):
        return None  # pure-negative / empty bool: needs a match_all base
    for occur, cs in (("must", node.must), ("filter", node.filter),
                      ("should", node.should), ("must_not", node.must_not)):
        if not all(leaf(c, occur) for c in cs):
            return None
    # a bool without should clauses ignores minimum_should_match (as the
    # union path does); one whose should clauses dropped out (missing
    # terms) cannot reach it
    prog.bool_msm = node.effective_msm() if node.should else 0
    if prog.bool_msm > sum(c.occur == "should" for c in prog.clauses):
        prog.match_none = True
    return prog


def candidate_terms(node: A.AnyNode, tok=tokenize) -> set:
    """All analyzed terms a node could reference (for one batched IDF
    lookup). Unknown node families contribute nothing — they take the
    fallback path anyway."""
    if isinstance(node, (A.Match, A.MatchPhrase)):
        return set(tok(node.query))
    if isinstance(node, A.Bool):
        out: set = set()
        for c in node.must + node.filter + node.should + node.must_not:
            out |= candidate_terms(c, tok)
        return out
    return set()


def required_terms(programs: Sequence[Program]) -> List[str]:
    """Terms whose postings the live programs read."""
    return sorted({t for p in programs if not p.match_none
                   for c in p.clauses for t in c.terms})


TermScore = Callable[[str, np.ndarray, np.ndarray], np.ndarray]


def make_scorer(programs: List[Program], idfs: Dict[str, float],
                avgdl: float, k: Optional[int],
                term_score: Optional[TermScore]):
    """applyInPandas fn scoring every program against one segment's
    posting blocks; emits (qid, docId, score), per-program top-k when
    ``k`` is given. ``term_score(term, tf, dl_q)`` replaces the BM25
    per-term contribution of match clauses (scripted similarity)."""
    progs = [p for p in programs if p.clauses and not p.match_none]
    want_pos = any(c.kind == "phrase" for p in progs for c in p.clauses)
    prune = (k is not None and len(progs) == 1 and term_score is None
             and not any(c.slop for c in progs[0].clauses))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        hits = _pruned_topk(progs[0], pdf, idfs, avgdl, k) if prune else None
        if hits is not None:
            parts = [(progs[0].qid, *hits)]
        else:
            decoded = bm25.decode_term_group(pdf, want_positions=want_pos)
            parts = []
            for p in progs:
                docs, scores = _run_program(p, decoded, idfs, avgdl, term_score)
                if k is not None:
                    docs, scores = bm25.topk_by_score(docs, scores, k)
                if p.boost != 1.0:
                    scores = scores * p.boost
                parts.append((p.qid, docs, scores))
        parts = parts or [(0, *wand._EMPTY)]
        return pd.DataFrame({
            "qid": np.concatenate([np.full(d.size, q, dtype=np.int32)
                                   for q, d, _ in parts]),
            "docId": np.concatenate([d for _, d, _ in parts]).astype(np.int64),
            "score": np.concatenate([s for _, _, s in parts]),
        })

    return fn


def _pruned_topk(prog: Program, pdf: pd.DataFrame, idfs, avgdl, k
                 ) -> Optional[Tuple[np.ndarray, np.ndarray]]:
    """Block-max top-k of one program over one segment, or None when no
    pruned scorer applies (a pure-should bool)."""
    c = prog.clauses[0]
    if len(prog.clauses) == 1 and c.occur == "must":
        if c.kind == "match":
            docs, scores, _stats = wand.score_match_topk(
                pdf, {t: idfs[t] for t in c.terms}, avgdl, k,
                c.operator, c.msm, c.weight)
        else:
            docs, scores, _stats = wand.score_phrase_topk(
                pdf, c.terms, idfs, avgdl, k, c.weight)
        return docs, (scores * prog.boost if prog.boost != 1.0 else scores)
    out = wand.score_program_topk(
        pdf, [asdict(c) for c in prog.clauses], prog.bool_msm, idfs, avgdl,
        k, boost=prog.boost)
    return None if out is None else out[:2]


def _clause_hits(c: _Clause, decoded, idfs, avgdl,
                 term_score: Optional[TermScore] = None
                 ) -> Tuple[np.ndarray, np.ndarray]:
    if c.kind == "match":
        docs, scores = bm25.score_terms_in_segment(
            decoded, {t: idfs[t] for t in c.terms}, avgdl, c.operator,
            c.msm, n_required=len(set(c.terms)), term_score=term_score,
        )
    else:
        docs, pf, dl_q = (
            bm25.sloppy_phrase_freq_in_segment(decoded, c.terms, c.slop)
            if c.slop else bm25.phrase_freq_in_segment(decoded, c.terms))
        idf_sum = sum(idfs[t] for t in c.terms)
        scores = idf_sum * (bm25.K1 + 1.0) * bm25.tf_norm(
            pf.astype(np.float64), dl_q, avgdl
        )
    if c.occur == "filter":
        scores = np.zeros_like(scores)
    elif c.weight != 1.0:
        scores = scores * c.weight
    return docs, scores


def _run_program(prog: Program, decoded, idfs, avgdl,
                 term_score: Optional[TermScore] = None
                 ) -> Tuple[np.ndarray, np.ndarray]:
    """Exhaustive reference scorer: every clause over the whole decoded
    segment."""
    return _combine(prog, lambda c, _cand: _clause_hits(
        c, decoded, idfs, avgdl, term_score))


def _combine(prog: Program, hits, lead: Optional[Sequence[int]] = None
             ) -> Tuple[np.ndarray, np.ndarray]:
    """Bool combine in numpy. ``hits(clause, cand)`` returns the clause's
    (docs sorted unique, scores), and may leave out docs not in ``cand``
    (None = no restriction). Required clauses intersect in ``lead``
    order (indices into the required clauses; default program order),
    then add their scores in program order, so the float association is
    the same whatever the lead; should clauses add and count toward
    minimum_should_match; must_not clauses subtract. Mirrors
    SearchEngine._bool's aggregate semantics."""
    req = [c for c in prog.clauses if c.occur in ("must", "filter")]
    sho = [c for c in prog.clauses if c.occur == "should"]
    if req:
        got: Dict[int, Tuple[np.ndarray, np.ndarray]] = {}
        base = None
        for i in (range(len(req)) if lead is None else lead):
            got[i] = hits(req[i], base)
            d = got[i][0]
            base = d if base is None else base[np.isin(base, d, assume_unique=True)]
            if base.size == 0:
                return wand._EMPTY
        score = np.zeros(base.size, dtype=np.float64)
        for i in range(len(req)):
            d, s = got[i]
            score += s[np.searchsorted(d, base)]
        s_cnt = np.zeros(base.size, dtype=np.int64)
        for c in sho:
            d, s = hits(c, base)
            hit = np.isin(base, d, assume_unique=True)
            score[hit] += s[np.searchsorted(d, base[hit])]
            s_cnt[hit] += 1
        msm = prog.bool_msm
    else:
        parts = [hits(c, None) for c in sho]
        if not parts:
            return wand._EMPTY
        base, inv = np.unique(np.concatenate([d for d, _ in parts]),
                              return_inverse=True)
        score = np.zeros(base.size, dtype=np.float64)
        np.add.at(score, inv, np.concatenate([s for _, s in parts]))
        s_cnt = np.zeros(base.size, dtype=np.int64)
        np.add.at(s_cnt, inv, 1)
        msm = max(prog.bool_msm, 1)
    if msm > 0:
        keep = s_cnt >= msm
        base, score = base[keep], score[keep]
    for c in prog.clauses:
        if c.occur == "must_not" and base.size:
            keep = ~np.isin(base, hits(c, base)[0], assume_unique=True)
            base, score = base[keep], score[keep]
    return base, score
