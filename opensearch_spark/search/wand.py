"""Block-max impact pruning for top-k scoring (the WAND/MaxScore analog).

Reference behavior (SURVEY.md §4.2): Lucene's TopScoreDocCollector raises
``minCompetitiveScore`` once the per-shard heap holds k docs, letting the
scorer skip posting blocks whose max impact cannot beat it (block-max
WAND). The same information lives in our postings: every 128-doc block
row carries ``(max_tf, min_dl_q)``, so
``ub(block) = idf * (k1+1) * max_tf / (max_tf + k1*(1-b+b*min_dl_q/avgdl))``
bounds any score contribution from that block (impact is increasing in tf
and decreasing in dl; storing the pieces instead of the value keeps the
bound valid when avgdl drifts under incremental updates).

This module implements the vectorized-numpy equivalent, per segment:

OR / top-k (MaxScore-style, block-refined):
 1. θ0: decode only the highest-upper-bound term; its k-th best single-
    term contribution is a valid floor for the final k-th score.
 2. Essential terms: sort terms by term_ub desc; the maximal suffix with
    Σ ub < θ0 is non-essential — docs appearing ONLY there are pruned.
 3. Candidate generation: decode essential-term blocks whose
    ub(block) + Σ other terms' term_ub >= θ0; skipped blocks cannot
    contain a top-k doc that appears nowhere else.
 4. Exact scoring: decode any remaining block that OVERLAPS the candidate
    doc range set (first_doc/last_doc vs sorted candidates); accumulate
    contributions for candidates only; top-k with (score desc, docId asc).

AND / top-k (skip-pointer analog):
 1. Decode the sparsest term fully -> candidate set.
 2. For each other term (ascending density), decode only candidate-
    overlapping blocks and intersect; blocks outside the candidate range
    are never decoded.

Both paths return EXACTLY the same top-k as exhaustive scoring (the
engine's e2e tests assert rank-identity against the brute-force oracle);
pruning only changes which bytes get decoded.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd

from opensearch_spark.analysis.smallfloat import decode_norms_np
from opensearch_spark.index import codec

K1 = 1.2
B = 0.75

_EMPTY = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))


class TermBlocks:
    """Lazy per-term view over a segment's posting-block rows.

    Handles multi-generation indexes (incremental batches append blocks
    whose doc ranges overlap older generations): decode() merge-sorts the
    concatenation when needed, preserving the sorted-docs invariant the
    scorers rely on."""

    __slots__ = ("first", "last", "ub_blocks", "n_docs", "_rows", "_decoded",
                 "want_positions")

    def __init__(self, rows: pd.DataFrame, idf_x_k1p1: float, avgdl: float,
                 want_positions: bool = False):
        rows = rows.sort_values(["first_doc", "block_no"], kind="stable")
        self.first = rows["first_doc"].to_numpy(dtype=np.int64)
        self.last = rows["last_doc"].to_numpy(dtype=np.int64)
        max_tf = rows["max_tf"].to_numpy(dtype=np.float64)
        min_dl = rows["min_dl_q"].to_numpy(dtype=np.float64)
        # avgdl-independent stored bound, resolved against CURRENT avgdl
        self.ub_blocks = idf_x_k1p1 * max_tf / (
            max_tf + K1 * (1.0 - B + B * min_dl / avgdl)
        )
        self.n_docs = rows["n_docs"].to_numpy(dtype=np.int64)
        self._rows = rows
        self._decoded: Dict[int, tuple] = {}
        self.want_positions = want_positions

    @property
    def n_blocks(self) -> int:
        return len(self.first)

    def term_ub(self) -> float:
        return float(self.ub_blocks.max()) if len(self.ub_blocks) else 0.0

    def decode(self, which: np.ndarray) -> Tuple[np.ndarray, np.ndarray, np.ndarray, Optional[list]]:
        """Decode the selected block indices -> (docs, tfs, dl_q, pos_list).
        Results are cached per block."""
        docs_p, tf_p, dl_p, pos_p = [], [], [], []
        for bi in np.atleast_1d(which):
            bi = int(bi)
            if bi not in self._decoded:
                row = self._rows.iloc[bi]
                n = int(row["n_docs"])
                docs = codec.delta_decode_sorted(bytes(row["doc_bytes"]), n)
                tfs = codec.varint_decode(bytes(row["tf_bytes"]), n).astype(np.int64)
                dl_q = decode_norms_np(
                    np.frombuffer(bytes(row["norm_bytes"]), dtype=np.uint8)
                ).astype(np.float64)
                pos = (
                    codec.decode_positions(bytes(row["pos_bytes"]), tfs)
                    if self.want_positions
                    else None
                )
                self._decoded[bi] = (docs, tfs, dl_q, pos)
            d = self._decoded[bi]
            docs_p.append(d[0]); tf_p.append(d[1]); dl_p.append(d[2])
            if self.want_positions:
                pos_p.append(d[3])
        if not docs_p:
            return (np.empty(0, np.int64), np.empty(0, np.int64),
                    np.empty(0, np.float64), [] if self.want_positions else None)
        docs = np.concatenate(docs_p)
        tfs = np.concatenate(tf_p)
        dls = np.concatenate(dl_p)
        pos = pos_p if self.want_positions else None
        if docs.size > 1 and (docs[1:] < docs[:-1]).any():
            # overlapping generations: merge-sort, keeping positions ragged-aligned
            order = np.argsort(docs, kind="stable")
            if self.want_positions:
                pos_cat = np.concatenate(pos) if pos else np.empty(0, np.int64)
                starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
                idx = np.repeat(starts[order], tfs[order]) + _ragged_arange(tfs[order])
                pos = [pos_cat[idx]]
            docs, tfs, dls = docs[order], tfs[order], dls[order]
        return (docs, tfs, dls, pos)

    def decoded_block_count(self) -> int:
        return len(self._decoded)

    def blocks_overlapping(self, cand_sorted: np.ndarray) -> np.ndarray:
        """Indices of blocks whose [first,last] doc range contains at least
        one candidate (the skip-pointer test)."""
        if cand_sorted.size == 0:
            return np.empty(0, dtype=np.int64)
        lo = np.searchsorted(cand_sorted, self.first, side="left")
        hi = np.searchsorted(cand_sorted, self.last, side="right")
        return np.flatnonzero(hi > lo)


def _contrib(tfs: np.ndarray, dl_q: np.ndarray, avgdl: float, idf_x_k1p1: float) -> np.ndarray:
    # parenthesized exactly like bm25.tf_norm so float results are
    # bit-identical between the pruned and exhaustive scorers
    return idf_x_k1p1 * (tfs / (tfs + K1 * (1.0 - B + B * dl_q / avgdl)))


def _ragged_arange(lens: np.ndarray) -> np.ndarray:
    lens = np.asarray(lens, dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    return np.arange(total, dtype=np.int64) - np.repeat(starts, lens)


def build_term_blocks(
    pdf: pd.DataFrame, idfs: Dict[str, float], avgdl: float, want_positions: bool = False
) -> Dict[str, TermBlocks]:
    out = {}
    for term, rows in pdf.groupby("term", sort=False):
        t = str(term)
        if t in idfs:
            out[t] = TermBlocks(rows, idfs[t] * (K1 + 1.0), avgdl, want_positions)
    return out


def _topk_arrays(docs: np.ndarray, scores: np.ndarray, k: int) -> Tuple[np.ndarray, np.ndarray]:
    from opensearch_spark.search.bm25 import topk_by_score

    return topk_by_score(docs, scores, k)


def score_match_topk(
    pdf: pd.DataFrame,
    idfs: Dict[str, float],
    avgdl: float,
    k: int,
    operator: str = "or",
    msm: int = 0,
    boost: float = 1.0,
) -> Tuple[np.ndarray, np.ndarray, dict]:
    """Pruned top-k match scoring over one segment's block rows.

    Returns (docIds, scores, stats) where stats records decoded vs total
    blocks (pruning effectiveness, surfaced in tests/bench)."""
    tb = build_term_blocks(pdf, idfs, avgdl)
    total_blocks = sum(t.n_blocks for t in tb.values())
    if not tb:
        return (*_EMPTY, {"decoded": 0, "total": 0})

    idf_factor = {t: idfs[t] * (K1 + 1.0) for t in tb}

    if operator == "and":
        docs, scores = _score_and(tb, idf_factor, avgdl, msm_required=len(set(idfs)))
    elif msm > 1:
        docs, scores = _score_exhaustive(tb, idf_factor, avgdl, msm=msm)
    else:
        docs, scores = _score_or_pruned(tb, idf_factor, avgdl, k)
    if boost != 1.0:
        scores = scores * boost
    docs, scores = _topk_arrays(docs, scores, k)
    stats = {
        "decoded": sum(t.decoded_block_count() for t in tb.values()),
        "total": total_blocks,
    }
    return docs, scores, stats


def _accumulate(
    pieces: List[Tuple[np.ndarray, np.ndarray]],
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """[(docs, contribs)] -> (uniq_docs, summed_scores, nmatch)."""
    all_docs = np.concatenate([p[0] for p in pieces])
    all_c = np.concatenate([p[1] for p in pieces])
    uniq, inv = np.unique(all_docs, return_inverse=True)
    scores = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(scores, inv, all_c)
    nmatch = np.zeros(uniq.size, dtype=np.int64)
    np.add.at(nmatch, inv, 1)
    return uniq, scores, nmatch


def _score_exhaustive(
    tb: Dict[str, TermBlocks], idf_factor: Dict[str, float], avgdl: float,
    msm: int = 0, require_all: bool = False,
) -> Tuple[np.ndarray, np.ndarray]:
    pieces = []
    for t, blocks in tb.items():
        docs, tfs, dl_q, _ = blocks.decode(np.arange(blocks.n_blocks))
        pieces.append((docs, _contrib(tfs.astype(np.float64), dl_q, avgdl, idf_factor[t])))
    if not pieces:
        return _EMPTY
    uniq, scores, nmatch = _accumulate(pieces)
    if require_all:
        keep = nmatch == len(tb)
    elif msm > 1:
        keep = nmatch >= msm
    else:
        return uniq, scores
    return uniq[keep], scores[keep]


def _score_and(
    tb: Dict[str, TermBlocks], idf_factor: Dict[str, float], avgdl: float,
    msm_required: int,
) -> Tuple[np.ndarray, np.ndarray]:
    """Conjunctive scoring with skip-style block pruning: intersect from the
    sparsest term outward; other terms decode only candidate-overlapping
    blocks."""
    if len(tb) < msm_required:
        return _EMPTY
    order = sorted(tb, key=lambda t: int(tb[t].n_docs.sum()))
    t0 = tb[order[0]]
    cand, _, _, _ = t0.decode(np.arange(t0.n_blocks))
    for t in order[1:]:
        if cand.size == 0:
            return _EMPTY
        blocks = tb[t]
        sel = blocks.blocks_overlapping(cand)
        docs, _, _, _ = blocks.decode(sel)
        cand = cand[np.isin(cand, docs, assume_unique=True)]
    if cand.size == 0:
        return _EMPTY
    # exact scores for survivors: all terms, candidate-overlapping blocks
    # only; sorted term order = deterministic float accumulation
    scores = np.zeros(cand.size, dtype=np.float64)
    for t in sorted(tb):
        blocks = tb[t]
        sel = blocks.blocks_overlapping(cand)
        docs, tfs, dl_q, _ = blocks.decode(sel)
        idx = np.searchsorted(docs, cand)
        idx = np.clip(idx, 0, max(docs.size - 1, 0))
        hit = docs.size > 0
        if hit:
            m = docs[idx] == cand
            c = _contrib(tfs.astype(np.float64), dl_q, avgdl, idf_factor[t])
            scores[m] += c[idx[m]]
    return cand, scores


def score_phrase_topk(
    pdf: pd.DataFrame,
    phrase_terms: List[str],
    idfs: Dict[str, float],
    avgdl: float,
    k: int,
    boost: float = 1.0,
) -> Tuple[np.ndarray, np.ndarray, dict]:
    """Exact-phrase top-k with block pruning: AND-intersect candidates with
    skip-style decode, THEN decode positions only for candidate-overlapping
    blocks (the two-phase iterator analog, SURVEY §4.2)."""
    from opensearch_spark.search import bm25

    uniq_terms = list(dict.fromkeys(phrase_terms))
    tb = build_term_blocks(pdf, {t: idfs[t] for t in uniq_terms if t in idfs},
                           avgdl, want_positions=True)
    total_blocks = sum(t.n_blocks for t in tb.values())
    stats = {"decoded": 0, "total": total_blocks}
    if len(tb) < len(uniq_terms):
        return (*_EMPTY, stats)

    # candidate chain, sparsest first (decodes cache for the verify step)
    order = sorted(tb, key=lambda t: int(tb[t].n_docs.sum()))
    t0 = tb[order[0]]
    cand, _, _, _ = t0.decode(np.arange(t0.n_blocks))
    for t in order[1:]:
        if cand.size == 0:
            stats["decoded"] = sum(x.decoded_block_count() for x in tb.values())
            return (*_EMPTY, stats)
        blocks = tb[t]
        docs, _, _, _ = blocks.decode(blocks.blocks_overlapping(cand))
        cand = cand[np.isin(cand, docs, assume_unique=True)]

    # position verify on survivors only
    decoded = {}
    for t, blocks in tb.items():
        docs, tfs, dl_q, pos = blocks.decode(blocks.blocks_overlapping(cand))
        pos_cat = np.concatenate(pos) if pos else np.empty(0, dtype=np.int64)
        decoded[t] = (docs, tfs, dl_q, pos_cat)
    docs, pf, dl_q = bm25.phrase_freq_in_segment(decoded, phrase_terms)
    idf_sum = sum(idfs[t] for t in phrase_terms)
    scores = (
        boost * idf_sum * (K1 + 1.0)
        * (pf / (pf + K1 * (1.0 - B + B * dl_q / avgdl)))
    )
    docs, scores = _topk_arrays(docs, scores.astype(np.float64), k)
    stats["decoded"] = sum(x.decoded_block_count() for x in tb.values())
    return docs, scores, stats


def score_program_topk(
    pdf: pd.DataFrame,
    clauses: List[dict],
    bool_msm: int,
    idfs: Dict[str, float],
    avgdl: float,
    k: int,
    boost: float = 1.0,
) -> Optional[Tuple[np.ndarray, np.ndarray, dict]]:
    """Conjunction-led top-k for a whole boolean program over one
    segment (the reference's lead-with-the-required-clause scorer,
    ``ConjunctionDISI`` + two-phase iteration): required clauses
    intersect sparsest first, each decoding only the posting blocks that
    overlap the candidates so far; every should / must_not clause then
    decodes ONLY candidate-overlapping blocks. Clause scoring and the
    bool combine are the exhaustive program scorer's own
    (msearch._clause_hits / msearch._combine), so results are exact.

    ``clauses``: [{occur, kind(match|phrase), terms, operator, msm,
    weight[, slop]}]. Returns None when there is no required clause
    (caller falls back to the exhaustive path) — pure-should MaxScore is
    left to the single-match WAND path."""
    from opensearch_spark.search import msearch as M

    prog = M.Program(qid=0, clauses=[M._Clause(**c) for c in clauses],
                     bool_msm=bool_msm, boost=boost)
    req = [c for c in prog.clauses if c.occur in ("must", "filter")]
    if not req:
        return None
    want_pos = any(c.kind == "phrase" for c in prog.clauses)
    tb = build_term_blocks(
        pdf, {t: idfs[t] for c in prog.clauses for t in c.terms if t in idfs},
        avgdl, want_positions=want_pos,
    )

    def hits(c, cand: Optional[np.ndarray]):
        """The clause's hits from candidate-overlapping blocks only (all
        blocks when cand is None), restricted to the candidates."""
        decoded = {}
        for t in c.terms:
            if t in tb:
                blocks = tb[t]
                sel = (np.arange(blocks.n_blocks) if cand is None
                       else blocks.blocks_overlapping(cand))
                docs, tfs, dl_q, pos = blocks.decode(sel)
                if want_pos:
                    pos = np.concatenate(pos) if pos else np.empty(0, np.int64)
                decoded[t] = (docs, tfs, dl_q, pos)
        docs, scores = M._clause_hits(c, decoded, idfs, avgdl)
        if cand is not None and docs.size:
            keep = np.isin(docs, cand, assume_unique=True)
            docs, scores = docs[keep], scores[keep]
        return docs, scores

    def est_size(c) -> int:
        sizes = [int(tb[t].n_docs.sum()) for t in c.terms if t in tb]
        if not sizes:
            return 0
        if c.kind == "phrase" or c.operator == "and":
            return min(sizes)
        return sum(sizes)

    lead = sorted(range(len(req)), key=lambda i: est_size(req[i]))
    docs, score = M._combine(prog, hits, lead)
    if boost != 1.0:
        score = score * boost
    docs, score = _topk_arrays(docs, score, k)
    stats = {"decoded": sum(t.decoded_block_count() for t in tb.values()),
             "total": sum(t.n_blocks for t in tb.values())}
    return docs, score, stats


def _score_or_pruned(
    tb: Dict[str, TermBlocks], idf_factor: Dict[str, float], avgdl: float, k: int
) -> Tuple[np.ndarray, np.ndarray]:
    names = sorted(tb, key=lambda t: tb[t].term_ub(), reverse=True)
    ubs = np.array([tb[t].term_ub() for t in names], dtype=np.float64)

    # single term: plain top-k, no pruning possible beyond decode-all
    # phase 1: θ0 from the strongest term's own contributions
    t0 = tb[names[0]]
    d0, f0, l0, _ = t0.decode(np.arange(t0.n_blocks))
    c0 = _contrib(f0.astype(np.float64), l0, avgdl, idf_factor[names[0]])
    if d0.size > k:
        theta0 = float(np.partition(c0, -k)[-k])
    elif d0.size > 0:
        theta0 = 0.0
    else:
        theta0 = 0.0

    # phase 2: essential prefix (suffix sum of ubs < θ0 is non-essential)
    suffix = np.cumsum(ubs[::-1])[::-1]
    essential = [names[0]]
    for j in range(1, len(names)):
        if suffix[j] >= theta0:
            essential.append(names[j])
        # else: term j and beyond are non-essential (suffix sums shrink)
    essential = set(essential)

    # phase 3: candidate generation from essential terms with block-level bound
    cand_parts = [d0]
    total_other = {t: float(ubs.sum() - tb[t].term_ub()) for t in names}
    for t in names[1:]:
        if t not in essential:
            continue
        blocks = tb[t]
        keep = np.flatnonzero(blocks.ub_blocks + total_other[t] >= theta0)
        docs, _, _, _ = blocks.decode(keep)
        cand_parts.append(docs)
    cand = np.unique(np.concatenate(cand_parts))

    # phase 4: exact scoring of candidates across ALL terms (sorted term
    # order = deterministic float accumulation, matching the exhaustive path)
    scores = np.zeros(cand.size, dtype=np.float64)
    nmatch = np.zeros(cand.size, dtype=np.int64)
    for t in sorted(names):
        blocks = tb[t]
        sel = blocks.blocks_overlapping(cand)
        docs, tfs, dl_q, _ = blocks.decode(sel)
        if docs.size == 0:
            continue
        idx = np.searchsorted(docs, cand)
        idx = np.clip(idx, 0, docs.size - 1)
        m = docs[idx] == cand
        c = _contrib(tfs.astype(np.float64), dl_q, avgdl, idf_factor[t])
        scores[m] += c[idx[m]]
        nmatch[m] += 1
    hit = nmatch > 0
    return cand[hit], scores[hit]
