"""Seeded benchmark inputs: corpora, query pools and msearch batches.

Every corpus and query is a function of the workload seed. Query terms are
drawn from document-frequency bands of the built index's termstats: the
high band holds keywords with long postings, the mid band selective terms.
Phrases are token windows cut from sampled documents, so they match.
"""

from __future__ import annotations

import os
import re
from typing import Dict, List, Tuple

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from opensearch_spark.analysis.analyzer import tokenize_pandas
from opensearch_spark.testing.corpus import generate_corpus

FIELD = "content"
WORD = re.compile(r"[a-z][a-z0-9_]*")
HIGH_BAND = 24          # the 24 most frequent words
MID_BAND = (150, 1500)  # frequency ranks of the selective band


def corpus(n_docs: int, seed: int, first_id: int = 0) -> pd.DataFrame:
    """``testing.corpus`` rows plus an explicit ``doc_id`` column."""
    pdf = generate_corpus(n_docs, seed)
    pdf.insert(0, "doc_id", np.arange(first_id, first_id + n_docs, dtype=np.int64))
    return pdf


def term_bands(index_dir: str) -> Dict[str, List[str]]:
    """High- and mid-frequency words of a built index, by summed df."""
    ts = pq.read_table(os.path.join(index_dir, "termstats"),
                       columns=["term", "df"]).to_pandas()
    df = ts.groupby("term")["df"].sum()
    df = df[[bool(WORD.fullmatch(t)) for t in df.index]]
    ranked = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))
    lo, hi = MID_BAND
    hi = min(hi, len(ranked))
    lo = min(lo, hi // 2)
    return {"high": [t for t, _ in ranked[:HIGH_BAND]],
            "mid": [t for t, _ in ranked[lo:hi]]}


def phrases(pdf: pd.DataFrame, rng: np.random.Generator, n: int) -> List[str]:
    """``n`` 2- and 3-word windows cut from randomly chosen documents."""
    sample = pdf[FIELD].iloc[rng.choice(len(pdf), size=min(len(pdf), 4 * n), replace=False)]
    out: List[str] = []
    for toks in tokenize_pandas(sample.reset_index(drop=True)):
        if len(out) == n:
            break
        width = 2 + int(rng.integers(0, 2))
        if len(toks) < width + 1:
            continue
        start = int(rng.integers(0, len(toks) - width))
        window = toks[start:start + width]
        if all(WORD.fullmatch(t) for t in window):
            out.append(" ".join(window))
    return out


class QueryMaker:
    """Builds one query of a given kind from the term bands."""

    def __init__(self, bands: Dict[str, List[str]], phrase_pool: List[str],
                 rng: np.random.Generator) -> None:
        self.high, self.mid = bands["high"], bands["mid"]
        self.phrase_pool = phrase_pool
        self.rng = rng

    def _pick(self, words: List[str], n: int = 1) -> List[str]:
        return [str(w) for w in self.rng.choice(words, size=n, replace=False)]

    def match_or(self) -> dict:
        words = self._pick(self.high) + self._pick(self.mid, 1 + int(self.rng.integers(0, 2)))
        return {"match": {FIELD: " ".join(words)}}

    def match_and(self) -> dict:
        words = self._pick(self.high) + self._pick(self.mid)
        return {"match": {FIELD: {"query": " ".join(words), "operator": "and"}}}

    def bool(self) -> dict:
        must, not_ = self._pick(self.high, 2)
        should = self._pick(self.mid, 2)
        return {"bool": {
            "must": [{"match": {FIELD: must}}],
            "should": [{"match": {FIELD: w}} for w in should],
            "must_not": [{"match": {FIELD: not_}}],
        }}

    def phrase(self) -> dict:
        text = self.phrase_pool[int(self.rng.integers(0, len(self.phrase_pool)))]
        return {"match_phrase": {FIELD: text}}

    def count(self) -> dict:
        return {"match": {FIELD: " ".join(self._pick(self.mid, 2))}}

    def source(self) -> dict:
        return {"query": self.match_or(), "size": 10, "_source": ["path", "lang"]}


# query-small request kinds, served in equal shares in a fixed cycle, so
# every run (whatever its seed) serves the same mix. Equal shares and the
# Zipf exponent below are chosen assumptions, not measured traffic.
SMALL_KINDS = ["match_or", "match_and", "bool", "phrase", "count", "source"]
ZIPF_S = 1.0


def small_traffic(maker: QueryMaker, pool_size: int,
                  length: int) -> Tuple[List[Tuple[str, dict]], List[int]]:
    """A pool of about ``pool_size`` (kind, body) requests and a sequence
    of ``length`` pool indices. Kinds cycle through SMALL_KINDS; within a
    kind, requests are drawn with Zipf(ZIPF_S) popularity, so hot requests
    repeat while the long tail keeps missing any small cache."""
    per_kind = max(1, round(pool_size / len(SMALL_KINDS)))
    weights = 1.0 / np.arange(1, per_kind + 1, dtype=np.float64) ** ZIPF_S
    pool: List[Tuple[str, dict]] = []
    draws = {}
    for kind in SMALL_KINDS:
        idx = np.arange(len(pool), len(pool) + per_kind)
        pool.extend((kind, getattr(maker, kind)()) for _ in range(per_kind))
        order = maker.rng.permutation(idx)
        draws[kind] = iter(order[maker.rng.choice(
            per_kind, size=length, p=weights / weights.sum())])
    seq = [int(next(draws[SMALL_KINDS[i % len(SMALL_KINDS)]])) for i in range(length)]
    return pool, seq


def serve_batch(maker: QueryMaker, size: int) -> List[dict]:
    """One msearch batch: long-postings OR matches, selective ANDs,
    phrases and bools in equal shares (a chosen assumption)."""
    kinds = (maker.match_or, maker.match_and, maker.phrase, maker.bool)
    return [kinds[i % len(kinds)]() for i in range(size)]
