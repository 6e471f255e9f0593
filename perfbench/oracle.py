"""Correctness gate for query-small: the brute-force BM25 oracle.

Scores come from ``testing.brute`` over the same documents; each query is
evaluated only over the documents that hold one of its terms, which gives
the same scores as a full scan. Top-k lists are compared with
``brute.rank_identical``: the same docIds in the same order (score desc,
docId asc), scores within SCORE_TOL.
"""

from __future__ import annotations

import dataclasses
from typing import Dict, Sequence

import pandas as pd

from opensearch_spark.analysis.analyzer import tokenize, tokenize_pandas
from opensearch_spark.testing import brute

from inputs import FIELD

SCORE_TOL = 1e-6


class BruteOracle:
    def __init__(self, pdf: pd.DataFrame) -> None:
        ids = pdf["doc_id"].tolist()
        toks = tokenize_pandas(pdf[FIELD].reset_index(drop=True)).tolist()
        self.ix = brute.build(dict(zip(ids, toks)))
        self.docs_with: Dict[str, set] = {}
        for d, doc_toks in zip(ids, toks):
            for t in set(doc_toks):
                self.docs_with.setdefault(t, set()).add(d)
        self.rows = pdf.set_index("doc_id")

    def _over(self, texts: Sequence[str]) -> brute.BruteIndex:
        cand: set = set()
        for text in texts:
            for t in tokenize(text):
                cand |= self.docs_with.get(t, set())
        return dataclasses.replace(self.ix, all_doc_ids=sorted(cand))

    def scores(self, query: dict) -> Dict[int, float]:
        """All matching docs -> score, for the query shapes in inputs.py."""
        if "match" in query:
            body = query["match"][FIELD]
            if isinstance(body, dict):
                text, op = body["query"], body.get("operator", "or")
            else:
                text, op = body, "or"
            return brute.match(self._over([text]), text, operator=op)
        if "match_phrase" in query:
            text = query["match_phrase"][FIELD]
            return brute.phrase(self._over([text]), text)
        b = query["bool"]
        texts = {k: [c["match"][FIELD] for c in b.get(k, [])]
                 for k in ("must", "should", "must_not")}
        ix = self._over(texts["must"] + texts["should"])
        return brute.bool_query(
            ix,
            must=[brute.match(ix, t) for t in texts["must"]],
            should=[brute.match(ix, t) for t in texts["should"]],
            must_not=[brute.match(self._over([t]), t) for t in texts["must_not"]],
        )

    def source_ok(self, rows) -> bool:
        return all(self.rows.at[r["docId"], "path"] == r["path"]
                   and self.rows.at[r["docId"], "lang"] == r["lang"]
                   for r in rows)
