"""Expected BM25 top-k, computed independently of the engine.

One untimed pass tokenizes every generated file with ``tokenize_py`` and
keeps only the doc lengths plus the tf of the terms the benchmark will
query. Scoring follows ``oracle/bm25_numpy.py``: k1=1.2, b=0.75,
idf = ln(1 + (N - df + 0.5) / (df + 0.5)), the score rounded to 6 dp and
ties broken by doc_id ascending. No code from ``index/`` and no Spark code
path is used.

Soft deletes follow the documented rule (``index/deletes.py``): a
tombstoned doc stays in N, df and avgdl but is never returned as a hit.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from smse_backend_spark.functions.tokenizer import tokenize_py

K1, B = 1.2, 0.75
# engine and oracle add the same per-term contributions in different orders;
# the 6 dp rounding hides that except next to a rounding boundary
SCORE_TOL = 2.5e-6


def query_terms(text: str) -> list[str]:
    """BM25 set semantics over the query: unique tokens, sorted."""
    return sorted(set(tokenize_py(text)))


@dataclass
class ExpectedIndex:
    """Doc lengths of every file plus per-term (doc row, tf) lists for the
    tracked query terms. Rows are positions in ``doc_ids`` (append order)."""

    terms: frozenset
    doc_ids: list = field(default_factory=list)
    langs: list = field(default_factory=list)
    dls: list = field(default_factory=list)
    post_rows: dict = field(default_factory=dict)
    post_tfs: dict = field(default_factory=dict)
    deleted: set = field(default_factory=set)
    _frozen: dict | None = None

    def add(self, doc_ids, langs, texts) -> None:
        """Tokenize and append files (the untimed pass)."""
        terms = self.terms
        row = len(self.doc_ids)
        for doc_id, lang, text in zip(doc_ids, langs, texts):
            toks = tokenize_py(text)
            self.doc_ids.append(int(doc_id))
            self.langs.append(lang)
            self.dls.append(len(toks))
            for t in terms.intersection(toks):
                self.post_rows.setdefault(t, []).append(row)
                self.post_tfs.setdefault(t, []).append(toks.count(t))
            row += 1
        self._frozen = None

    def delete(self, doc_ids) -> None:
        self.deleted.update(int(d) for d in doc_ids)
        self._frozen = None

    def df(self, term: str, lang: str | None = None) -> int:
        rows = self.post_rows.get(term, ())
        if lang is None:
            return len(rows)
        return sum(1 for r in rows if self.langs[r] == lang)

    def _arrays(self) -> dict:
        """numpy views of the lists, rebuilt after each add or delete."""
        if self._frozen is None:
            ids = np.asarray(self.doc_ids, dtype=np.int64)
            self._frozen = {
                "ids": ids,
                "langs": np.asarray(self.langs),
                "dl": np.asarray(self.dls, dtype=np.float64),
                "live": ~np.isin(ids, np.fromiter(self.deleted, np.int64,
                                                  len(self.deleted))),
                "rows": {}, "lang_mask": {},
            }
        return self._frozen

    def _postings(self, term: str):
        a = self._arrays()["rows"]
        if term not in a:
            a[term] = (np.asarray(self.post_rows.get(term, ()), dtype=np.int64),
                       np.asarray(self.post_tfs.get(term, ()), dtype=np.float64))
        return a[term]

    def topk(self, text: str, k: int = 10, lang: str | None = None) -> list:
        """[(doc_id, score)] for the top k live docs, score desc, doc_id asc;
        plus every further doc tying the k-th score within SCORE_TOL, so a
        comparison can accept either order of a near-tie at the cut."""
        terms = query_terms(text)
        missing = [t for t in terms if t not in self.terms]
        if missing:
            raise KeyError(f"query terms not tracked by the expected pass: {missing}")
        a = self._arrays()
        dl = a["dl"]
        if lang is None:
            in_lang = None
            n, sum_dl = float(dl.size), float(dl.sum())
        else:
            if lang not in a["lang_mask"]:
                a["lang_mask"][lang] = a["langs"] == lang
            in_lang = a["lang_mask"][lang]
            n, sum_dl = float(in_lang.sum()), float(dl[in_lang].sum())
        if n == 0:
            return []
        avgdl = sum_dl / n
        parts_rows, parts_sc = [], []
        for t in terms:
            rows, tfs = self._postings(t)
            if in_lang is not None:
                keep = in_lang[rows]
                rows, tfs = rows[keep], tfs[keep]
            if rows.size == 0:
                continue
            df = float(rows.size)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            parts_rows.append(rows)
            parts_sc.append(idf * tfs * (K1 + 1.0) / (
                tfs + K1 * (1.0 - B + B * dl[rows] / avgdl)))
        if not parts_rows:
            return []
        rows = np.concatenate(parts_rows)
        uniq, inv = np.unique(rows, return_inverse=True)
        scores = np.zeros(uniq.size)
        np.add.at(scores, inv, np.concatenate(parts_sc))
        live = a["live"][uniq]
        uniq, sc = uniq[live], np.round(scores[live], 6)
        ids = a["ids"][uniq]
        order = np.lexsort((ids, -sc))
        ranked = [(int(ids[i]), float(sc[i])) for i in order[: k + 64]]
        if len(ranked) <= k:
            return ranked
        cut = ranked[k - 1][1]
        return ranked[:k] + [r for r in ranked[k:] if cut - r[1] <= SCORE_TOL]


def matches(got: list, expected: list, k: int = 10) -> bool:
    """``got`` = engine [(doc_id, score)] in rank order. Equal to
    ``expected`` up to near-ties: the same number of hits, each rank's score
    within SCORE_TOL of the expected score at that rank, every returned doc
    an expected one whose own expected score agrees, no doc twice."""
    exp_score = dict(expected)
    if len(got) != min(k, len(expected)):
        return False
    if len({d for d, _ in got}) != len(got):
        return False
    for (d, s), (_ed, es) in zip(got, expected):
        if d not in exp_score:
            return False
        if abs(s - es) > SCORE_TOL or abs(exp_score[d] - s) > SCORE_TOL:
            return False
    return True
