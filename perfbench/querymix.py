"""Seeded query classes drawn from a generated corpus.

Frequency bands come from the generator's Zipf ranks (the same rank always
renders to the same identifier part), so a class means the same thing on
every seed:

- ``rare``: one or two long-tail identifier parts (rank >= RARE_RANK);
- ``mixed``: two hot keywords plus two mid-frequency parts;
- ``hot``: three keywords of one language;
- ``snippet``: 20-40 tokens of code pasted from consecutive files;
- ``lang``: a ``mixed`` query with a language filter;
- ``absent``: two tokens with digits, which the generator never emits.

The mix is uniform: one query of each class per round. The weights are not
derived from any traffic log; uniform weights keep every class equally
visible in the medians instead of presenting a guessed weighting as a
workload.
"""

from __future__ import annotations

import numpy as np

from perfbench.corpus_gen import KEYWORDS, LANG_SHARES, LANGS, part_word
from smse_backend_spark.functions.tokenizer import tokenize_py

# one round of the single-query mix, in send order: each class once
CLASSES = ("rare", "mixed", "hot", "snippet", "lang", "absent")
# batches carry no language filter, so the lang class stays out of them
BATCH_CYCLE = tuple(c for c in CLASSES if c != "lang")
RARE_RANK = 100_000
MID_RANKS = (230, 5_000)


class QueryMaker:
    def __init__(self, cols: dict, seed: int):
        self.cols = cols
        self.rng = np.random.default_rng([seed, 7])
        self.n = len(cols["text"])

    def _file(self) -> int:
        return int(self.rng.integers(0, self.n))

    def _part(self, lo: int, hi: int) -> str:
        """An identifier part whose rank lies in [lo, hi), taken from a
        random file that contains one."""
        for _ in range(100_000):
            ranks = self.cols["part_ranks"][self._file()]
            pick = ranks[(ranks >= lo) & (ranks < hi)]
            if pick.size:
                return part_word(int(self.rng.choice(pick)))
        raise ValueError(f"no identifier part with rank in [{lo}, {hi})")

    def _keywords(self, lang: str, n: int) -> list[str]:
        top = KEYWORDS[lang][:8]
        return [str(w) for w in self.rng.choice(top, size=n, replace=False)]

    def _lang(self) -> str:
        return str(self.rng.choice(LANGS, p=np.asarray(LANG_SHARES)))

    def _snippet(self) -> str:
        target = int(self.rng.integers(20, 41))
        f, out, count = self._file(), [], 0
        while count < target:
            for line in self.cols["text"][f % self.n].splitlines():
                for word in line.split(" "):
                    k = len(tokenize_py(word))
                    if count + k > 40:
                        continue
                    out.append(word)
                    count += k
                    if count >= target:
                        return " ".join(out)
                out.append("\n")
            f += 1
        return " ".join(out)

    def make(self, cls: str) -> tuple[str, str | None]:
        """(query text, lang filter or None) for one query of ``cls``."""
        if cls == "rare":
            n = int(self.rng.integers(1, 3))
            return " ".join(self._part(RARE_RANK, 1 << 62) for _ in range(n)), None
        if cls in ("mixed", "lang"):
            lang = self._lang()
            words = self._keywords(lang, 2) + [self._part(*MID_RANKS)
                                               for _ in range(2)]
            return " ".join(words), (lang if cls == "lang" else None)
        if cls == "hot":
            return " ".join(self._keywords(self._lang(), 3)), None
        if cls == "snippet":
            return self._snippet(), None
        if cls == "absent":
            letters = "abcdefghijklmnopqrstuvwxyz"
            toks = ["".join(self.rng.choice(list(letters), 5)) + str(int(d)) + "x"
                    for d in self.rng.integers(0, 10, 2)]
            return " ".join(toks), None
        raise ValueError(f"unknown query class {cls!r}")

    def singles(self, n: int) -> list[tuple[str, str, str | None]]:
        """(class, text, lang) for ``n`` single queries in class order."""
        out = []
        for i in range(n):
            cls = CLASSES[i % len(CLASSES)]
            out.append((cls, *self.make(cls)))
        return out

    def batch(self, n: int) -> list[tuple[str, str]]:
        """(class, text) for one batch of ``n`` queries."""
        return [(c, self.make(c)[0])
                for c in (BATCH_CYCLE[i % len(BATCH_CYCLE)] for i in range(n))]
