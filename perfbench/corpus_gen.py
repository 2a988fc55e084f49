"""Seeded source-code corpus generator for the benchmark.

Writes a table with the ``documents.parquet`` schema
``(doc_id, text, lang, source, n_chars)`` that ``corpus.load_corpus``
ingests unchanged. The content is code-like:

- every line opens with a keyword of the file's language, drawn from a
  Zipf over that language's keyword list, so the top keywords occur in
  most files of the language;
- identifiers are one to three parts joined camelCase (js/java/go) or
  snake_case (py/rs), each part drawn log-uniformly (Zipf, exponent 1)
  over ``vocab_size`` ranks: a few hundred real identifier words at the
  head, pronounceable synthetic words in the long tail, so the vocabulary
  keeps growing with the corpus the way identifier vocabularies do;
- languages are skewed (js 37 %, py 29 %, java 18 %, go 8 %, rs 8 %) and
  files of one repository are adjacent, written in doc_id order as an
  append-only table would be. The shares are the Stack Overflow Developer
  Survey 2023 usage figures for these five languages (all respondents:
  JavaScript 63.6 %, Python 49.3 %, Java 30.6 %, Go 13.2 %, Rust 13.1 %),
  normalised to sum to one. They are developer shares, not file counts of
  any real corpus.

Everything derives from ``numpy.random.default_rng(seed)``: the same
(seed, size) gives byte-identical text.
"""

from __future__ import annotations

import math

import numpy as np

LANGS = ("py", "js", "go", "java", "rs")
LANG_SHARES = (0.29, 0.37, 0.08, 0.18, 0.08)  # LANGS order

KEYWORDS = {
    "py": ("def return if self for in import from else none class not and "
           "true false elif with as try except or while lambda yield raise "
           "pass").split(),
    "js": ("const return function if this let new for else null import "
           "export from async await true false of var class typeof throw "
           "try catch switch").split(),
    "go": ("func err return if nil for range var string int package import "
           "type struct else go defer chan map const true false switch "
           "case").split(),
    "java": ("public return private new if static void final this int "
             "string for class import package null else true false extends "
             "throws try catch boolean").split(),
    "rs": ("fn let mut self return if impl pub use match some none ok for "
           "in struct enum mod else err where trait move ref").split(),
}
CAMEL_LANGS = frozenset({"js", "java", "go"})

# the head of the identifier-part Zipf: ranks 0..len-1
COMMON_PARTS = (
    "get set value data name id list map key index count result error file "
    "path type size len node item config request response context user "
    "update create delete read write parse load save init run start stop "
    "handle buffer string number time test info state event message query "
    "table field column row cache client server connection session token "
    "auth handler manager service factory builder util helper base default "
    "max min total offset limit page filter sort order group format "
    "input output source target local remote new old current next prev "
    "first last temp tmp flag options params args kwargs callback promise "
    "future task job worker queue stream reader writer logger log debug "
    "warn trace metric stats counter timer timeout retry attempt status "
    "code header body content text line char byte bytes array vector "
    "matrix graph tree edge parent child root leaf entry record schema "
    "model view controller component widget button label form layout "
    "style color width height point rect range span block chunk segment "
    "batch pool lock mutex channel signal hash digest checksum version "
    "build deploy env path url uri host port address socket packet frame "
    "image audio video media asset resource bundle module package plugin "
    "extension hook filter mapper reducer selector action dispatch store "
    "reducer effect ref memo props children render mount unmount "
    "validate check verify assert expect mock stub spy fixture setup "
    "teardown before after each all any some none empty default"
).split()
COMMON_PARTS = tuple(dict.fromkeys(COMMON_PARTS))  # de-duplicate, keep order

_CONS = "bcdfghjklmnprstvwz"
_VOWS = "aeiou"
_SYLLABLES = tuple(c + v for c in _CONS for v in _VOWS)  # 90 CV syllables


_SYL_BYTES = np.frombuffer("".join(_SYLLABLES).encode(), np.uint8).reshape(-1, 2)
_MULT = 7919  # prime, coprime with every band size 90^k: a bijection per band


def part_word(rank: int) -> str:
    """Identifier part for a Zipf rank: a real word at the head, then
    synthetic CV-syllable words whose length grows with the rank band.
    Two synthetic ranks never share a word (bands differ in length; within
    a band the index is scrambled by a multiplier coprime with the band
    size); a few synthetic words spell a head word ("data", "node") and
    simply add to that term's frequency."""
    return part_words(np.asarray([rank], np.int64))[0]


def part_words(ranks: np.ndarray) -> list[str]:
    """Vectorized :func:`part_word` over an int64 rank array."""
    out = np.empty(ranks.size, dtype=object)
    head = ranks < len(COMMON_PARTS)
    for i in np.flatnonzero(head):
        out[i] = COMMON_PARTS[ranks[i]]
    r = ranks - len(COMMON_PARTS)
    n_syl, lo = 2, 0
    n_s = len(_SYLLABLES)
    while True:
        band = n_s ** n_syl
        sel = np.flatnonzero(~head & (r >= lo) & (r < lo + band))
        if sel.size:
            x = ((r[sel] - lo) * _MULT + 97) % band
            digits = np.stack([(x // n_s ** j) % n_s for j in range(n_syl)], axis=1)
            raw = np.ascontiguousarray(_SYL_BYTES[digits].reshape(sel.size, 2 * n_syl))
            words = raw.view(f"S{2 * n_syl}").ravel().astype(str)
            out[sel] = words
        lo += band
        if not ((~head) & (r >= lo)).any():
            break
        n_syl += 1
    return list(out)


def zipf_ranks(rng: np.random.Generator, n: int, vocab_size: int) -> np.ndarray:
    """Log-uniform ranks in [0, vocab_size): P(r) ~ 1/(r+1) (Zipf, s=1)."""
    u = rng.random(n)
    return (np.exp(u * math.log(vocab_size + 1.0)) - 1.0).astype(np.int64)


def _ident(parts: list[str], lang: str, style: int) -> str:
    if style == 0 and len(parts) > 1:  # constant: UPPER_SNAKE
        return "_".join(p.upper() for p in parts)
    if lang in CAMEL_LANGS:
        return parts[0] + "".join(p.capitalize() for p in parts[1:])
    return "_".join(parts)


# line shapes: {0} and {5} are keywords, {1}..{4} identifiers; with the
# number of identifier slots each uses
_TEMPLATES = (
    ("{0} {1} = {2}({3}, {4})", 4),
    ("{0} {1}.{2}({3})", 3),
    ("{0} {1} {5} {2}:", 2),
    ("{0} {1}", 1),
    ("{0} {1}({2}, {3}, {4}) {5}", 4),
)


def generate(seed: int, n_files: int, first_doc_id: int = 0,
             vocab_size: int = 20_000_000, lines_mean: float = 6.0,
             lang_shares: tuple[float, ...] = LANG_SHARES) -> dict:
    """Return column lists for ``n_files`` documents with doc_ids
    ``first_doc_id ..``; plus the generator-side ``part_ranks`` of every
    identifier part per file (used only to pick query terms by frequency
    band — expected answers come from the text, never from these)."""
    rng = np.random.default_rng(seed)
    lang_ix = rng.choice(len(LANGS), size=n_files, p=np.asarray(lang_shares))
    n_lines = np.maximum(2, rng.poisson(lines_mean, size=n_files)).astype(np.int64)
    total_lines = int(n_lines.sum())
    tmpl = rng.integers(0, len(_TEMPLATES), size=total_lines)
    n_ids = np.array([t[1] for t in _TEMPLATES])[tmpl]
    kw_per_lang = min(len(v) for v in KEYWORDS.values())
    kw_rank = np.minimum(
        zipf_ranks(rng, 2 * total_lines, kw_per_lang * 4) // 4, kw_per_lang - 1
    ).reshape(total_lines, 2)
    part_len = rng.choice(3, size=int(n_ids.sum()), p=(0.35, 0.45, 0.20)) + 1
    ranks = zipf_ranks(rng, int(part_len.sum()), vocab_size)
    styles = rng.integers(0, 12, size=part_len.size)

    uniq, inv = np.unique(ranks, return_inverse=True)
    words = part_words(uniq)
    # plain lists: the per-file loop indexes them element by element
    part_word_at = [words[i] for i in inv.tolist()]
    part_len_l, styles_l = part_len.tolist(), styles.tolist()
    tmpl_l, kw_rank_l = tmpl.tolist(), kw_rank.tolist()
    lang_l, n_lines_l = lang_ix.tolist(), n_lines.tolist()

    texts: list[str] = []
    file_ranks: list[np.ndarray] = []
    line_pos = 0
    id_pos = 0
    part_pos = 0
    for f in range(n_files):
        lang = LANGS[lang_l[f]]
        kws = KEYWORDS[lang]
        lines = []
        f_part_start = part_pos
        for ln in range(line_pos, line_pos + n_lines_l[f]):
            fmt, ni = _TEMPLATES[tmpl_l[ln]]
            idents = []
            for _ in range(ni):
                k = part_len_l[id_pos]
                parts = part_word_at[part_pos:part_pos + k]
                idents.append(_ident(parts, lang, styles_l[id_pos]))
                part_pos += k
                id_pos += 1
            idents += [""] * (4 - ni)
            kw0, kw1 = kw_rank_l[ln]
            lines.append(fmt.format(kws[kw0], *idents, kws[kw1]))
        line_pos += n_lines_l[f]
        texts.append("\n".join(lines) + "\n")
        file_ranks.append(ranks[f_part_start:part_pos])
    doc_ids = np.arange(first_doc_id, first_doc_id + n_files, dtype=np.int64)
    # repositories: contiguous runs of ~40 files
    repo = (doc_ids // 40).astype(np.int64)
    return {
        "doc_id": doc_ids,
        "text": texts,
        "lang": [LANGS[i] for i in lang_ix],
        "source": [f"repo{r}" for r in repo],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        "part_ranks": file_ranks,
    }


def write_documents(cols: dict, out_dir: str,
                    row_group_rows: int = 8192) -> tuple[str, int]:
    """Write the documents table as ``<out_dir>/documents.parquet`` (one
    file, small row groups so Spark's scan splits across the cores).
    Returns (path, content bytes)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    tbl = pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
        "source": pa.array(cols["source"], pa.string()),
        "n_chars": pa.array(cols["n_chars"], pa.int64()),
    })
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(tbl, path, row_group_size=row_group_rows)
    content_bytes = sum(len(t.encode()) for t in cols["text"])
    return path, content_bytes
