"""Seeded inputs for the benchmark: corpus, query mix and upsert batches.

Everything here is a pure function of ``(seed, n_docs, n_words)`` and
lives in the benchmark's own files, so a change to the package cannot
shift the workload. The corpus follows the ``(repo, path, commit, lang, content)``
schema plus a unique ``documentID``.

Content is source-code shaped: identifiers are camelCase / snake_case
joins of vocabulary words, so the tokenizer's camel and punctuation
splits run, while ``tokenize(content)`` is exactly the drawn word
sequence. Word frequencies follow a Zipf law over a vocabulary of a few
thousand words (head keywords first), and a share of words get planted
1-2-edit neighbours that are themselves vocabulary words, so the typo
scan finds real candidates.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KINDS = ("exact", "typo", "wand", "phrase")

HEAD = [
    "func", "return", "if", "err", "var", "the", "for", "nil", "int",
    "string", "self", "import", "const", "type", "struct", "else",
]
SYLLABLES = [
    "ba", "ce", "di", "fo", "gu", "ka", "le", "mi", "no", "pu", "ra", "se",
    "ti", "vo", "zu", "xan", "ter", "mon", "lin", "por", "qua", "bri",
    "sto", "fle", "dra", "cor", "gen", "hal", "jet", "wix", "mar", "pel",
]
LANGS = ["go", "py", "java", "ts", "rs", "c"]
LETTERS = "abcdefghijklmnopqrstuvwxyz"

ZIPF_S = 1.05
WORDS_PER_DOC = (40, 120)


def _edit(rng: np.random.Generator, w: str, n_edits: int) -> str:
    """Apply ``n_edits`` random substitutions, deletions, insertions or
    adjacent transpositions to ``w`` (result stays lowercase alpha)."""
    for _ in range(n_edits):
        op = int(rng.integers(4))
        i = int(rng.integers(len(w)))
        c = LETTERS[int(rng.integers(26))]
        if op == 0:
            w = w[:i] + c + w[i + 1:]
        elif op == 1 and len(w) > 4:
            w = w[:i] + w[i + 1:]
        elif op == 2:
            w = w[:i] + c + w[i:]
        elif i + 1 < len(w):
            w = w[:i] + w[i + 1] + w[i] + w[i + 2:]
    return w


def vocabulary(rng: np.random.Generator, n_words: int) -> list[str]:
    """Head keywords, then syllable words, with ~10% of the syllable
    words followed by a planted 1- or 2-edit neighbour."""
    words = list(HEAD)
    seen = set(words)
    while len(words) < n_words:
        n_syl = int(rng.integers(2, 5))
        w = "".join(SYLLABLES[int(j)] for j in rng.integers(len(SYLLABLES), size=n_syl))
        if w in seen:
            continue
        words.append(w)
        seen.add(w)
        if rng.random() < 0.1:
            v = _edit(rng, w, int(rng.integers(1, 3)))
            if v not in seen:
                words.append(v)
                seen.add(v)
    return words[:n_words]


SEPARATORS = ["(", ") ", ", ", ".", " = ", "\n", " "]


def _render(rng: np.random.Generator, toks: list[str]) -> str:
    """Join words into code-like text whose tokenization is ``toks``:
    runs of 1-3 words become a camelCase, snake_case or spaced
    identifier, followed by a punctuation separator."""
    n = len(toks)
    sizes = rng.integers(1, 4, size=n)
    styles = rng.integers(3, size=n)
    seps = rng.integers(len(SEPARATORS), size=n)
    out = []
    i = j = 0
    while i < n:
        part = toks[i:i + int(sizes[j])]
        style = styles[j]
        if style == 0:
            out.append(part[0] + "".join(p.capitalize() for p in part[1:]))
        elif style == 1:
            out.append("_".join(part))
        else:
            out.append(" ".join(part))
        out.append(SEPARATORS[seps[j]])
        i += len(part)
        j += 1
    return "".join(out)


class Inputs:
    """The seeded corpus plus the query mix and upsert batches drawn from
    it. ``docs`` is a list of row dicts; ``tokens[i]`` is the word
    sequence of ``docs[i]['content']``."""

    def __init__(self, seed: int, n_docs: int, n_words: int):
        self.seed = seed
        self.n_docs = n_docs
        rng = np.random.default_rng(seed)
        self.vocab = vocabulary(rng, n_words)
        ranks = np.arange(1, len(self.vocab) + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self.cdf = np.cumsum(p / p.sum())
        self.docs: list[dict] = []
        self.tokens: list[list[str]] = []
        for i in range(n_docs):
            doc, toks = self._new_doc(rng, f"doc-{i:07d}")
            self.docs.append(doc)
            self.tokens.append(toks)

    def _new_doc(self, rng: np.random.Generator, doc_id: str) -> tuple[dict, list[str]]:
        n = int(rng.integers(*WORDS_PER_DOC))
        # inverse-CDF draw: rng.choice(p=...) rebuilds the CDF per call
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        toks = [self.vocab[int(j)] for j in np.minimum(idx, len(self.vocab) - 1)]
        repo = f"org{int(rng.integers(7))}/repo{int(rng.integers(97))}"
        lang = LANGS[int(rng.integers(len(LANGS)))]
        path = f"src/pkg{int(rng.integers(23))}/file{int(rng.integers(311))}.{lang}"
        doc = {
            "documentID": doc_id,
            "repo": repo,
            "path": path,
            "commit": hashlib.sha1(f"{repo}/{path}/{doc_id}".encode()).hexdigest(),
            "lang": lang,
            "content": _render(rng, toks),
        }
        return doc, toks

    # -- queries ---------------------------------------------------------
    def queries(self, n_cycles: int, stream: int) -> list[tuple[str, str]]:
        """``n_cycles`` rounds of one query per kind, as (kind, text),
        from the seed's random ``stream`` (distinct streams give
        independent query lists).

        Query words come from a random document: the first is drawn from
        its word occurrences (Zipf-skewed toward head terms), the rest
        from its distinct words (rarer identifiers), so postings counts
        differ by orders of magnitude across queries. ``typo`` plants a
        1-2-edit typo in every word long enough for the typo gates;
        ``phrase`` takes consecutive words. Word counts rotate with the
        round (``exact`` and ``typo`` 1-3, ``wand`` and ``phrase`` 2-3),
        so every seed's mix has the same count structure."""
        rng = np.random.default_rng([self.seed, stream])
        out = []
        for r in range(n_cycles):
            counts = {
                "exact": 1 + r % 3, "typo": 1 + (r + 1) % 3,
                "wand": 2 + r % 2, "phrase": 2 + (r + 1) % 2,
            }
            for kind in KINDS:
                toks = self.tokens[int(rng.integers(self.n_docs))]
                n = counts[kind]
                if kind == "phrase":
                    a = int(rng.integers(len(toks) - n + 1))
                    words = toks[a:a + n]
                else:
                    distinct = sorted(set(toks))
                    words = [toks[int(rng.integers(len(toks)))]]
                    while len(words) < n and len(words) < len(distinct):
                        w = distinct[int(rng.integers(len(distinct)))]
                        if w not in words:
                            words.append(w)
                    if kind == "typo":
                        words = [
                            _edit(rng, w, 2 if len(w) >= 7 else 1) if len(w) >= 5 else w
                            for w in words
                        ]
                out.append((kind, " ".join(words)))
        return out

    # -- upserts ---------------------------------------------------------
    def upsert_batches(self, n_batches: int, batch_size: int) -> list[list[dict]]:
        """Seeded PUT batches: about half the documents rewrite an existing
        ``documentID`` with fresh content, the rest are new inserts. Each
        document carries a marker word unique to its batch (``mkNNsSEED``)
        so the read-after-write search can see the version just written."""
        rng = np.random.default_rng([self.seed, 2])
        batches = []
        next_new = self.n_docs
        for b in range(n_batches):
            marker = f"mk{b}s{self.seed}"
            batch = []
            ids = set()
            while len(batch) < batch_size:
                if rng.random() < 0.5:
                    doc_id = f"doc-{int(rng.integers(self.n_docs)):07d}"
                    if doc_id in ids:
                        continue
                else:
                    doc_id = f"doc-{next_new:07d}"
                    next_new += 1
                ids.add(doc_id)
                doc, _ = self._new_doc(rng, doc_id)
                doc["content"] = f"{marker} {doc['content']}"
                batch.append(doc)
            batches.append(batch)
        return batches


def write_corpus(inputs: Inputs, cache_dir: str) -> str:
    """Write the corpus parquet once per (seed, size) and return its path."""
    path = os.path.join(
        cache_dir, f"corpus_s{inputs.seed}_n{inputs.n_docs}_v{len(inputs.vocab)}.parquet"
    )
    if not os.path.exists(path):
        cols = {k: [d[k] for d in inputs.docs] for k in inputs.docs[0]}
        tmp = f"{path}.{os.getpid()}.tmp"
        pq.write_table(pa.table(cols), tmp)
        os.replace(tmp, path)
    return path


def content_bytes(docs: list[dict]) -> int:
    return sum(len(d["content"].encode()) for d in docs)
