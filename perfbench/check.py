"""Answer checks, run outside the timed spans.

BM25 answers are compared with the package's pure-Python oracle on the
same corpus. Multi-token scores are float sums whose order differs
across physical plans, so two documents tied to within an ulp may swap
places; the comparison therefore uses scores rounded to 9 decimals and
lets documents differ only inside the tie group at the top-k boundary.
Phrase answers are compared with a direct scan of each document's token
sequence.
"""

from __future__ import annotations

from collections import Counter

ND = 9


def _ranked(pairs: list[tuple[float, str]]) -> tuple[list[float], set]:
    """Rounded scores, and the documents scored above the lowest one."""
    scores = [round(s, ND) for s, _ in pairs]
    low = min(scores, default=None)
    return scores, {d for (_, d), r in zip(pairs, scores) if r != low}


def same_topk(got: list[tuple[float, str]], want: list[tuple[float, str]]) -> bool:
    """(score, documentID) lists: equal rounded score lists, and equal
    document sets above the lowest (boundary) score."""
    return _ranked(got) == _ranked(want)


def bm25_rows(rows) -> list[tuple[float, str]]:
    return [(float(r["score"]), r["documentID"]) for r in rows]


def phrase_rows(rows) -> list[tuple[str, int]]:
    return [(r["documentID"], int(r["n_occurrences"])) for r in rows]


class PhraseOracle:
    """Top-k documents by phrase occurrence count (desc), documentID
    (asc) -- the engine's doc ids are documentID ranks, so this is its
    (n_occurrences desc, doc_id asc) order."""

    def __init__(self, docs: list[dict], tokens: list[list[str]]):
        self.docs = docs
        self.tokens = tokens

    def search(self, words: list[str], k: int) -> list[tuple[str, int]]:
        n = len(words)
        hits = Counter()
        for d, toks in zip(self.docs, self.tokens):
            c = sum(1 for a in range(len(toks) - n + 1) if toks[a:a + n] == words)
            if c:
                hits[d["documentID"]] = c
        return sorted(hits.items(), key=lambda x: (-x[1], x[0]))[:k]
