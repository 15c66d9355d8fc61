"""Positional phrase search: stored posting positions drive adjacency
matching (query/phrase.py). The reference declares Positions
(index/posting.go:10) but never writes them; this engine populates them at
build (build/flatmap.py) -- these tests pin the query-time semantics."""

from __future__ import annotations

import pytest

from go_search_engine_spark.build.builder import IndexBuilder
from go_search_engine_spark.config import IndexSettings
from go_search_engine_spark.query.engine import SearchEngine
from go_search_engine_spark.query.phrase import phrase_search

DOCS = [
    # documentID, title (prefix-indexed), body (no-prefix)
    ("p1", "alpha beta gamma", "the quick brown fox"),
    ("p2", "beta alpha", "quick brown quick brown fox"),   # 2x "quick brown"
    ("p3", "gamma", "brown quick fox"),                    # reversed: no match
    ("p4", "alpha", "quick"),       # "quick" body, "brown" absent
    ("p5", "brown fox", "quick"),   # phrase split across fields: no match
    ("p6", "quickBrown camera", "nothing here"),  # camelCase -> quick brown
    ("p7", "noise", "data data data value"),      # duplicate-token phrases
    # 70 tokens cycling 10 words: room for phrases of >= 64 tokens
    ("p8", "longform", " ".join(
        "ember flint grove harbor inlet jetty kelp lagoon marsh nook".split()
        * 7
    )),
]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_phrase"))
    settings = IndexSettings(
        name="phrase",
        searchable_fields=["title", "body"],
        fields_without_prefix_search=["body"],
        block_size=4,
    )
    corpus = spark.createDataFrame(DOCS, ["documentID", "title", "body"])
    IndexBuilder(spark, settings, wh).build(corpus, num_shards=1)
    return SearchEngine(spark, wh, "phrase")


def _hits(df):
    return {r["documentID"]: r["n_occurrences"] for r in df.collect()}


def _token_scan(tokens):
    """Reference answer: occurrences of the token sequence in each
    field's token list, per document."""
    from go_search_engine_spark.functions.tokenizer import tokenize

    out = {}
    for doc, *fields in DOCS:
        n = sum(
            toks[i:i + len(tokens)] == tokens
            for toks in map(tokenize, fields)
            for i in range(len(toks) - len(tokens) + 1)
        )
        if n:
            out[doc] = n
    return out


def test_adjacency_and_counts(engine):
    h = _hits(phrase_search(engine, "quick brown", k=10))
    # p1: 1 occurrence; p2: 2 occurrences; p6: camelCase title splits to
    # "quick brown"; p3 (reversed), p4 (missing term), p5 (cross-field)
    # must not match
    assert h == {"p2": 2, "p1": 1, "p6": 1}
    top = phrase_search(engine, "quick brown", k=10).collect()
    assert top[0]["documentID"] == "p2" and top[0]["rank"] == 1


def test_order_matters(engine):
    # p2 "quick brown quick brown fox" contains "brown quick" at (1,2)
    assert _hits(phrase_search(engine, "brown quick", k=10)) == {
        "p2": 1,
        "p3": 1,
    }
    # but p1/p6 (single "quick brown") do not match the reversal
    assert "p1" not in _hits(phrase_search(engine, "brown quick", k=10))


def test_three_token_phrase(engine):
    # p1 at (1,2,3); p2's second "quick brown" is followed by "fox" (2,3,4)
    assert _hits(phrase_search(engine, "quick brown fox", k=10)) == {
        "p1": 1,
        "p2": 1,
    }
    assert _hits(phrase_search(engine, "brown quick brown", k=10)) == {"p2": 1}


def test_duplicate_token_phrase(engine):
    # "data data" occurs at offsets (0,1) and (1,2) in p7
    assert _hits(phrase_search(engine, "data data", k=10)) == {"p7": 2}
    assert _hits(phrase_search(engine, "data data data", k=10)) == {"p7": 1}
    assert _hits(phrase_search(engine, "data value", k=10)) == {"p7": 1}
    assert _hits(phrase_search(engine, "value data", k=10)) == {}
    # >= 64 tokens: the slot bitmask no longer fits a long and the
    # count(DISTINCT slot) fallback runs (query/phrase.py)
    words = DOCS[-1][2].split()
    assert _token_scan(words[:64]) == {"p8": 1}
    for tokens in (words[:64], words[3:70], words[:63] + ["ember"]):
        assert len(tokens) >= 64
        assert _hits(
            phrase_search(engine, " ".join(tokens), k=10)
        ) == _token_scan(tokens)


def test_prefix_field_ngrams_are_not_words(engine):
    # title is prefix-indexed: "alph" is an edge n-gram of "alpha", not a
    # word occurrence -- a phrase containing it must not match
    assert _hits(phrase_search(engine, "alph beta", k=10)) == {}
    # but the full words adjacent in the title do match
    assert _hits(phrase_search(engine, "alpha beta", k=10)) == {"p1": 1}
    assert _hits(phrase_search(engine, "beta alpha", k=10)) == {"p2": 1}


def test_single_token_and_empty(engine):
    h = _hits(phrase_search(engine, "quick", k=10))
    assert h == {"p2": 2, "p1": 1, "p3": 1, "p4": 1, "p5": 1, "p6": 1}
    assert phrase_search(engine, "", k=10).count() == 0
    assert _hits(phrase_search(engine, "zzz qqq", k=10)) == {}


def test_field_restriction(engine):
    assert _hits(
        phrase_search(engine, "quick brown", k=10, fields=["title"])
    ) == {"p6": 1}
    with pytest.raises(ValueError, match="non-searchable"):
        phrase_search(engine, "quick brown", fields=["nope"])


def test_rare_term_pruned_path(spark, tmp_path_factory):
    """df-skewed phrases take the rare-term semi-join path; results must
    be identical to the unskewed logic."""
    wh = str(tmp_path_factory.mktemp("wh_phrase_skew"))
    # "the" is a stop-word-ish term (every doc); "needle" is rare
    docs = [(f"s{i:02d}", "the filler the words the again") for i in range(20)]
    docs += [
        ("n01", "the needle the haystack"),     # "the needle" at (0,1)
        ("n02", "needle the end"),              # "the needle" absent
        ("n03", "find the needle the needle"),  # "the needle" at (1,2),(3,4)
    ]
    settings = IndexSettings(
        name="phrase_skew",
        searchable_fields=["body"],
        fields_without_prefix_search=["body"],
        block_size=8,
    )
    corpus = spark.createDataFrame(docs, ["documentID", "body"])
    IndexBuilder(spark, settings, wh).build(corpus, num_shards=1)
    eng = SearchEngine(spark, wh, "phrase_skew")
    # df("the") = 23, df("needle") = 3 -> 4x skew guard triggers
    h = _hits(phrase_search(eng, "the needle", k=10))
    assert h == {"n01": 1, "n03": 2}
    assert _hits(phrase_search(eng, "needle the", k=10)) == {
        "n01": 1,
        "n02": 1,
        "n03": 1,
    }
    # unindexed term short-circuits to empty with zero jobs
    assert _hits(phrase_search(eng, "the zzzmissing", k=10)) == {}


def test_proximity_search(engine):
    from go_search_engine_spark.query.phrase import proximity_search

    def hits(q, w):
        return {
            r["documentID"]: r["n_windows"]
            for r in proximity_search(engine, q, window=w, k=10).collect()
        }

    # window=2 == adjacency in either order: only p3 "brown quick fox"
    # has quick,fox adjacent (1,2); p1 has a gap (1 vs 3), p2 (2 vs 4)
    assert set(hits("quick fox", 2)) == {"p3"}
    # window=3 admits one-apart pairs: p1 (1,3), p2 (2,4), p3 (1,2)
    assert set(hits("quick fox", 3)) == {"p1", "p2", "p3"}
    # unordered: reversed query identical
    assert hits("fox quick", 3) == hits("quick fox", 3)
    # duplicate tokens collapse to one distinct term
    assert set(hits("data data value", 2)) == {"p7"}
    # cross-field co-occurrence never matches (p5: fox in title,
    # quick in body)
    assert "p5" not in hits("quick fox", 10)
    # missing term -> empty, zero jobs
    assert hits("quick zzznope", 10) == {}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="window"):
        proximity_search(engine, "quick fox", window=0)


def test_spark_read_path(spark, tmp_path_factory, engine, spark_read):
    """The phrase, proximity and rare-term semi-join checks above on the
    distributed posting read instead of the driver read."""
    test_adjacency_and_counts(engine)
    test_three_token_phrase(engine)
    test_duplicate_token_phrase(engine)
    test_proximity_search(engine)
    test_rare_term_pruned_path(spark, tmp_path_factory)
