"""Index settings, mirroring the reference's ``config.IndexSettings``.

Reference: /root/reference/config/settings.go:31-43 (fields) and
:141-153 (defaults MinWordSizeFor1Typo=4, MinWordSizeFor2Typos=7).
"""

from __future__ import annotations

from dataclasses import dataclass, field

# BM25 ranker defaults pinned by the reference
# (/root/reference/internal/search/bm25.go:63-64).
BM25_K1 = 1.2
BM25_B = 0.75

# Typo score penalties (/root/reference/internal/search/service.go:246,308).
TYPO_PENALTY_1 = 0.8
TYPO_PENALTY_2 = 0.6

# The reference caps a typo scan at 500 candidates OR 50 ms wall clock
# (/root/reference/internal/search/service.go:188-189). A wall-clock cutoff
# is nondeterministic and breaks rank identity, so this engine replaces the
# dual criteria with a deterministic cap: the first MAX_TYPO_CANDIDATES
# candidates ordered by (distance asc, term asc).
MAX_TYPO_CANDIDATES = 500

# WAND auto gate (query/wand.py): below this estimated candidate posting
# volume (sum of candidate-term df) wand_topk takes the single-pass
# exhaustive plan instead of the rare-anchored one (rank-identical either
# way). Not yet derived from measurements: on the 150k-doc scaling index
# it sends every measured query to exhaustive, including rare-anchor
# queries where the anchored plan is faster (ROADMAP direction 5).
WAND_MIN_POSTINGS = 500_000


@dataclass
class RankingCriterion:
    """One ranking criterion: a field (or pseudo-field ``~score`` /
    ``~filters``) plus direction. Reference: config/settings.go:26-29."""

    field: str
    order: str = "desc"  # "asc" | "desc"


@dataclass
class IndexSettings:
    """Per-index configuration.

    ``searchable_fields`` order is the field priority order. Fields listed
    in ``fields_without_prefix_search`` are tokenized without edge n-grams
    (reference T4: internal/indexing/service.go:310-320) -- this is also
    the sane default for huge source-code bodies where per-byte prefixes
    would blow up the index.
    """

    name: str = "default"
    searchable_fields: list[str] = field(default_factory=lambda: ["content"])
    filterable_fields: list[str] = field(default_factory=list)
    ranking_criteria: list[RankingCriterion] = field(default_factory=list)
    min_word_size_for_1_typo: int = 4
    min_word_size_for_2_typos: int = 7
    fields_without_prefix_search: list[str] = field(default_factory=list)
    no_typo_tolerance_fields: list[str] = field(default_factory=list)
    non_typo_tolerant_words: list[str] = field(default_factory=list)
    distinct_field: str | None = None
    # Deviation flag (default None = faithful): cap edge-n-gram length.
    # The reference emits every byte-prefix of every token
    # (tokenizer.go:41-52), which explodes on long source-code
    # identifiers; SURVEY.md section 7 risk (c) allows a cap behind a
    # flag. None preserves reference behavior exactly.
    max_ngram_len: int | None = None

    # --- engine-level build knobs (new work, not in the reference) ---
    # Posting block size for delta+varint block-max compression.
    block_size: int = 128
    # Terms with df above this threshold get salted into
    # ``salt_buckets`` sub-lists during the shuffle to kill skew.
    salt_df_threshold: int = 100_000
    salt_buckets: int = 16
    # Number of hash buckets the postings table is partitioned by
    # (query-time partition pruning on term buckets).
    term_buckets: int = 32
    # Store per-posting token positions (phrase / proximity / highlight
    # need them; the reference never writes its declared Positions field,
    # index/posting.go:10). False drops the positions stream -- a smaller
    # index and a faster build for corpora that only need BM25 ranking.
    store_positions: bool = True

    def uses_prefix(self, field_name: str) -> bool:
        return field_name not in self.fields_without_prefix_search

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "searchable_fields": list(self.searchable_fields),
            "filterable_fields": list(self.filterable_fields),
            "ranking_criteria": [
                {"field": c.field, "order": c.order} for c in self.ranking_criteria
            ],
            "min_word_size_for_1_typo": self.min_word_size_for_1_typo,
            "min_word_size_for_2_typos": self.min_word_size_for_2_typos,
            "fields_without_prefix_search": list(self.fields_without_prefix_search),
            "no_typo_tolerance_fields": list(self.no_typo_tolerance_fields),
            "non_typo_tolerant_words": list(self.non_typo_tolerant_words),
            "distinct_field": self.distinct_field,
            "max_ngram_len": self.max_ngram_len,
            "block_size": self.block_size,
            "salt_df_threshold": self.salt_df_threshold,
            "salt_buckets": self.salt_buckets,
            "term_buckets": self.term_buckets,
            "store_positions": self.store_positions,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "IndexSettings":
        d = dict(d)
        d["ranking_criteria"] = [
            RankingCriterion(**c) for c in d.get("ranking_criteria", [])
        ]
        return cls(**d)
