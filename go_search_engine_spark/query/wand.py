"""Rare-anchored pruned top-k, adapted to this engine's AND-over-tokens +
summed-BM25 semantics.

The reference has no equivalent: it keeps impact-ordered uncompressed
lists and scores every candidate (service.go:328-438). This module skips
decoding posting blocks that provably hold no result doc, using block
metadata only, while staying rank-identical to the exhaustive engine
(tests/test_wand.py).

Key idea for AND semantics: every result doc occurs in the postings of
the *rarest* query token R, so R's candidate postings (cheap by
definition) are read in full and anchor everything:

  1. rare side: R's postings through ``engine.decoded_postings`` (the one
     posting reader: a small anchor is decoded on the driver into one
     partition, a large one by the Spark scan + one doc_id exchange),
     scored by ``score_and_intersect`` -- R's exact per-doc contribution,
     exact because ALL of R's entries are present (no cross-phase split
     of a token's exact/typo entries, which would break exact-skip);
  2. other side: the other tokens' blocks, decoded only where they
     overlap a doc-space chunk holding a rare doc (a distributed chunk
     semi-join, when the doc space spans more than 8 chunks), then
     restricted to the rare docs and scored the same way;
  3. the two sides join on doc_id and their contributions add up.

A candidate term SHARED by the rare token and another token (e.g. 'cart'
and 'card' both within distance 1 of a third term) plays BOTH roles: it
is read in full for the rare anchor AND decoded for the other token's
contribution. The two sides therefore split the candidate table by
(token, term) row, never by term.

Every emitted score is computed from the complete entry set of its doc,
so the plan is rank-identical by construction.

Two plans, chosen from driver-side candidate stats (zero jobs):
  - exhaustive (``engine.search_from_cand``) under pending deltas (the
    anchor reads base blocks only), for a single query token (the anchor
    would be the whole query), when every candidate term is in the warm
    frame, or below ``WAND_MIN_POSTINGS`` estimated postings;
  - anchored otherwise.
``prune=True`` forces the anchored plan (except under pending deltas or
for a single token), ``prune=False`` the exhaustive one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import WAND_MIN_POSTINGS
from ..functions.tokenizer import tokenize
from .engine import decode_blocks

CHUNK_SHIFT = 16  # doc-space chunk = 65536 ids


def wand_topk(
    engine,
    query: str,
    k: int = 10,
    fields: list[str] | None = None,
    typo_tolerance: bool = True,
    report: dict | None = None,
    prune: bool | None = None,
) -> DataFrame:
    """Rank-identical to ``engine.search``; ``report`` receives the chosen
    ``mode``, ``pruned_path``, ``est_postings``, ``est_rare`` and, on the
    anchored plan, ``rare_token`` and ``n_rare_docs`` (one extra job).
    ``prune``: True forces the anchored plan, False the exhaustive one,
    None picks from driver-side candidate stats."""
    engine._ensure_fresh()
    s = engine.settings
    fields = fields or s.searchable_fields
    bad = set(fields) - set(s.searchable_fields)
    if bad:
        # same contract as engine.search (service.go:82-122): an invalid
        # restriction is an error, not an empty result
        raise ValueError(f"non-searchable fields: {sorted(bad)}")
    tokens = list(dict.fromkeys(tokenize(query)))
    if not tokens:
        return engine._empty_result()

    cand = engine.candidate_terms(tokens, typo_tolerance)

    # summed candidate df per token -- from the candidate table, no job
    tok_df = {
        tok: int(g["df"].sum()) for tok, g in cand.groupby("token")
    }
    if len(tok_df) < len(tokens) or min(tok_df.values(), default=0) == 0:
        return engine._empty_result()  # some token matches nothing => AND empty

    est_postings = int(cand["df"].sum())
    if engine._delta:
        # the anchor decodes BASE blocks only and would silently drop the
        # delta postings; this overrides even prune=True, because a wrong
        # answer is never an acceptable diagnostic
        mode = "delta_exhaustive"
    elif prune is None and engine._warm_decoded is not None and (
        engine._warm_all
        or all(
            engine._is_warm_term(str(t), int(d))
            for t, d in zip(cand["term"], cand["df"])
        )
    ):
        # every candidate term is already decoded in memory: skipping
        # block decodes buys nothing
        mode = "warm_exhaustive"
    elif (
        prune is False
        or len(tokens) == 1
        or (prune is None and est_postings < WAND_MIN_POSTINGS)
    ):
        mode = "exhaustive"
    else:
        mode = "anchored"
    if report is not None:
        report["est_postings"] = est_postings
        report["est_rare"] = min(tok_df.values())
        report["mode"] = mode
        report["pruned_path"] = mode == "anchored"
    if mode != "anchored":
        return engine.search_from_cand(cand, fields, k, n_tokens=len(tokens))

    rare = min(tok_df, key=lambda t: (tok_df[t], t))
    cand_rare = cand[cand["token"] == rare]
    cand_other = cand[cand["token"] != rare]

    # the rare token's exact per-doc contribution; its postings arrive
    # clustered by doc_id, so score_and_intersect needs no exchange
    rare_contrib = (
        engine.score_and_intersect(
            engine.attach_cand(
                engine.decoded_postings(cand_rare, fields), cand_rare
            ),
            n_tokens=1,
        )
        .withColumnsRenamed({
            "score": "rare_score",
            "num_typos": "rare_typos",
            "number_exact_words": "rare_exw",
        })
        .persist()
    )

    other_blk = engine.candidate_blocks(cand_other, fields)
    # chunk-level block pruning only pays when the doc space spans many
    # chunks: with the whole corpus inside a handful of 65536-doc chunks
    # every block overlaps the rare docs' chunks anyway, and the
    # semi-join + dropDuplicates would be a sub-job chain for nothing
    # (max_doc_id from stats.json, zero jobs)
    if (int(engine.stats["max_doc_id"]) >> CHUNK_SHIFT) + 1 > 8:
        doc_chunks = rare_contrib.select(
            F.shiftright(F.col("doc_id"), CHUNK_SHIFT).alias("chunk")
        ).distinct()
        other_blk = (
            other_blk.withColumn(
                "chunk",
                F.explode(F.sequence(
                    F.shiftright(F.col("first_doc"), CHUNK_SHIFT),
                    F.shiftright(F.col("last_doc"), CHUNK_SHIFT),
                )),
            )
            .join(F.broadcast(doc_chunks), "chunk", "left_semi")
            .drop("chunk")
            .dropDuplicates(["term", "field", "salt", "block_id"])
        )
    # the doc semi-join is an O(1)-per-row broadcast probe, cheap inside
    # the decode stage's few splits; the survivors are then shuffled by
    # doc_id BEFORE the interpreted candidate attach, so the attach runs
    # at full parallelism and the partitioning carries into
    # score_and_intersect (one exchange for the other side)
    surv = decode_blocks(other_blk).join(
        F.broadcast(rare_contrib.select("doc_id")), "doc_id", "left_semi"
    )
    other = engine.score_and_intersect(
        engine.attach_cand(surv.repartition(F.col("doc_id")), cand_other),
        n_tokens=len(tokens) - 1,
    )
    out = rare_contrib.join(other, "doc_id").select(
        "doc_id",
        (F.col("rare_score") + F.col("score")).alias("score"),
        (F.col("rare_typos") + F.col("num_typos")).cast("int")
        .alias("num_typos"),
        (F.col("rare_exw") + F.col("number_exact_words")).cast("int")
        .alias("number_exact_words"),
    )
    if report is not None:
        report["rare_token"] = rare
        report["n_rare_docs"] = rare_contrib.count()
    res = engine.finish_topk(out, k)
    if k <= 10_000:
        # eager localCheckpoint materializes the k rows executor-side and
        # cuts lineage, so the rare frame is released right away instead
        # of leaking block-manager cache in a long-lived service. Huge-k
        # calls (oracle parity sweeps) keep the lazy plan and rely on
        # GC/ContextCleaner.
        res = res.localCheckpoint(eager=True)
        rare_contrib.unpersist()
    return res
