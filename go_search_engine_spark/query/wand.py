"""Block-max pruned top-k (WAND-style), adapted to this engine's
AND-over-tokens + summed-BM25 semantics.

The reference has no equivalent: it keeps impact-ordered uncompressed
lists and scores every candidate (service.go:328-438). This module is the
scale path the north rule asks for -- skip decoding posting blocks that
provably cannot contribute to the top-k, using block metadata only, while
staying rank-identical to the exhaustive engine (tests/test_wand.py).

Key idea for AND semantics: every result doc occurs in the postings of
the *rarest* query token R, so R's candidate postings (cheap by
definition) are decoded in full and anchor everything:

  1. rare_contrib(d): R's exact per-doc contribution (exact-skip +
     best-distance + max penalized BM25) -- computable exactly because
     ALL of R's entries are present; no cross-phase split of a token's
     exact/typo entries (that split would break exact-skip soundness).
  2. block-max upper bound: UB(d) = rare_contrib(d) + sum over other
     tokens of max over that token's candidate terms of
     penalty * idf * sum over FIELDS of the per-(term, field) max block
     bound bm25_tf(max_tf, min_dl). The per-field SUM is required for
     soundness: scoring sums tf across fields before BM25 saturation
     (engine.score_and_intersect), and since bm25_tf is concave with
     bm25_tf(0) = 0, sat(tf_a + tf_b) <= sat(tf_a) + sat(tf_b) <=
     bound_a + bound_b. A per-field max alone can under-bound a doc
     matching in 2+ fields and wrongly prune a true top-k doc.
  3. theta = k-th best fully-scored AND result among the 4k docs with the
     highest rare_contrib (phase 1, exact scores).
  4. the *common* tokens' blocks -- the expensive ones -- are decoded only
     if they overlap a doc-space chunk containing a surviving rare doc
     (distributed chunk equi-join, never a driver-side interval scan).

A candidate term SHARED by the rare token and another token (e.g. 'cart'
and 'card' both within distance 1 of a third term) plays BOTH roles: it
is decoded in full for the rare anchor AND decoded for the other token's
contribution. Exclusions are therefore by (token, term) pair (via the
candidate-meta join), never by term.

Every emitted score is computed from the complete entry set of its doc,
so correctness never depends on the pruning arithmetic being tight --
only the prune direction (upper bounds are maxima over penalized exact
per-entry BM25 scores precomputed at build time, build/blocks.py).

Cost gate -- three auto tiers, all chosen from driver-side candidate
stats (zero jobs):
  1. tiny (est_postings < ``WAND_MIN_POSTINGS``): single-pass exhaustive
     plan, rank-identical by construction;
  2. medium rare anchor (rare token's candidate df <=
     ``WAND_SINGLE_PHASE_MAX_RARE``): single-phase anchored -- decode the
     rare anchor in full, chunk-join the other tokens' blocks ONCE, score
     everything exactly; no seed/theta round-trip, no bounds needed;
  3. huge rare anchor: the full 2-phase block-max protocol (theta from a
     4k seed, upper-bound-pruned remainder). ``prune=True`` forces this
     tier (tests + bench exercise the pruning machinery explicitly).
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import WAND_MIN_POSTINGS, WAND_SINGLE_PHASE_MAX_RARE
from ..functions.tokenizer import tokenize
from .engine import decode_blocks

CHUNK_SHIFT = 16  # doc-space chunk = 65536 ids

# Bounded-seed literal tier (round 6): when the phase-1 seed is at most
# this many docs, its ids/chunks are inlined as literal predicates and the
# seed rows live on the driver -- zero broadcast-exchange sub-jobs for the
# whole of phase 1 (the r5 profile showed the two-phase floor was the ~36
# SEQUENTIAL AQE sub-jobs of the chained per-call broadcasts, ~130 ms
# each, not compute). 4k ids at the k<=10k collect gate would be a 40k
# literal IN-list (plan-analysis blowup), so the literal tier has its own
# cap; larger k falls back to the broadcast-frame protocol below.
LITERAL_SEED_MAX = 2048


def _span_chunks(first, last):
    return F.sequence(
        F.shiftright(first, CHUNK_SHIFT), F.shiftright(last, CHUNK_SHIFT)
    )


def wand_topk(
    engine,
    query: str,
    k: int = 10,
    fields: list[str] | None = None,
    typo_tolerance: bool = True,
    report: dict | None = None,
    prune: bool | None = None,
) -> DataFrame:
    """Rank-identical to ``engine.search``; ``report`` receives pruning
    statistics (blocks decoded vs alive vs total, chosen ``mode``).
    ``prune``: True forces the 2-phase block-max tier, False forces
    exhaustive, None picks among exhaustive / anchored / two-phase from
    driver-side candidate stats."""
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
    est_rare = min(tok_df.values())
    # pending delta segments: the pruned tiers decode BASE blocks only and
    # would silently drop the delta postings -- serve the exhaustive plan
    # (scan_candidates is delta-aware) until compaction folds them in;
    # this overrides even prune=True because a wrong answer is never an
    # acceptable diagnostic
    if engine._delta:
        if report is not None:
            report["est_postings"] = est_postings
            report["est_rare"] = est_rare
            report["mode"] = "delta_exhaustive"
            report["pruned_path"] = False
        return engine.search_from_cand(cand, fields, k, n_tokens=len(tokens))
    # warm serving mode: when every candidate term is already decoded in
    # the persisted warm frame, block-level decode pruning buys nothing --
    # the exhaustive plan over the in-memory frame is the fastest (and
    # rank-identical) plan. Forced tiers (prune=True) still exercise the
    # pruning machinery.
    if prune is None and engine._warm_decoded is not None and (
        engine._warm_all
        or all(
            engine._is_warm_term(str(t), int(d))
            for t, d in zip(cand["term"], cand["df"])
        )
    ):
        if report is not None:
            report["est_postings"] = est_postings
            report["est_rare"] = est_rare
            report["mode"] = "warm_exhaustive"
            report["pruned_path"] = False
        return engine.search_from_cand(cand, fields, k, n_tokens=len(tokens))
    if prune is None:
        # three-tier auto plan choice, all from driver-side stats (no
        # jobs): tiny -> single-pass exhaustive; medium rare anchor ->
        # single-phase anchored (skip the theta round-trip); huge rare
        # anchor -> full 2-phase block-max
        if est_postings < WAND_MIN_POSTINGS:
            mode = "exhaustive"
        elif est_rare <= WAND_SINGLE_PHASE_MAX_RARE:
            mode = "anchored"
        else:
            mode = "two_phase"
    else:
        mode = "two_phase" if prune else "exhaustive"
    if report is not None:
        report["est_postings"] = est_postings
        report["est_rare"] = est_rare
        report["mode"] = mode
        report["pruned_path"] = mode != "exhaustive"
    if mode == "exhaustive":
        return engine.search_from_cand(cand, fields, k, n_tokens=len(tokens))

    # frames persisted along the way; for bounded k the top-k result is
    # materialized eagerly and these are unpersisted before returning
    # (otherwise every query would leak block-manager cache in a
    # long-lived service). Huge-k calls (oracle parity sweeps) keep the
    # lazy plan and rely on GC/ContextCleaner.
    persisted: list[DataFrame] = []

    def finalize(out_df: DataFrame) -> DataFrame:
        res = engine.finish_topk(out_df, k)
        if k <= 10_000:
            # eager localCheckpoint: materializes the k rows EXECUTOR-side
            # and cuts lineage, so the upstream persists can be released
            # immediately -- no collect/createDataFrame driver round-trip
            # of result rows (the rows only reach the driver if the caller
            # collects)
            res = res.localCheckpoint(eager=True)
            for p in persisted:
                p.unpersist()
        return res

    rare = min(tok_df, key=lambda t: (tok_df[t], t))
    rare_terms = sorted(cand[cand["token"] == rare]["term"])
    other_terms = sorted(set(cand[cand["token"] != rare]["term"]))
    single_token = len(tokens) == 1

    blk = engine.candidate_blocks(cand, fields)
    # pandas-side candidate subsets, attached to decoded postings via
    # engine.attach_cand (array-literal explode for small tables -- no
    # per-call BroadcastExchange sub-job; broadcast join above the cap)
    cand_rare_pd = cand[cand["token"] == rare]
    cand_other_pd = cand[cand["token"] != rare]

    # ---- decode ALL rare-token candidate blocks (cheap by construction);
    # decode_blocks projects before the decode UDF (column pruning cannot
    # reach through mapInArrow, and ``positions`` is the bulk of a block
    # row)
    rare_decoded = decode_blocks(blk.filter(F.col("term").isin(rare_terms)))
    # join ONLY the rare token's candidate rows: a term shared with
    # another token must not smuggle that token into the anchor set.
    # One repartition by doc_id up front: every aggregation/window in
    # score_and_intersect clusters on key sets CONTAINING doc_id, so this
    # single exchange satisfies the whole pipeline (the warm path's
    # partitioning trick, applied to the decode path) -- 3 exchanges -> 1
    # repartition BEFORE the attach so the interpreted candidate-attach
    # runs at full parallelism rather than inside the decode stage's few
    # scan splits; attach is narrow, so the doc_id partitioning survives
    # into score_and_intersect (one exchange for the whole pipeline)
    rare_matched = engine.attach_cand(
        rare_decoded.repartition(F.col("doc_id")), cand_rare_pd
    )
    # exact per-doc contribution of the rare token (full entry set present)
    rare_contrib = (
        engine.score_and_intersect(rare_matched, n_tokens=1)
        .withColumnsRenamed({
            "score": "rare_score",
            "num_typos": "rare_typos",
            "number_exact_words": "rare_exw",
        })
    ).persist()
    persisted.append(rare_contrib)

    if single_token:
        out = rare_contrib.select(
            "doc_id",
            F.col("rare_score").alias("score"),
            F.col("rare_typos").alias("num_typos"),
            F.col("rare_exw").alias("number_exact_words"),
        )
        return finalize(out)

    other_blk_all = blk.filter(F.col("term").isin(other_terms))

    # chunk-level block pruning only pays when the doc space spans many
    # chunks: with the whole corpus inside a handful of 65536-doc chunks
    # (max_doc_id from stats.json, zero jobs) every block overlaps the
    # candidate chunks anyway, and the per-call broadcast(doc_chunks)
    # semi-join + dropDuplicates is a pure sub-job chain for nothing --
    # decode the superset instead (rank-identical: the doc semi-join
    # still restricts scoring)
    _max_doc = engine.stats.get("max_doc_id")
    # pre-max_doc_id indexes: keep the (scale-safe) pruned behavior
    chunk_prune = (
        True if _max_doc is None
        else ((int(_max_doc) >> CHUNK_SHIFT) + 1) > 8
    )
    other_alive = (
        other_blk_all.withColumn(
            "chunk",
            F.explode(_span_chunks(F.col("first_doc"), F.col("last_doc"))),
        )
        if chunk_prune
        else None
    )

    def score_with_rare(surv: DataFrame, rare_side: DataFrame) -> DataFrame:
        """The one combine: the other tokens' postings ``surv`` (already
        restricted to the rare docs) scored through score_and_intersect,
        then added to the rare side's exact contribution per doc.
        Shuffle the survivors by doc_id, THEN run the interpreted
        candidate attach at full parallelism -- the attach commutes with
        the doc restriction (it joins on term), and the doc_id
        partitioning survives it into score_and_intersect (one exchange
        total)."""
        other_matched = engine.attach_cand(
            surv.repartition(F.col("doc_id")), cand_other_pd
        )
        other = engine.score_and_intersect(
            other_matched, n_tokens=len(tokens) - 1
        )
        return rare_side.join(other, "doc_id").select(
            "doc_id",
            (F.col("rare_score") + F.col("score")).alias("score"),
            (F.col("rare_typos") + F.col("num_typos"))
            .cast("int")
            .alias("num_typos"),
            (F.col("rare_exw") + F.col("number_exact_words"))
            .cast("int")
            .alias("number_exact_words"),
        )

    def exact_scores(rare_docs: DataFrame) -> DataFrame:
        """Full exact AND scores restricted to the given rare docs: the
        other tokens' blocks overlapping the docs' chunks, decoded and
        semi-joined against the (broadcast) doc frame."""
        rare_docs = rare_docs.persist()
        persisted.append(rare_docs)
        if chunk_prune:
            doc_chunks = rare_docs.select(
                F.shiftright(F.col("doc_id"), CHUNK_SHIFT).alias("chunk")
            ).distinct()
            oblk = (
                other_alive.join(F.broadcast(doc_chunks), "chunk", "left_semi")
                .drop("chunk")
                .dropDuplicates(["term", "field", "salt", "block_id"])
            )
        else:
            oblk = other_blk_all
        # cheap doc semi-join first: an O(1)-per-row broadcast probe,
        # fine inside the decode stage's few splits
        surv = decode_blocks(oblk).join(
            F.broadcast(rare_docs.select("doc_id")), "doc_id", "left_semi"
        )
        return score_with_rare(surv, rare_docs)

    if mode == "anchored":
        # single-phase: every rare-anchored doc scored exactly in ONE
        # action -- no seed/theta round-trip, no upper bounds needed
        # (an absent non-rare token empties the AND inside exact_scores)
        if report is not None:
            report.update(
                {
                    "rare_token": rare,
                    "n_rare_docs": rare_contrib.count(),
                    "n_other_blocks_total": other_blk_all.count(),
                }
            )
        return finalize(exact_scores(rare_contrib))

    # ---- two-phase: upper bound of every other token from the
    # build-time per-(term, field) (max_tf, min_dl) bounds in term_stats,
    # SUMMED over fields (soundness on multi-field indexes: doc tf is
    # field-summed before saturation). engine.term_field_ub is a
    # driver-side lookup (zero jobs when the vocabulary is cached).
    tub = engine.term_field_ub(other_terms, fields)
    tok_ub: dict[str, float] = {}
    for r in cand_other_pd.itertuples():
        if r.term in tub:
            v = float(r.penalty) * float(r.idf) * tub[r.term]
            if v > tok_ub.get(r.token, -1.0):
                tok_ub[r.token] = v
    if len(tok_ub) < len(tokens) - 1:
        rare_contrib.unpersist()
        return engine._empty_result()  # a non-rare token has no blocks
    others_ub = float(sum(tok_ub.values()))

    def exact_scores_literal(seed_rows: list) -> DataFrame:
        """Phase-1 scoring with a BOUNDED seed inlined as literals: block
        selection is an OR of chunk-range predicates over block metadata
        (no explode, no dedup), the doc restriction a literal IN, and the
        seed's rare contributions a driver-local relation -- ZERO
        broadcast-exchange sub-jobs, vs two per exact_scores call. Same
        combine (score_with_rare), rank-identical (tests/test_wand.py)."""
        ids = [int(r["doc_id"]) for r in seed_rows]
        chunks = sorted({i >> CHUNK_SHIFT for i in ids})
        fs = F.shiftright(F.col("first_doc"), CHUNK_SHIFT)
        ls = F.shiftright(F.col("last_doc"), CHUNK_SHIFT)
        pred = reduce(or_, [(fs <= F.lit(c)) & (F.lit(c) <= ls)
                            for c in chunks])
        surv = decode_blocks(other_blk_all.filter(pred)).filter(
            F.col("doc_id").isin(ids)
        )
        seed_df = engine.spark.createDataFrame(
            [
                (int(r["doc_id"]), float(r["rare_score"]),
                 int(r["rare_typos"]), int(r["rare_exw"]))
                for r in seed_rows
            ],
            schema="doc_id long, rare_score double, rare_typos int, "
            "rare_exw int",
        )
        return score_with_rare(surv, F.broadcast(seed_df))

    if 4 * k <= LITERAL_SEED_MAX:
        # ---- bounded-seed two-phase (the serving case, k ~ 10): seed and
        # phase-1 rows live on the driver (4k rows max -- the same driver
        # bound the k<=10k theta collect already accepted), theta needs no
        # extra job, rest needs no anti-join, and phase 1 runs with zero
        # broadcast exchanges
        seed_rows = (
            rare_contrib.orderBy(F.desc("rare_score"), F.asc("doc_id"))
            .limit(4 * k)
            .collect()
        )
        seed_ids = [int(r["doc_id"]) for r in seed_rows]
        p1_rows = (
            exact_scores_literal(seed_rows).collect() if seed_rows else []
        )
        p1_sorted = sorted(
            p1_rows, key=lambda r: (-r["score"], r["doc_id"])
        )
        theta = (
            float(p1_sorted[k - 1]["score"]) if len(p1_sorted) >= k else None
        )
        rest = (
            rare_contrib.filter(~F.col("doc_id").isin(seed_ids))
            if seed_ids
            else rare_contrib
        )
        if theta is not None:
            rest = rest.filter(
                F.col("rare_score") + F.lit(others_ub) >= F.lit(theta)
            )
        # bounded probe over the CACHED rare frame (no decode re-run): when
        # theta pruning leaves at most LITERAL_SEED_MAX survivors -- the
        # common case, pruning is the tier's whole point -- phase 2 runs
        # through the same zero-broadcast literal scorer as phase 1. The
        # un-ordered limit is only used when it did NOT truncate, so the
        # collected set is the complete rest set, never a sample.
        rest_rows = rest.limit(LITERAL_SEED_MAX + 1).collect()
        if len(rest_rows) <= LITERAL_SEED_MAX:
            n_rest: int | None = len(rest_rows)
            phase2 = (
                exact_scores_literal(rest_rows)
                if rest_rows
                else engine.spark.createDataFrame(
                    [],
                    schema="doc_id long, score double, num_typos int, "
                    "number_exact_words int",
                )
            )
        else:
            n_rest = None
            phase2 = exact_scores(rest)
        if report is not None:  # extra jobs only when stats were asked for
            report.update(
                {
                    "rare_token": rare,
                    "theta": theta,
                    "others_ub": others_ub,
                    "n_rare_docs": rare_contrib.count(),
                    "n_phase2_docs": (
                        n_rest if n_rest is not None else rest.count()
                    ),
                    "n_other_blocks_total": other_blk_all.count(),
                }
            )
        p1_df = engine.spark.createDataFrame(
            [
                (int(r["doc_id"]), float(r["score"]), int(r["num_typos"]),
                 int(r["number_exact_words"]))
                for r in p1_rows
            ],
            schema="doc_id long, score double, num_typos int, "
            "number_exact_words int",
        )
        union = p1_df.unionByName(phase2)
        # phase doc sets are disjoint (rest excludes the seed ids); the
        # groupBy is a cheap idempotence guard
        out = union.groupBy("doc_id").agg(
            F.max("score").alias("score"),
            F.max("num_typos").alias("num_typos"),
            F.max("number_exact_words").alias("number_exact_words"),
        )
        return finalize(out)

    # ---- phase 1: top-4k docs by rare contribution, scored exactly
    seed = rare_contrib.orderBy(
        F.desc("rare_score"), F.asc("doc_id")
    ).limit(4 * k)
    phase1 = exact_scores(seed).persist()
    persisted.append(phase1)

    # ---- phase 2: threshold-prune the remaining rare docs. Two theta
    # strategies, chosen by k (both rank-identical, tests/test_wand.py):
    # - bounded k (the finalize-eager serving case): COLLECT the k
    #   phase-1 rows. A same-window interleaved A/B adjudicated this
    #   against the broadcast-1-row-frame design below: the frame's
    #   extra broadcast-exchange chain cost +13% on bm25_wand_forced at
    #   sf0.1 (5.22s vs 4.62s per-pair min) while the k-row collect is
    #   microseconds -- phase 1 must finish before phase 2 either way
    #   (data dependency), so the round-trip is not the latency floor,
    #   the exchange count is.
    # - unbounded k (oracle parity sweeps, no eager checkpoint): theta
    #   as a broadcast 1-row frame keeps the plan fully lazy with no
    #   driver materialization of a huge phase 1.
    # Fewer than k phase-1 rows -> no pruning (theta = None / -inf).
    theta: float | None = None
    if k <= 10_000:
        top = phase1.orderBy(
            F.desc("score"), F.asc("doc_id")
        ).limit(k).collect()
        theta = float(top[-1]["score"]) if len(top) >= k else None
        rest = rare_contrib.join(seed.select("doc_id"), "doc_id", "left_anti")
        if theta is not None:
            rest = rest.filter(
                F.col("rare_score") + F.lit(others_ub) >= F.lit(theta)
            )
    else:
        theta_df = (
            phase1.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            .agg(F.min("score").alias("th"), F.count("*").alias("cnt"))
            .select(
                F.when(F.col("cnt") >= k, F.col("th"))
                .otherwise(F.lit(float("-inf")))
                .alias("theta")
            )
        )
        rest = (
            rare_contrib.join(seed.select("doc_id"), "doc_id", "left_anti")
            .crossJoin(F.broadcast(theta_df))
            .filter(F.col("rare_score") + F.lit(others_ub) >= F.col("theta"))
            .drop("theta")
        )
    phase2 = exact_scores(rest)

    if report is not None:  # extra jobs only when stats were asked for
        if theta is None and k > 10_000:
            # derive from the 1-row theta_df (single-row collect) -- never
            # re-collect the full top-k the lazy branch exists to avoid
            row = theta_df.collect()[0]
            th = float(row["theta"])
            theta = None if th == float("-inf") else th
        report.update(
            {
                "rare_token": rare,
                "theta": theta,
                "others_ub": others_ub,
                "n_rare_docs": rare_contrib.count(),
                "n_phase2_docs": rest.count(),
                "n_other_blocks_total": other_blk_all.count(),
            }
        )

    union = phase1.unionByName(phase2)
    # phase doc sets are disjoint (rest anti-joins the seed); the groupBy
    # is a cheap idempotence guard
    out = union.groupBy("doc_id").agg(
        F.max("score").alias("score"),
        F.max("num_typos").alias("num_typos"),
        F.max("number_exact_words").alias("number_exact_words"),
    )
    return finalize(out)
