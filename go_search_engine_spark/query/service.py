"""Search service: the reference's full request surface on top of the
block engine -- filters + filter scoring, ranking criteria (incl. the
``~score`` / ``~filters`` pseudo-fields and the missing-field null
ordering), DistinctField dedup, pagination, field projection, and
multi-search fan-out.

Reference pipeline steps 8-13 of SURVEY.md section 3.1
(/root/reference/internal/search/service.go:367-674):
  filter tree -> score -> ranking sort -> dedup -> paginate -> project.

Everything here is one DataFrame DAG per request; multi-search unions the
per-query plans with a query_name column so Spark executes a single job
(the reference spawns N goroutines, multi_search.go:12-81).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .engine import SearchEngine
from .filters import Filters, compile_filters


@dataclass
class SearchRequest:
    query: str
    page: int = 1
    page_size: int = 10
    filters: Filters | None = None
    restrict_searchable_fields: list[str] | None = None
    retrievable_fields: list[str] | None = None
    typo_tolerance: bool = True
    # Q7 per-request typo-gate overrides (reference service.go:191-200:
    # query.MinWordSizeFor1Typo/2Typos override the index settings)
    min_word_size_for_1_typo: int | None = None
    min_word_size_for_2_typos: int | None = None
    # A3 FieldMatches rendering per hit (reference service.go:425-432:
    # always included there; opt-in here since it costs a second decode
    # pass over the candidate blocks, and only the page's rows get it)
    include_field_matches: bool = False


@dataclass
class SearchResult:
    hits: list[dict]
    total: int
    page: int
    page_size: int
    took_ms: float
    query_id: str


def _ranking_order(settings) -> list[Column]:
    """Ranking criteria -> orderBy columns (service.go:520-644).

    Missing-field rule (service.go:561-566): ascending sorts missing
    (null) first, descending sorts missing last. Final fallback: score
    desc then doc_id asc -- the deterministic total order rank identity
    requires."""
    cols: list[Column] = []
    for c in settings.ranking_criteria:
        if c.field == "~score":
            base = F.col("score")
        elif c.field == "~filters":
            base = F.col("filter_score")
        else:
            base = F.col(c.field)
        if c.order == "asc":
            cols.append(base.asc_nulls_first())
        else:
            cols.append(base.desc_nulls_last())
    cols.append(F.col("score").desc())
    cols.append(F.col("doc_id").asc())
    return cols


class SearchService:
    def __init__(self, engine: SearchEngine):
        self.engine = engine

    @property
    def settings(self):
        # resolved through the engine: a generation reload (maintenance
        # under a live engine) swaps engine.settings, and the service must
        # never serve the pre-maintenance copy
        return self.engine.settings

    def _prepare(self, req: SearchRequest, cand=None):
        """(fields, tokens, cand) for a request; validates the field
        restriction and builds the candidate table unless one is given
        (multi-search batches one vocabulary scan across requests)."""
        s = self.settings
        fields = req.restrict_searchable_fields or s.searchable_fields
        bad = set(fields) - set(s.searchable_fields)
        if bad:
            raise ValueError(f"non-searchable fields: {sorted(bad)}")
        from ..functions.tokenizer import tokenize

        tokens = list(dict.fromkeys(tokenize(req.query)))
        if tokens and cand is None:
            cand = self.engine.candidate_terms(
                tokens,
                req.typo_tolerance,
                req.min_word_size_for_1_typo,
                req.min_word_size_for_2_typos,
            )
        return fields, tokens, cand

    def _ranked_frame(
        self, req: SearchRequest, cand=None, prep=None, ordered: bool = True
    ) -> DataFrame:
        """The full ranked+deduped hit frame (pre-pagination). ``prep``:
        an already-computed ``_prepare`` triple (search() passes it so the
        query is tokenized and validated exactly once)."""
        eng = self.engine
        s = self.settings
        fields, tokens, cand = prep or self._prepare(req, cand)
        if not tokens:
            return eng._empty_result()
        # cold mode arrives clustered by doc_id from scan_candidates (one
        # partition from a driver read, else one doc_id exchange)
        matched = eng.scan_candidates(cand, fields)
        scored = eng.score_and_intersect(matched, n_tokens=len(tokens))
        hits = scored.join(eng.docs, "doc_id")

        # filter tree + filter scoring (service.go:717-795); advisory
        # filterable-fields validation mirrors service.go:823-825
        matches, fscore = compile_filters(
            hits, req.filters, filterable_fields=s.filterable_fields
        )
        hits = hits.withColumn("filter_score", fscore.cast("double")).filter(matches)

        order = _ranking_order(s)
        # DistinctField dedup keeps the best-ranked hit per distinct value;
        # docs missing the field are always kept (service.go:678-715).
        # The reference compares fmt.Sprintf("%v") of the dynamic value
        # (service.go:678-715); here columns are TYPED, so native equality
        # and string equality coincide for every value a single-typed
        # column can hold (incl. arrays, compared element-wise both ways)
        # -- the stringification collapses to a no-op rather than a
        # missing behavior
        if s.distinct_field and s.distinct_field in hits.columns:
            dcol = F.col(s.distinct_field)
            w = Window.partitionBy(dcol).orderBy(*order)
            deduped = (
                hits.filter(dcol.isNotNull())
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            hits = deduped.unionByName(hits.filter(dcol.isNull()))
        return hits.orderBy(*order) if ordered else hits

    def search(self, req: SearchRequest) -> SearchResult:
        t0 = time.time()
        prep = self._prepare(req)
        fields, tokens, cand = prep
        ranked = self._ranked_frame(req, prep=prep)
        page = max(req.page, 1)
        size = req.page_size if req.page_size > 0 else 10
        # total BEFORE pagination (service.go:651-662). The ranked frame
        # is persisted so the count and the page slice are ONE pass over
        # the scan/score pipeline, not two.
        ranked = ranked.persist()
        try:
            total = ranked.count()
            page_rows = ranked.offset((page - 1) * size).limit(size)
            proj = self._project(page_rows, req.retrievable_fields)
            hits = [r.asDict(recursive=True) for r in proj.collect()]
        finally:
            ranked.unpersist()
        if req.include_field_matches and tokens and hits:
            # FieldMatches rendered for the PAGE's doc_ids only (the
            # restriction happens before the aggregation) and merged
            # driver-side so the ranked page order is preserved -- a
            # DataFrame join would re-order the rows
            fm = {
                r["doc_id"]: r["field_matches"]
                for r in self.engine.field_matches(
                    cand, fields, doc_ids=[h["doc_id"] for h in hits]
                ).collect()
            }
            for h in hits:
                h["field_matches"] = fm.get(h["doc_id"], {})
        return SearchResult(
            hits=hits,
            total=total,
            page=page,
            page_size=size,
            took_ms=(time.time() - t0) * 1000.0,
            query_id=uuid.uuid4().hex,
        )

    def _project(self, df: DataFrame, retrievable: list[str] | None) -> DataFrame:
        """R4 (filtering.go:10-35): documentID always included."""
        meta = [
            "doc_id",
            "documentID",
            "score",
            "num_typos",
            "number_exact_words",
            "filter_score",
        ]
        if retrievable is None:
            return df
        # an empty-query frame (eng._empty_result) lacks filter_score;
        # select only the meta columns actually present so projection on
        # an empty result stays an empty result, not an AnalysisException
        meta = [c for c in meta if c in df.columns]
        keep = meta + [c for c in retrievable if c in df.columns and c not in meta]
        return df.select(*keep)

    def _batched_cands(
        self, requests: dict[str, SearchRequest]
    ) -> dict[str, tuple[list[str], object]]:
        """{name: (tokens, cand)} for all requests with ONE vocabulary
        typo scan: tokens are merged at each token's maximum gate, then
        sliced back per request -- the slice equals a direct per-request
        scan because the candidate cap orders by (distance, term)."""
        import pandas as pd

        from ..config import TYPO_PENALTY_1, TYPO_PENALTY_2
        from ..functions.tokenizer import tokenize

        eng = self.engine
        toks_per: dict[str, tuple[list[str], dict[str, int]]] = {}
        merged: dict[str, int] = {}
        for name, req in requests.items():
            tokens = list(dict.fromkeys(tokenize(req.query)))
            gates = eng._token_gates(
                tokens,
                req.typo_tolerance,
                req.min_word_size_for_1_typo,
                req.min_word_size_for_2_typos,
            )
            toks_per[name] = (tokens, gates)
            for t, (d, _) in gates.items():
                merged[t] = max(merged.get(t, 0), d)
        eligible = sorted((t, d) for t, d in merged.items() if d > 0)
        scan = eng.typo_scan(eligible)  # ONE vocab pass for all requests

        out: dict[str, tuple[list[str], object]] = {}
        for name, req in requests.items():
            tokens, gates = toks_per[name]
            if not tokens:
                out[name] = (tokens, None)
                continue
            rows = [(t, t, 0, 1.0) for t in tokens]
            sub = scan[scan["token"].isin(tokens)] if len(scan) else scan
            for r in sub.itertuples():
                maxd, pen1 = gates.get(r.token, (0, TYPO_PENALTY_1))
                if r.distance <= maxd:
                    # tier-based penalty: see engine._token_gates
                    pen = pen1 if r.distance == 1 else TYPO_PENALTY_2
                    rows.append((r.token, r.term, int(r.distance), pen))
            out[name] = (
                tokens,
                eng._with_stats(
                    pd.DataFrame(
                        rows, columns=["token", "term", "distance", "penalty"]
                    )
                ),
            )
        return out

    def multi_search(self, requests: dict[str, SearchRequest],
                     k: int = 10) -> DataFrame:
        """J4 (multi_search.go:12-81): N named queries as ONE physical
        plan -- candidate generation is batched through a SINGLE
        vocabulary typo scan covering every request's tokens, and the
        per-request plans union into one job with a query_name column.
        The reference fans out N goroutines against shared in-memory
        state. For full per-request result envelopes (hits/total/page/
        took) use ``multi_search_envelopes``."""
        eng = self.engine
        eng._ensure_fresh()
        frames = []
        for name, (tokens, cand) in self._batched_cands(requests).items():
            req = requests[name]
            # validate BEFORE the empty-token skip: a bad field
            # restriction must 400 like a lone search() would, not be
            # hidden by a query that happens to tokenize to nothing
            fields = req.restrict_searchable_fields or (
                self.settings.searchable_fields
            )
            bad = set(fields) - set(self.settings.searchable_fields)
            if bad:
                raise ValueError(f"non-searchable fields: {sorted(bad)}")
            if not tokens:
                continue
            f = (
                self._ranked_frame(req, cand=cand)
                .limit(k)
                .select(
                    F.lit(name).alias("query_name"),
                    "doc_id",
                    "documentID",
                    "score",
                    "num_typos",
                )
            )
            frames.append(f)
        if not frames:
            # every request tokenized to nothing: empty result, not a crash
            return eng._empty_result().select(
                F.lit("").alias("query_name"),
                "doc_id",
                "documentID",
                "score",
                "num_typos",
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def multi_search_envelopes(
        self, requests: dict[str, SearchRequest]
    ) -> dict[str, SearchResult]:
        """J4 with FULL result-envelope parity: each named request gets
        the same SearchResult a lone ``search()`` would return (hits with
        filters/ranking/dedup/pagination/projection applied, total, page,
        took) -- the reference's multi-search contract
        (multi_search.go:12-81 returns a full response per query).

        Still batched execution: one vocabulary scan for all requests,
        then ONE unioned plan; totals come from a single groupBy job and
        every page slice from a single per-query-ranked window job --
        2 jobs for N requests instead of 2N."""
        t0 = time.time()
        eng = self.engine
        eng._ensure_fresh()
        s = self.settings
        cands = self._batched_cands(requests)

        frames = []
        for name, (tokens, cand) in cands.items():
            req = requests[name]
            # same ordering rule as multi_search: validate before the
            # empty-token skip
            fields = req.restrict_searchable_fields or s.searchable_fields
            bad = set(fields) - set(s.searchable_fields)
            if bad:
                raise ValueError(f"non-searchable fields: {sorted(bad)}")
            if not tokens:
                continue
            f = self._ranked_frame(
                req, prep=(fields, tokens, cand), ordered=False
            ).withColumn("query_name", F.lit(name))
            frames.append(f)

        results: dict[str, SearchResult] = {}
        empty_names = [n for n, (tokens, _c) in cands.items() if not tokens]
        if frames:
            union = frames[0]
            for f in frames[1:]:
                union = union.unionByName(f)
            order = _ranking_order(s)
            w = Window.partitionBy("query_name").orderBy(*order)
            ranked = union.withColumn("_rn", F.row_number().over(w)).persist()
            try:
                totals = {
                    r["query_name"]: r["n"]
                    for r in ranked.groupBy("query_name")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
                # every tokenized request gets an envelope, including ones
                # whose AND matched zero docs (absent from the groupBy)
                served = [n for n, (tk, _c) in cands.items() if tk]
                slice_pred = None
                pages: dict[str, tuple[int, int]] = {}
                for name in served:
                    req = requests[name]
                    page = max(req.page, 1)
                    size = req.page_size if req.page_size > 0 else 10
                    pages[name] = (page, size)
                    lo = (page - 1) * size
                    p = (
                        (F.col("query_name") == name)
                        & (F.col("_rn") > lo)
                        & (F.col("_rn") <= lo + size)
                    )
                    slice_pred = p if slice_pred is None else (slice_pred | p)
                rows = (
                    ranked.filter(slice_pred).orderBy("query_name", "_rn")
                    .collect()
                )
            finally:
                ranked.unpersist()
            by_name: dict[str, list[dict]] = {}
            for r in rows:
                d = r.asDict(recursive=True)
                d.pop("_rn"), d.pop("query_name")
                by_name.setdefault(r["query_name"], []).append(d)
            took = (time.time() - t0) * 1000.0
            for name in served:
                total = totals.get(name, 0)
                req = requests[name]
                page, size = pages[name]
                hits = by_name.get(name, [])
                if req.retrievable_fields is not None:
                    meta = {
                        "doc_id", "documentID", "score", "num_typos",
                        "number_exact_words", "filter_score",
                    }
                    keep = meta | set(req.retrievable_fields)
                    hits = [
                        {k: v for k, v in h.items() if k in keep}
                        for h in hits
                    ]
                if req.include_field_matches and hits:
                    _tokens, cand = cands[name]
                    fields = (
                        req.restrict_searchable_fields or s.searchable_fields
                    )
                    fm = {
                        r["doc_id"]: r["field_matches"]
                        for r in eng.field_matches(
                            cand, fields,
                            doc_ids=[h["doc_id"] for h in hits],
                        ).collect()
                    }
                    for h in hits:
                        h["field_matches"] = fm.get(h["doc_id"], {})
                results[name] = SearchResult(
                    hits=hits, total=total, page=page, page_size=size,
                    took_ms=took, query_id=uuid.uuid4().hex,
                )
        took = (time.time() - t0) * 1000.0
        for name in empty_names:
            req = requests[name]
            results[name] = SearchResult(
                hits=[], total=0, page=max(req.page, 1),
                page_size=req.page_size if req.page_size > 0 else 10,
                took_ms=took, query_id=uuid.uuid4().hex,
            )
        return results
