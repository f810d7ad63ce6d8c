"""Multi-field search + SearchCondition engine (the reference's full
query surface).

The reference indexes TWO BM25 text fields — ``name`` and
``korea_name`` (/root/reference/search-engine/schemas/spot.sd:9-17) —
and every keyword query fans out to an OR of 2 fields x {synonym,
original} match branches
(/root/reference/search-api/internal/repository/query/convertSpotNameQuery.go:11-17).
The top-level request ANDs that OR with optional geo / category /
bool-attribute conditions (queryBuilder.go:21-28) and pins a rank
profile per request (vespaRequest.go:8-13): the live profile ``spot``
is first-phase ``closeness(spot_geo_location)``
(search-engine/schemas/spot/spot.profile:3-5); the BM25 analog ranks
by the sum of per-field BM25 (Vespa's default bm25(name)+bm25(korea_name)
shape).

Engine realization:
  * one posting space (index dir) PER FIELD — the per-field analog of
    Vespa's per-field inverted indexes; doc_ids are shared across
    fields (assigned once);
  * keyword candidates: per field, one decode + one int64 aggregate
    (fixed-point score + per-branch matched-term counts), then a union
    + second aggregate sums scores across fields and ORs the match
    flags — a doc is a hit iff SOME field fully matched SOME branch;
    phrase candidacy per field comes from the BM25 evaluator's own
    adjacency kernel (operators/batch_query.py ``_phrase_hits_fn``);
  * attributes (geo position, category, bools) live in an attribute
    store table joined by doc_id (Vespa ``attribute``/``fast-search``,
    spot.sd:19-31) — at cluster scale both sides are bucketed by
    doc_id so this join is shuffle-free;
  * rank profiles: ``bm25`` (cross-field BM25 sum) and ``closeness``
    (1/(1+km), functions/geo.py) — selected per request.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from micce_search_engine_spark.functions.geo import (
    DEFAULT_RADIUS_KM,
    closeness,
    geo_radius_filter,
)
from micce_search_engine_spark.operators.index_build import build_index
from micce_search_engine_spark.operators.query import (
    SCORE_SCALE,
    SearchEngine,
    branch_count_aggs,
    branch_match_pred,
    contrib_fx,
)
from micce_search_engine_spark.oracle import expand_branches


def build_field_indexes(
    spark: SparkSession,
    pages: DataFrame,
    fields: list[str],
    base_dir: str,
    doc_id_col: str | None = None,
    **build_kw,
) -> dict[str, str]:
    """One index per searchable field, sharing one doc_id space.

    When ``doc_id_col`` is None ids are assigned once from the url rank
    (operators/docids.py) and passed to every field build so postings
    across fields agree on doc identity."""
    import os

    from micce_search_engine_spark.operators.docids import assign_doc_ids

    if doc_id_col is None:
        pages = assign_doc_ids(pages)
        doc_id_col = "doc_id"
    out: dict[str, str] = {}
    for f in fields:
        idx = os.path.join(base_dir, f"field={f}")
        field_pages = pages.withColumn("text", F.col(f)) if f != "text" else pages
        build_index(spark, field_pages, idx, doc_id_col=doc_id_col, **build_kw)
        out[f] = idx
    return out


def multifield_scored(
    engines: dict[str, SearchEngine],
    query_text: str,
    synonyms: dict[str, str],
    lang_filter: str | None = None,
    phrase: bool = False,
) -> DataFrame | None:
    """(doc_id, score) for docs where SOME field fully matches SOME OR
    branch; score = sum over fields of that field's fixed-point BM25
    over the expanded query terms (contributions count from every
    field, candidacy from any).

    ``phrase=True`` (round-5): candidacy requires the branch's tokens
    CONSECUTIVELY in the field — the reference's actual semantics for a
    multi-word keyword, where ``field contains "multi word"`` is always
    a phrase (whereQuery.go:43-57) fanned out over the synonym x field
    OR (convertSpotNameQuery.go:11-17). Scoring is unchanged (Vespa
    ranks phrase hits with the same bm25 features), so phrase only
    SHRINKS the candidate set. Single-token branches need no position
    stream; multi-token branches require with_positions indexes
    (RuntimeError otherwise)."""
    from micce_search_engine_spark.operators.batch_query import _phrase_hits_fn

    branches = expand_branches(query_text, synonyms)
    if not branches:
        return None
    if phrase and all(len(b) == 1 for b in branches):
        # a 1-token phrase is exactly term presence, which the plain
        # branch aggregate already computes — skip the positional
        # decode when no branch is multi-token (ADVICE r5)
        phrase = False
    all_terms = sorted({t for b in branches for t in b})
    if phrase:
        tid = {t: i for i, t in enumerate(all_terms)}
        hits_fn = _phrase_hits_fn(
            tid,
            [np.asarray(sorted({tid[t] for t in b}), dtype=np.int64) for b in branches],
            [np.asarray([tid[t] for t in b], dtype=np.int64) if len(b) > 1 else None
             for b in branches],
        )
    parts = []
    for fname, eng in sorted(engines.items()):
        idf = eng.idf_map(all_terms)
        lid = eng.lang_id_of(lang_filter)
        postings = eng._postings(all_terms, mode="score", lang_id=lid)
        per_term = postings.withColumn(
            "w_fx", contrib_fx(eng._idf_expr(idf)[F.col("term")], F.col("wf"))
        )
        if phrase:
            # phrase candidacy per field: one positional decode of the
            # field's postings by doc, every branch tested by the
            # evaluator's kernel; each hit doc is emitted once
            eng._require_positions()
            n_shuf = int(eng.spark.conf.get("spark.sql.shuffle.partitions"))
            flag = (
                eng._postings(all_terms, mode="score_lang_pos", lang_id=lid)
                .repartition(n_shuf, "doc_id")
                .sortWithinPartitions("doc_id")
                .mapInArrow(hits_fn, "doc_id long")
                .withColumn("matched", F.lit(True))
            )
            agg = per_term.groupBy("doc_id").agg(F.sum("w_fx").alias("score_fx"))
            parts.append(
                agg.join(flag, "doc_id", "left").select(
                    "doc_id",
                    "score_fx",
                    F.coalesce("matched", F.lit(False)).alias("matched"),
                )
            )
        else:
            agg = per_term.groupBy("doc_id").agg(
                F.sum("w_fx").alias("score_fx"), *branch_count_aggs(branches)
            )
            parts.append(
                agg.select(
                    "doc_id",
                    "score_fx",
                    branch_match_pred(branches).alias("matched"),
                )
            )
    un = parts[0]
    for p in parts[1:]:
        un = un.unionByName(p)
    return (
        un.groupBy("doc_id")
        .agg(F.sum("score_fx").alias("score_fx"), F.max("matched").alias("matched"))
        .filter(F.col("matched"))
        .select("doc_id", (F.col("score_fx") / F.lit(SCORE_SCALE)).alias("score"))
    )


class ConditionEngine:
    """SearchCondition-shaped search over multi-field indexes + an
    attribute store (SearchCondition.go:9-21 analog).

    ``attrs``: DataFrame keyed by doc_id carrying the attribute columns
    conditions may reference (lat/lon for geo, category, bool flags) —
    the engine analog of Vespa's in-memory attributes."""

    def __init__(
        self,
        engines: dict[str, SearchEngine],
        attrs: DataFrame | None = None,
        synonyms: dict[str, str] | None = None,
    ):
        assert engines, "at least one field engine required"
        self.engines = engines
        self.attrs = attrs
        self.synonyms = dict(synonyms or {})
        self.spark = next(iter(engines.values())).spark

    def search_frame(self, condition: dict) -> DataFrame:
        """Candidates + scores as a DataFrame (doc_id, score) — the
        relational core of :meth:`search` (also used by entry oracles)."""
        limit = condition.get("limit")
        page = condition.get("page")
        if not limit or not page or limit < 1 or page < 1:
            # limit/page are required (SearchCondition.go:32-44)
            raise ValueError("limit and page are required and must be >= 1")
        profile = condition.get("rank_profile", "closeness")
        if profile not in ("closeness", "bm25"):
            raise ValueError(f"unknown rank profile {profile!r}")
        keyword = condition.get("keyword")
        geo = condition.get("geo")

        cand = None
        if keyword is not None:
            cand = multifield_scored(
                self.engines,
                keyword,
                self.synonyms,
                condition.get("lang_filter"),
                phrase=bool(condition.get("phrase", False)),
            )
            if cand is None:  # keyword tokenized to nothing -> no hits
                return self.spark.createDataFrame([], "doc_id long, score double")

        # attribute predicates (AND-composed, queryBuilder.go:21-28)
        preds = []
        if condition.get("category") is not None:
            preds.append(F.col("category") == F.lit(condition["category"]))
        if condition.get("has_images") is not None:
            preds.append(F.col("has_images") == F.lit(bool(condition["has_images"])))
        for col, op, val in condition.get("filters", []):  # FilterQuery analog
            c = F.col(col)
            preds.append(
                {
                    "=": c == F.lit(val),
                    ">": c > F.lit(val),
                    ">=": c >= F.lit(val),
                    "<": c < F.lit(val),
                    "<=": c <= F.lit(val),
                }[op]
            )
        if geo is not None:
            preds.append(
                geo_radius_filter(
                    F.col("lat"),
                    F.col("lon"),
                    float(geo["lat"]),
                    float(geo["lon"]),
                    float(geo.get("radius_km", DEFAULT_RADIUS_KM)),
                )
            )

        need_coords = profile == "closeness" and geo is not None
        if preds or need_coords or cand is None:
            if self.attrs is None:
                raise ValueError("condition references attributes but no attrs table")
            a = self.attrs
            for p in preds:
                a = a.filter(p)
            if cand is None:
                cols = ["doc_id"] + (["lat", "lon"] if need_coords else [])
                cand = a.select(*cols).withColumn("score", F.lit(0.0))
            elif need_coords:
                # inner equi-join on doc_id (bucketed co-location at scale)
                cand = cand.join(a.select("doc_id", "lat", "lon"), "doc_id")
            else:
                cand = cand.join(a.select("doc_id"), "doc_id", "left_semi")

        if profile == "closeness":
            score = (
                closeness(F.col("lat"), F.col("lon"), float(geo["lat"]), float(geo["lon"]))
                if geo is not None
                else F.lit(0.0)  # Vespa closeness without a position = 0
            )
            cand = cand.select("doc_id", score.alias("score"))
        return cand.select("doc_id", "score")

    def search(self, condition: dict) -> dict:
        """{total_hits, last_page, results} with the reference's
        limit*page / offset pagination quirk (queryBuilder.go:40-41,
        response.go:40-42). Count + top-k run FUSED in one job over the
        lazy candidate frame, with the keyword evaluator's reducer
        (partition-local top-k + count marker) and pager."""
        from micce_search_engine_spark.operators.batch_query import (
            _paged_pdf,
            _reduce_scored,
        )

        limit, page = int(condition["limit"]), int(condition["page"])
        cand = self.search_frame(condition)
        totals, top = _reduce_scored(cand, limit * page)
        window = _paged_pdf(top, [{"query_id": 0, "limit": limit, "page": page}], None)
        total = int(totals.get(0, 0))
        return {
            "total_hits": total,
            "last_page": total - limit * page <= 0,
            "results": [(int(d), float(s)) for d, s in zip(window["doc_id"], window["score"])],
        }
