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
  * keyword candidates: the keyword compiles into ONE program of the
    BM25 evaluator (operators/batch_query.py ``_chunk_hits``) over a
    field-qualified vocabulary — a branch per field x OR branch, a
    score term per field x term with that field's idf. Each field is
    decoded once (its lang filter on its own lang ids), the fields are
    unioned — coalesced to one task when the call fits one task
    (batch_query's ``_one_task_fit``, with dfs and N summed over the
    fields), else repartitioned by doc_id once — and one
    mapInArrow emits every doc where SOME field fully matched SOME
    branch (adjacency for phrase branches), scored by the cross-field
    fixed-point BM25 sum;
  * attributes (geo position, category, bools) live in an attribute
    store table joined by doc_id (Vespa ``attribute``/``fast-search``,
    spot.sd:19-31) — at cluster scale both sides are bucketed by
    doc_id so this join is shuffle-free;
  * rank profiles: ``bm25`` (cross-field BM25 sum) and ``closeness``
    (1/(1+km), functions/geo.py) — selected per request.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from micce_search_engine_spark.functions.geo import (
    DEFAULT_RADIUS_KM,
    closeness,
    geo_radius_filter,
)
from micce_search_engine_spark.operators.index_build import build_index
from micce_search_engine_spark.operators.query import SearchEngine
from micce_search_engine_spark.oracle import expand_branches


_HITS_SCHEMA = "doc_id long, score double"


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
    (RuntimeError otherwise).

    Runs as ONE program of the BM25 evaluator over the field-qualified
    vocabulary ``"<field index>:<term>"`` (see "Engine realization"), in
    one task when the call fits one task (``_one_task_fit`` over every
    field's engine)."""
    from micce_search_engine_spark.operators.batch_query import (
        _chunk_rows,
        _hits_fn,
        _one_task_fit,
    )

    branches = expand_branches(query_text, synonyms)
    if not branches:
        return None
    # a 1-token phrase is exactly term presence: only a multi-token
    # branch needs the position stream
    phrase = phrase and any(len(b) > 1 for b in branches)
    mode = "score_lang_pos" if phrase else "score_lang"
    terms = sorted({t for b in branches for t in b})
    fields = [eng for _, eng in sorted(engines.items())]
    keys = [f"{fi}:{t}" for fi in range(len(fields)) for t in terms]
    tid = {k: i for i, k in enumerate(keys)}
    sterms, fbranches, seqs, parts = [], [], [], []
    for fi, eng in enumerate(fields):
        if phrase:
            eng._require_positions()
        idf = eng.idf_map(terms)
        sterms += [(tid[f"{fi}:{t}"], float(idf[t])) for t in terms]
        for b in branches:
            ids = [tid[f"{fi}:{t}"] for t in b]
            fbranches.append(np.asarray(sorted(set(ids)), dtype=np.int64))
            seqs.append(np.asarray(ids, dtype=np.int64) if phrase and len(b) > 1 else None)
        post = eng._postings(terms, mode=mode).withColumn(
            "term", F.concat(F.lit(f"{fi}:"), F.col("term"))
        )
        if lang_filter is not None:  # each field index has its own lang ids
            post = post.filter(F.col("lang_id") == F.lit(eng.lang_id_of(lang_filter)))
        parts.append(post)
    program = (0, -1, sterms, fbranches, seqs)
    union = reduce(DataFrame.union, parts)
    # idf_map cached every field's dfs: when the call fits one task (its
    # panel has one row per distinct doc, whichever field holds it, so
    # N is summed over the fields), evaluate it there as one chunk, with
    # no doc_id shuffle (batch_query's "one task" shape)
    if _one_task_fit(fields, terms, phrase) is not None:
        return union.coalesce(1).mapInArrow(_hits_fn(program, tid, None), _HITS_SCHEMA)
    n_shuf = int(fields[0].spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        union.repartition(n_shuf, "doc_id")
        .sortWithinPartitions("doc_id")
        .mapInArrow(_hits_fn(program, tid, _chunk_rows(len(keys))), _HITS_SCHEMA)
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
            _described,
            _paged_pdf,
            _reduce_scored,
        )

        limit, page = int(condition["limit"]), int(condition["page"])
        cand = self.search_frame(condition)
        with _described(self.spark, "search: condition"):
            totals, top = _reduce_scored(cand, limit * page)
        window = _paged_pdf(top, [{"query_id": 0, "limit": limit, "page": page}], None)
        total = int(totals.get(0, 0))
        return {
            "total_hits": total,
            "last_page": total - limit * page <= 0,
            "results": [(int(d), float(s)) for d, s in zip(window["doc_id"], window["score"])],
        }
