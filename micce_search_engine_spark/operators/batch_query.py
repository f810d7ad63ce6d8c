"""The one BM25 evaluator: N keyword queries in ONE DataFrame plan.

The reference answers one HTTP query at a time
(search-api/internal/repository/vespaRepository.go:21-40). Here every
keyword query — a ``search_batch`` of hundreds or a single
``SearchEngine.search``, run as a batch of one — compiles into the same
plan (SURVEY.md §2D):

  compile (driver): per query, its synonym-expanded OR-of-AND branches
    as column ids into the batch vocabulary, its terms' idf and its
    lang filter
  -> decoded postings (term, doc_id, wf, lang_id): the segment decode,
     the pinned ``preload="decoded"`` cache, or a WAND ``block_join``
     selection of surviving blocks
  -> ONE vectorized mapInArrow evaluator (_batch_eval_fn): per chunk of
     docs, a dense docs x vocabulary wf panel; branch AND/OR candidacy,
     exact lang filter and the fixed-point score are numpy over it; it
     emits each query's partition-local top-maxk plus a count marker
  -> one Arrow collect, merged and paged on the driver (_paged_pdf)
     with the reference's limit*page / offset=limit*(page-1) quirk
     (search-api/internal/repository/query/queryBuilder.go:40-41,
      search-api/internal/presentation/model/response.go:40-42)

A doc's branch candidacy needs all of its postings in one task, so the
postings are repartitioned by ``doc_id`` once — unless every query of
the call has exactly one distinct term: a doc holds at most one posting
of a term, so decode and evaluation then fuse into one mapInArrow over
the pruned segment scan, with no shuffle. Batches are split into chunks
whose reduced frame fits DRIVER_MERGE_MAX_ROWS. A phrase-flagged query
feeds its adjacency matches in as one more required, unscored term.

``search_batch_topk`` is the WAND-pruned variant: one probe pass over
every term's best block yields per-query k-th-best lower bounds,
per-term decode thresholds take the weakest constraint across queries,
and the final pass decodes only surviving blocks — the batch analog of
Vespa's weakAnd, exact for the returned page windows (no totals, like
weakAnd's estimated totalCount).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from micce_search_engine_spark import BLOCK_SIZE
from micce_search_engine_spark.operators.query import (
    SCORE_SCALE,
    SearchEngine,
    _decode_map,
)
from micce_search_engine_spark.oracle import expand_branches

#: the evaluator's reduced frame: per partition and query, the top-maxk
#: candidates plus one count-marker row (``is_marker`` is an explicit
#: column — no doc_id sentinel, so negative doc ids can't leak into totals)
_REDUCED_SCHEMA = "query_id long, doc_id long, score double, n long, is_marker boolean"
_PAGE_SCHEMA = "query_id long, doc_id long, score double, rank int"
_BATCH_SCHEMA = _PAGE_SCHEMA + ", total_hits long, last_page boolean"

#: driver-merge bound: a call is evaluated in chunks of queries whose
#: worst-case reduced frame (partitions x queries x (maxk+1) rows) stays
#: under this many rows; each chunk is collected and paged on its own.
#: partitions: the larger of spark.sql.shuffle.partitions and the
#: segment scan's (the shuffle-free single-term plan has the latter)
DRIVER_MERGE_MAX_ROWS = 2_000_000

#: rows per dense evaluation chunk inside the evaluator — bounds task
#: memory to ~chunk_docs x n_terms doubles regardless of partition size
_EVAL_CHUNK_ROWS = 65_536

#: vocabulary entry of a phrase-flagged query's adjacency matches; the
#: NUL byte keeps it apart from every token the tokenizer can emit
_PHRASE_TERM = "\x00phrase:{}"


def _query_terms(engine: SearchEngine, q: dict) -> list[str]:
    return sorted({t for b in expand_branches(q["query_text"], engine.synonyms) for t in b})


def _compile(engine: SearchEngine, queries: list[dict]):
    """Driver-side compile -> (programs, term_to_tid, terms).

    One program per query with a non-empty expansion: (query_id,
    lang_id, [(tid, idf) score terms], [branch tid-arrays]). lang_id -1
    means no filter; an unknown lang (``lang_id_of``'s -1) becomes -2,
    which matches nothing. A phrase-flagged query's adjacency-match
    column is required by every branch and left out of the score.
    Synonym expansion is an exact-key dict lookup
    (search-api/internal/repository/bboltRepository.go:56-64)."""
    expanded = [(q, expand_branches(q["query_text"], engine.synonyms)) for q in queries]
    expanded = [(q, bs) for q, bs in expanded if bs]
    terms = sorted({t for _, bs in expanded for b in bs for t in b})
    idf = engine.idf_map(terms)
    tid = {t: i for i, t in enumerate(terms)}
    programs = []
    for q, branches in expanded:
        qid = int(q["query_id"])
        extra = set()
        if q.get("phrase"):
            extra = {tid.setdefault(_PHRASE_TERM.format(qid), len(tid))}
        lid = engine.lang_id_of(q.get("lang_filter"))
        lid = -1 if lid is None else (-2 if lid < 0 else lid)
        programs.append(
            (
                qid,
                lid,
                [(tid[t], float(idf[t])) for t in sorted({t for b in branches for t in b})],
                [
                    np.asarray(sorted({tid[t] for t in b} | extra), dtype=np.int64)
                    for b in branches
                ],
            )
        )
    return programs, tid, terms


def _batch_eval_fn(programs, term_to_tid, maxk: int, doc_sorted: bool = True):
    """mapInArrow evaluator: (term, doc_id, wf, lang_id) rows -> each
    query's partition-local top-maxk (score DESC, doc_id ASC) plus one
    count-marker row per query (``_REDUCED_SCHEMA``), for EVERY query of
    the batch in one vectorized pass.

    Per chunk of whole docs, postings are scattered into a dense
    (docs x batch-vocabulary) wf panel; each query's branch candidacy
    is numpy boolean algebra over its term columns and its score the
    int64 sum of floor(idf*wf*1e9) contributions. ``doc_sorted`` input
    keeps a doc's postings in one chunk; unsorted input is only valid
    when every query reads one term. Candidate buffers are compacted to
    maxk whenever they exceed 8*maxk, so memory stays bounded per query
    regardless of partition size."""
    n_terms = len(term_to_tid)
    # bound the dense panel: <= ~8M cells (64 MB of float64) per chunk
    # even when every row is a distinct doc and the batch vocabulary is
    # at its largest
    chunk_rows = max(4096, min(_EVAL_CHUNK_ROWS, 8_000_000 // max(n_terms, 1)))

    def _topk_cut(docs, scores):
        order = np.lexsort((docs, -scores))[:maxk]
        return docs[order], scores[order]

    def _eval_chunk(docs, tids, wfs, langs, acc, counts):
        uniq, inv = np.unique(docs, return_inverse=True)
        W = np.zeros((uniq.size, n_terms), dtype=np.float64)
        W[inv, tids] = wfs
        # phrase-match rows carry lang_id -1: only postings set a doc's lang
        real = langs >= 0
        lang_doc = np.full(uniq.size, -1, dtype=np.int64)
        lang_doc[inv[real]] = langs[real]
        for qid, lid, sterms, branches in programs:
            matched = (W[:, branches[0]] > 0).all(axis=1)
            for btids in branches[1:]:
                matched |= (W[:, btids] > 0).all(axis=1)
            if lid != -1:
                matched &= lang_doc == lid
            idx = np.flatnonzero(matched)
            if not idx.size:
                continue
            counts[qid] = counts.get(qid, 0) + idx.size
            fx = np.zeros(idx.size, dtype=np.int64)
            for t, idf in sterms:
                fx += np.floor(idf * W[idx, t] * SCORE_SCALE).astype(np.int64)
            d, s = uniq[idx], fx.astype(np.float64) / SCORE_SCALE
            if qid in acc:
                d = np.concatenate([acc[qid][0], d])
                s = np.concatenate([acc[qid][1], s])
            acc[qid] = _topk_cut(d, s) if d.size > 8 * maxk else (d, s)

    def fn(it):
        import pyarrow as pa

        acc: dict = {}
        counts: dict = {}

        def _flush(bufs, final):
            tids, docs, wfs, langs = (np.concatenate(c) for c in zip(*bufs))
            cut = docs.size
            if doc_sorted and not final:
                # keep the (possibly straddling) last doc buffered
                cut = np.searchsorted(docs, docs[-1], side="left")
                if cut == 0:
                    return bufs  # single doc in buffer: keep accumulating
            _eval_chunk(docs[:cut], tids[:cut], wfs[:cut], langs[:cut], acc, counts)
            if cut == docs.size:
                return []
            return [(tids[cut:], docs[cut:], wfs[cut:], langs[cut:])]

        bufs: list = []
        nbuf = 0
        for batch in it:
            if batch.num_rows == 0:
                continue
            idx = {nm: j for j, nm in enumerate(batch.schema.names)}
            denc = batch.column(idx["term"]).dictionary_encode()
            lut = np.asarray(
                [term_to_tid[t] for t in denc.dictionary.to_pylist()], dtype=np.int64
            )
            codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            bufs.append(
                (
                    lut[codes],
                    batch.column(idx["doc_id"]).to_numpy(zero_copy_only=False).astype(np.int64),
                    batch.column(idx["wf"]).to_numpy(zero_copy_only=False).astype(np.float64),
                    batch.column(idx["lang_id"]).to_numpy(zero_copy_only=False).astype(np.int64),
                )
            )
            nbuf += batch.num_rows
            if nbuf >= chunk_rows:
                bufs = _flush(bufs, final=False)
                nbuf = sum(b[1].size for b in bufs)
        if bufs:
            _flush(bufs, final=True)
        if not counts:
            return
        qs, ds, ss, ns, mk = [], [], [], [], []
        for qid in sorted(counts):
            d, s = _topk_cut(*acc[qid]) if qid in acc else (np.empty(0, np.int64), np.empty(0))
            qs.append(np.full(d.size + 1, qid, dtype=np.int64))
            ds += [d, [-1]]
            ss += [s, [0.0]]
            ns += [np.zeros(d.size, dtype=np.int64), [counts[qid]]]
            mk += [np.zeros(d.size, dtype=bool), [True]]
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.concatenate(c)) for c in (qs, ds, ss, ns, mk)],
            names=["query_id", "doc_id", "score", "n", "is_marker"],
        )

    return fn


def _batch_phrase_rows(engine: SearchEngine, queries: list[dict]) -> DataFrame | None:
    """Adjacency matches of every phrase-flagged query as evaluator input
    rows (term = the query's ``_PHRASE_TERM``, doc_id, wf 1.0, lang_id
    -1), or None when the batch has none. One bounded positional decode
    serves the whole batch (operators/query.py _phrase_sets; each
    expanded OR branch of each phrase query becomes one sequence).

    Matches are lang-UNFILTERED (a doc's token adjacency does not depend
    on lang); the evaluator applies each query's lang filter from the
    doc's postings, so all phrase queries share one decode. A phrase
    match of a branch implies its AND match, so requiring this column in
    every branch leaves exactly the phrase hits."""
    seqs: dict[int, list[str]] = {}
    owner = []
    for q in queries:
        if not q.get("phrase"):
            continue
        for b in expand_branches(q["query_text"], engine.synonyms):
            owner.append((len(seqs), _PHRASE_TERM.format(int(q["query_id"]))))
            seqs[len(seqs)] = b
    if not seqs:
        return None
    matches, _ = engine._phrase_sets(seqs, lang_id=None)
    qmap = engine.spark.createDataFrame(owner, "seq_id int, term string")
    return matches.join(F.broadcast(qmap), "seq_id").select(
        "term",
        "doc_id",
        F.lit(1.0).alias("wf"),
        F.lit(-1).cast("long").alias("lang_id"),
    )


def _eval_plan(
    engine: SearchEngine, queries: list[dict], maxk: int, block_join=None
) -> DataFrame | None:
    """The reduced frame (``_REDUCED_SCHEMA``) of one chunk, or None when
    no query has a term. ``block_join``: optional WAND surviving-block
    selection (term, salt, allowed) restricting the decode."""
    programs, tid, terms = _compile(engine, queries)
    if not programs:
        return None
    phrase = _batch_phrase_rows(engine, queries)
    if phrase is None and all(len(p[2]) == 1 for p in programs):
        # one distinct term per query: a doc holds at most one posting of
        # a term (salted rows cover disjoint doc ranges), so no query
        # needs a doc's postings co-located — evaluate where they are
        # decoded, in the same Python pass, with no shuffle
        ev = _batch_eval_fn(programs, tid, maxk, doc_sorted=False)
        if engine._decoded_cached is not None and block_join is None:
            return engine._postings(terms, mode="score_lang").mapInArrow(
                ev, _REDUCED_SCHEMA
            )
        dec = _decode_map("score_lang", avgdl=engine.avgdl)
        return engine._segment_scan(terms, "score_lang", block_join=block_join).mapInArrow(
            lambda it: ev(dec(it)), _REDUCED_SCHEMA
        )
    postings = engine._postings(terms, block_join=block_join, mode="score_lang")
    if phrase is not None:
        postings = postings.unionByName(phrase)
    n_shuf = int(engine.spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        postings.repartition(n_shuf, "doc_id")
        .sortWithinPartitions("doc_id")
        .mapInArrow(_batch_eval_fn(programs, tid, maxk), _REDUCED_SCHEMA)
    )


def _empty_top() -> pd.DataFrame:
    return pd.DataFrame(
        {"query_id": np.empty(0, np.int64), "doc_id": np.empty(0, np.int64), "score": np.empty(0)}
    )


def _reduce(
    engine: SearchEngine, queries: list[dict], maxk: int, block_join=None
) -> tuple[dict, pd.DataFrame]:
    """Evaluate one chunk and merge it on the driver -> ({query_id:
    total candidates}, per-partition top rows (query_id, doc_id, score)).
    One Arrow collect of the reduced frame, which the chunking bounds."""
    plan = _eval_plan(engine, queries, maxk, block_join)
    if plan is None:
        return {}, _empty_top()
    pdf = plan.toPandas()
    mk = pdf["is_marker"].to_numpy(dtype=bool)
    totals = pdf.loc[mk].groupby("query_id")["n"].sum().astype(int).to_dict()
    return totals, pdf.loc[~mk]


def _batch_wand_selection(engine: SearchEngine, queries: list[dict], maxk: int):
    """Per-batch surviving-block selection (term, salt, allowed) — empty
    when no term has segments, None when no query has k probe matches
    (nothing can be pruned safely).

    One probe pass (every term's best block, decoded once for ALL
    queries) yields each query's k-th best lower bound theta_q; a
    block of term t is then decoded iff its upper bound reaches the
    WEAKEST constraint over queries containing t:
        thr_t = min over q∋t of (theta_q - (total_ub_q - ub_t)),
    with thr_t = -inf for queries lacking k probe matches (their terms
    decode fully). theta_q is a valid lower bound for any branch
    structure (a doc fully matching a branch within the best blocks
    truly matches, and its probe score is <= its true score), and a
    lang filter only shrinks the probe (bounds ignore lang: safe).
    Driver state is one float per (query, term), never per block."""
    qterms = {int(q["query_id"]): _query_terms(engine, q) for q in queries}
    terms = sorted({t for ts in qterms.values() for t in ts})
    blocks = engine._wand_blocks(terms, engine.idf_map(terms))
    term_ub, best_sel = engine._term_ub_and_best(blocks)
    if not term_ub:
        return best_sel  # empty: no segments -> decode nothing
    _, probe = _reduce(engine, queries, maxk, block_join=best_sel)
    # theta_q = the k-th best probe score: page k of a 1-row page size
    kth = _paged_pdf(
        probe,
        [
            {"query_id": q["query_id"], "limit": 1, "page": int(q["limit"]) * int(q["page"])}
            for q in queries
        ],
        None,
    )
    theta = dict(zip(kth["query_id"].tolist(), kth["score"].tolist()))
    if not theta:
        return None
    thr: dict[str, float] = {}
    for qid, ts in qterms.items():
        th_q = theta.get(qid)
        total_ub_q = sum(term_ub.get(t, 0.0) for t in ts)
        for t in ts:
            if t in term_ub:
                v = float("-inf") if th_q is None else th_q - (total_ub_q - term_ub[t])
                thr[t] = min(thr.get(t, float("inf")), v)
    thr_df = engine.spark.createDataFrame(list(thr.items()), "term string, thr double")
    surviving = blocks.join(F.broadcast(thr_df), "term").filter(
        F.col("bound") >= F.col("thr")
    )
    return surviving.groupBy("term", "salt").agg(F.collect_list("bi").alias("allowed"))


def _paged_pdf(pdf: pd.DataFrame, queries: list[dict], totals: dict | None):
    """Vectorized driver paging of a per-partition-reduced candidate
    frame: one lexsort over (query_id, -score, doc_id) + one
    searchsorted slice per query. ``totals`` non-None appends
    total_hits/last_page columns (the search_batch contract). Rows are
    emitted in queries order, (score DESC, doc_id ASC) within a query —
    a total order, so the sort is unambiguous. A window never starts
    before its own query's rows, whatever limit/page say."""
    qids = pdf["query_id"].to_numpy(np.int64)
    docs = pdf["doc_id"].to_numpy(np.int64)
    scores = pdf["score"].to_numpy(np.float64)
    order = np.lexsort((docs, -scores, qids))
    qids, docs, scores = qids[order], docs[order], scores[order]
    want = np.asarray([int(q["query_id"]) for q in queries], dtype=np.int64)
    left = np.searchsorted(qids, want, side="left")
    right = np.searchsorted(qids, want, side="right")
    out_q, out_d, out_s, out_r, out_t, out_l = [], [], [], [], [], []
    for i, q in enumerate(queries):
        limit, page = int(q["limit"]), int(q["page"])
        lo = max(left[i] + limit * (page - 1), left[i])
        hi = min(left[i] + limit * page, right[i])
        k = hi - lo
        if k <= 0:
            continue
        out_q.append(np.full(k, want[i], dtype=np.int64))
        out_d.append(docs[lo:hi])
        out_s.append(scores[lo:hi])
        out_r.append(np.arange(1, k + 1, dtype=np.int32))
        if totals is not None:
            total = int(totals.get(int(want[i]), 0))
            out_t.append(np.full(k, total, dtype=np.int64))
            out_l.append(np.full(k, total - limit * page <= 0, dtype=bool))
    cols = {
        "query_id": np.concatenate(out_q) if out_q else np.empty(0, np.int64),
        "doc_id": np.concatenate(out_d) if out_d else np.empty(0, np.int64),
        "score": np.concatenate(out_s) if out_s else np.empty(0, np.float64),
        "rank": np.concatenate(out_r) if out_r else np.empty(0, np.int32),
    }
    if totals is not None:
        cols["total_hits"] = (
            np.concatenate(out_t) if out_t else np.empty(0, np.int64)
        )
        cols["last_page"] = np.concatenate(out_l) if out_l else np.empty(0, bool)
    return pd.DataFrame(cols)


def _wand_split(engine: SearchEngine, queries: list[dict]):
    """ADAPTIVE WAND engagement (VERDICT r3 #3, r4 wrong #2): the probe
    costs ~3 fixed Spark jobs that only pay off once decode volume
    dominates, so a query takes the pruned plan only when its candidate
    decode volume (sum of its terms' dfs, cached driver-side by
    idf_map) reaches ``wand_engage_factor * k * BLOCK_SIZE`` postings.
    Pruning is lossless, so the split is purely a performance choice.
    Phrase-flagged queries always take the exact path: a probe theta
    computed without adjacency could exceed the true phrase k-th best
    and over-prune. -> [(engaged, True), (exact, False)]"""
    qterms = [(q, _query_terms(engine, q)) for q in queries]
    engine.idf_map(sorted({t for _, ts in qterms for t in ts}))
    engaged, exact = [], []
    for q, ts in qterms:
        sum_df = sum(engine._df_cache.get(t, 0) for t in ts)
        k = int(q["limit"]) * int(q["page"])
        if not q.get("phrase") and sum_df >= engine.wand_engage_factor * k * BLOCK_SIZE:
            engaged.append(q)
        else:
            exact.append(q)
    return [(engaged, True), (exact, False)]


def _batch_pages(
    engine: SearchEngine, queries: list[dict], topk_only: bool = False
) -> tuple[dict, pd.DataFrame]:
    """The shared entry of every keyword query -> ({query_id:
    total_hits}, page windows (query_id, doc_id, score, rank,
    total_hits, last_page)). Enforces the input contract of
    ``SearchEngine.search`` for every query (SearchCondition.go:32-44).
    ``topk_only`` routes queries past the WAND engagement floor through
    block pruning (their totals are then not meaningful)."""
    for q in queries:
        if int(q["limit"]) < 1 or int(q["page"]) < 1:
            raise ValueError("limit and page are required and must be >= 1")
    maxk = max((int(q["limit"]) * int(q["page"]) for q in queries), default=1)
    n_parts = max(
        int(engine.spark.conf.get("spark.sql.shuffle.partitions")),
        engine._scan_partitions,
    )
    size = max(1, DRIVER_MERGE_MAX_ROWS // (n_parts * (maxk + 1)))
    totals: dict = {}
    pages = []
    for i in range(0, len(queries), size):
        chunk = queries[i : i + size]
        for qs, wand in _wand_split(engine, chunk) if topk_only else [(chunk, False)]:
            if not qs:
                continue
            k = max(int(q["limit"]) * int(q["page"]) for q in qs)
            sel = _batch_wand_selection(engine, qs, k) if wand else None
            t, top = _reduce(engine, qs, k, sel)
            totals.update(t)
            pages.append(_paged_pdf(top, qs, t))
    if not pages:
        return totals, _paged_pdf(_empty_top(), [], {})
    return totals, pd.concat(pages, ignore_index=True)


def search_batch(engine: SearchEngine, queries: list[dict]) -> DataFrame:
    """Evaluate all queries; returns DataFrame
    (query_id, doc_id, score, rank, total_hits, last_page) — one row per
    returned hit, rank 1-based within the returned page. Queries
    flagged ``phrase: True`` match their multi-word keywords as exact
    phrases (the reference's contains-"multi word" semantics) — totals
    then count phrase hits. Raises ValueError unless every query has
    limit >= 1 and page >= 1."""
    _, pages = _batch_pages(engine, queries)
    return engine.spark.createDataFrame(pages, _BATCH_SCHEMA)


def search_batch_topk(engine: SearchEngine, queries: list[dict]) -> DataFrame:
    """WAND-pruned batched top-k: (query_id, doc_id, score, rank) —
    rank-and-score-identical to search_batch's page window (pruning is
    lossless, see operators/query.py), but decodes only surviving
    blocks for queries past the engagement floor (_wand_split) and
    skips totals (the reference's weakAnd likewise estimates
    totalCount)."""
    _, pages = _batch_pages(engine, queries, topk_only=True)
    return engine.spark.createDataFrame(
        pages[["query_id", "doc_id", "score", "rank"]], _PAGE_SCHEMA
    )


def totals_batch(engine: SearchEngine, queries: list[dict]) -> DataFrame:
    """Per-query total_hits + last_page only (covers queries whose page
    window is empty and queries with zero hits). Q11/Q12 analog."""
    totals, _ = _batch_pages(engine, queries)
    rows = []
    for q in queries:
        total = int(totals.get(int(q["query_id"]), 0))
        rows.append(
            (int(q["query_id"]), total, total - int(q["limit"]) * int(q["page"]) <= 0)
        )
    return engine.spark.createDataFrame(
        rows, "query_id long, total_hits long, last_page boolean"
    )
