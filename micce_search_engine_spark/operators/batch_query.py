"""The one BM25 evaluator: N keyword queries in ONE DataFrame plan.

The reference answers one HTTP query at a time
(search-api/internal/repository/vespaRepository.go:21-40). Here every
keyword query — a ``search_batch`` of hundreds, a single
``SearchEngine.search`` or ``search_phrase``, each run as a batch of
one — compiles into the same plan (SURVEY.md §2D):

  compile (driver): per query, its synonym-expanded OR-of-AND branches
    as column ids into the batch vocabulary, its terms' idf, its lang
    filter and, for a phrase-flagged query, each multi-token branch's
    token sequence
  -> decoded postings (term, doc_id, wf, lang_id[, positions]): the
     segment decode, restricted by a WAND or phrase ``block_join``
     selection of blocks when one applies; positions are decoded only
     when the call holds a multi-token phrase branch
  -> ONE vectorized mapInArrow evaluator (_batch_eval_fn): per chunk of
     docs, the kernel _chunk_hits builds a dense docs x vocabulary wf
     panel; branch AND/OR candidacy, phrase adjacency (_phrase_docs),
     exact lang filter and the fixed-point score are numpy over it; it
     emits each query's partition-local top-maxk plus a count marker
     (_TopK)
  -> one Arrow collect, merged and paged on the driver (_paged_pdf)
     with the reference's limit*page / offset=limit*(page-1) quirk
     (search-api/internal/repository/query/queryBuilder.go:40-41,
      search-api/internal/presentation/model/response.go:40-42)

A doc's branch candidacy needs all of its postings in one chunk of one
task, so a call runs in one of three shapes, tried in this order:

  * one task: the call's postings fit one evaluation chunk (sum of its
    terms' df <= ``_chunk_rows``): decode and evaluation fuse into one
    mapInArrow over the pruned segment scan coalesced to one partition,
    which is evaluated as a single chunk — no shuffle, one Spark job;
  * single-term: every query has exactly one distinct term. A doc holds
    at most one posting of a term, so decode and evaluation fuse into
    one mapInArrow per segment-scan partition, with no shuffle;
  * doc_id shuffle: the decoded postings are repartitioned by
    ``doc_id`` once and sorted, and chunks are cut at doc boundaries.

Batches are split into chunks whose reduced frame fits
DRIVER_MERGE_MAX_ROWS; each chunk's evaluation jobs carry the
description ``search: <shape>``, and the jobs that bound its decode
before it ``search: phrase bound`` (the phrase block selection) or
``search: wand probe`` (the WAND per-term bound aggregate).

A phrase-flagged query matches a multi-token branch only where its
tokens occur at consecutive positions (whereQuery.go:43-57); its score
is the usual BM25 over all its terms, and a phrase whose branches are
all single tokens is plain bag-of-words. When every branch of the call
is such a phrase and the call does not fit one chunk, the decode is
bounded to the blocks holding a doc of each phrase's rarest term
(SearchEngine._phrase_block_join).

``multifield.multifield_scored`` runs the same kernel over a
field-qualified vocabulary and emits every match unreduced
(``_hits_fn``), for ``ConditionEngine`` to filter, join and reduce; it
takes the one-task shape on the same bound, else the doc_id shuffle.

``search_batch_topk`` is the WAND-pruned variant: one probe pass over
every term's best block yields per-query k-th-best lower bounds,
per-term decode thresholds take the weakest constraint across queries,
and the final pass decodes only surviving blocks — the batch analog of
Vespa's weakAnd, exact for the returned page windows (no totals, like
weakAnd's estimated totalCount).
"""

from __future__ import annotations

from contextlib import contextmanager

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


def _query_terms(engine: SearchEngine, q: dict) -> list[str]:
    return sorted({t for b in expand_branches(q["query_text"], engine.synonyms) for t in b})


def _compile(engine: SearchEngine, queries: list[dict]):
    """Driver-side compile -> (programs, term_to_tid, terms).

    One program per query with a non-empty expansion: (query_id,
    lang_id, [(tid, idf) score terms], [branch tid-arrays], [per branch:
    its tid sequence in token order when it is a multi-token branch of
    a phrase-flagged query, else None]). lang_id -1 means no filter; an
    unknown lang (``lang_id_of``'s -1) becomes -2, which matches
    nothing. Synonym expansion is an exact-key dict lookup
    (search-api/internal/repository/bboltRepository.go:56-64)."""
    expanded = [(q, expand_branches(q["query_text"], engine.synonyms)) for q in queries]
    expanded = [(q, bs) for q, bs in expanded if bs]
    terms = sorted({t for _, bs in expanded for b in bs for t in b})
    idf = engine.idf_map(terms)
    tid = {t: i for i, t in enumerate(terms)}
    programs = []
    for q, branches in expanded:
        lid = engine.lang_id_of(q.get("lang_filter"))
        lid = -1 if lid is None else (-2 if lid < 0 else lid)
        programs.append(
            (
                int(q["query_id"]),
                lid,
                [(tid[t], float(idf[t])) for t in sorted({t for b in branches for t in b})],
                [np.asarray(sorted({tid[t] for t in b}), dtype=np.int64) for b in branches],
                [
                    np.asarray([tid[t] for t in b], dtype=np.int64)
                    if q.get("phrase") and len(b) > 1
                    else None
                    for b in branches
                ],
            )
        )
    return programs, tid, terms


def _chunk_rows(n_terms: int) -> int:
    """Postings per evaluation chunk: the dense panel stays <= ~8M cells
    (64 MB of float64) even when every row is a distinct doc and the
    batch vocabulary is at its largest."""
    return max(4096, min(_EVAL_CHUNK_ROWS, 8_000_000 // max(n_terms, 1)))


def _posting_arrays(batch, term_to_tid):
    """One Arrow batch of decoded postings -> (tids, docs, wfs, langs,
    pcnt, pos): per posting its term id, doc, wf, lang and number of
    positions, plus the batch's flat positions in posting order (none
    when the batch has no ``positions`` column)."""
    idx = {nm: j for j, nm in enumerate(batch.schema.names)}

    def col(nm, dtype):
        return batch.column(idx[nm]).to_numpy(zero_copy_only=False).astype(dtype)

    denc = batch.column(idx["term"]).dictionary_encode()
    lut = np.asarray([term_to_tid[t] for t in denc.dictionary.to_pylist()], dtype=np.int64)
    tids = lut[denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)]
    if "positions" in idx:
        lists = batch.column(idx["positions"])
        off = lists.offsets.to_numpy().astype(np.int64)
        pcnt = np.diff(off)
        pos = lists.values.to_numpy(zero_copy_only=False)[off[0] : off[-1]].astype(np.int64)
    else:
        pcnt = np.zeros(batch.num_rows, dtype=np.int64)
        pos = np.empty(0, dtype=np.int64)
    return tids, col("doc_id", np.int64), col("wf", np.float64), col("lang_id", np.int64), pcnt, pos


def _split(cols, cut: int):
    """(head, tail) of ``_posting_arrays`` columns at posting ``cut``."""
    pcut = int(cols[4][:cut].sum())
    head = tuple(c[:cut] for c in cols[:5]) + (cols[5][:pcut],)
    tail = tuple(c[cut:] for c in cols[:5]) + (cols[5][pcut:],)
    return head, tail


def _doc_chunks(it, term_to_tid, chunk_rows: int | None, doc_sorted: bool):
    """Arrow batches of decoded postings -> ``_posting_arrays`` chunks of
    about ``chunk_rows`` postings (None: all of them in one chunk).
    ``doc_sorted`` input is cut only at doc boundaries, so each doc's
    postings land in one chunk."""
    bufs: list = []
    nbuf = 0
    for batch in it:
        if batch.num_rows == 0:
            continue
        bufs.append(_posting_arrays(batch, term_to_tid))
        nbuf += batch.num_rows
        if chunk_rows is None or nbuf < chunk_rows:
            continue
        cols = tuple(np.concatenate(c) for c in zip(*bufs))
        cut = cols[1].size
        if doc_sorted:
            # keep the (possibly straddling) last doc buffered
            cut = int(np.searchsorted(cols[1], cols[1][-1], side="left"))
            if cut == 0:  # single doc in buffer: keep accumulating
                bufs = [cols]
                continue
        head, tail = _split(cols, cut)
        yield head
        bufs, nbuf = ([tail], tail[1].size) if tail[1].size else ([], 0)
    if bufs:
        yield tuple(np.concatenate(c) for c in zip(*bufs))


def _phrase_docs(seq, cand, inv, tids, pcnt, pos):
    """Narrow ``cand`` (a mask over a chunk's docs) to the docs in which
    the term ids ``seq`` occur at consecutive positions. Position p of
    the j-th token keys ``doc * B + p - j``; a key present for every j
    is a phrase start, so the key sets are intersected over j (a doc
    holds one posting per term, so each set is duplicate-free)."""
    B = int(pos.max()) + 1
    starts = np.cumsum(pcnt) - pcnt
    keys = None
    for j, t in enumerate(seq):
        sel = np.flatnonzero((tids == t) & cand[inv])
        c = pcnt[sel]
        flat = np.repeat(starts[sel] - np.cumsum(c) + c, c) + np.arange(int(c.sum()))
        p = pos[flat] - j
        k = (np.repeat(inv[sel], c) * B + p)[p >= 0]
        keys = k if keys is None else np.intersect1d(keys, k, assume_unique=True)
    out = np.zeros(cand.size, dtype=bool)
    out[keys // B] = True
    return out


def _matches(present, branches, seqs, inv, tids, pcnt, pos):
    """Mask over a chunk's docs: SOME branch has all of its terms
    (``present``: docs x vocabulary) and, when it is a phrase branch
    (its ``seqs`` entry is not None), has them at consecutive
    positions."""
    matched = np.zeros(present.shape[0], dtype=bool)
    for btids, seq in zip(branches, seqs):
        m = present[:, btids].all(axis=1)
        if seq is not None and m.any():
            m = _phrase_docs(seq, m, inv, tids, pcnt, pos)
        matched |= m
    return matched


class _TopK:
    """Per-query top-maxk (score DESC, doc_id ASC) plus a hit count.
    Candidate buffers are compacted to maxk whenever they exceed
    8*maxk, so memory stays bounded per query whatever is added."""

    def __init__(self, maxk: int):
        self.maxk = maxk
        self.acc: dict = {}
        self.counts: dict = {}

    def _cut(self, docs, scores):
        order = np.lexsort((docs, -scores))[: self.maxk]
        return docs[order], scores[order]

    def add(self, qid: int, docs, scores) -> None:
        self.counts[qid] = self.counts.get(qid, 0) + docs.size
        if qid in self.acc:
            docs = np.concatenate([self.acc[qid][0], docs])
            scores = np.concatenate([self.acc[qid][1], scores])
        self.acc[qid] = self._cut(docs, scores) if docs.size > 8 * self.maxk else (docs, scores)

    def batches(self):
        """The ``_REDUCED_SCHEMA`` rows: each counted query's top-maxk
        plus its count marker."""
        import pyarrow as pa

        if not self.counts:
            return
        qs, ds, ss, ns, mk = [], [], [], [], []
        for qid in sorted(self.counts):
            d, s = self._cut(*self.acc[qid])
            qs.append(np.full(d.size + 1, qid, dtype=np.int64))
            ds += [d, [-1]]
            ss += [s, [0.0]]
            ns += [np.zeros(d.size, dtype=np.int64), [self.counts[qid]]]
            mk += [np.zeros(d.size, dtype=bool), [True]]
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.concatenate(c)) for c in (qs, ds, ss, ns, mk)],
            names=["query_id", "doc_id", "score", "n", "is_marker"],
        )


def _chunk_hits(programs, n_terms: int, chunk):
    """The evaluator kernel over one chunk of whole docs: yields
    (query_id, docs, scores) of every program with a match.

    Postings are scattered into a dense (docs x vocabulary) wf panel;
    each program's branch candidacy is numpy boolean algebra over its
    term columns (``_matches``, with phrase adjacency over the
    positions), its lang filter an equality on the docs' ``lang_id``,
    and its score the int64 sum of floor(idf*wf*1e9) contributions."""
    tids, docs, wfs, langs, pcnt, pos = chunk
    uniq, inv = np.unique(docs, return_inverse=True)
    W = np.zeros((uniq.size, n_terms), dtype=np.float64)
    W[inv, tids] = wfs
    present = W > 0
    lang_doc = np.empty(uniq.size, dtype=np.int64)
    lang_doc[inv] = langs
    for qid, lid, sterms, branches, seqs in programs:
        matched = _matches(present, branches, seqs, inv, tids, pcnt, pos)
        if lid != -1:
            matched &= lang_doc == lid
        idx = np.flatnonzero(matched)
        if not idx.size:
            continue
        fx = np.zeros(idx.size, dtype=np.int64)
        for t, idf in sterms:
            fx += np.floor(idf * W[idx, t] * SCORE_SCALE).astype(np.int64)
        yield qid, uniq[idx], fx.astype(np.float64) / SCORE_SCALE


def _batch_eval_fn(programs, term_to_tid, maxk: int, shape: str = "doc_id shuffle"):
    """mapInArrow evaluator: (term, doc_id, wf, lang_id[, positions])
    rows -> each query's partition-local top-maxk (score DESC, doc_id
    ASC) plus one count-marker row per query (``_REDUCED_SCHEMA``), for
    EVERY query of the batch in one vectorized pass of ``_chunk_hits``
    per chunk. The plan ``shape`` (``_eval_plan``) says how a doc's
    postings stay in one chunk: ``doc_id shuffle`` input is doc-sorted
    and cut at doc boundaries; ``one task`` input holds the call's every
    posting and is evaluated as one chunk; ``single-term`` input is cut
    anywhere, as each query reads one term."""
    n_terms = len(term_to_tid)
    chunk_rows = None if shape == "one task" else _chunk_rows(n_terms)

    def fn(it):
        top = _TopK(maxk)
        for chunk in _doc_chunks(it, term_to_tid, chunk_rows, shape == "doc_id shuffle"):
            for qid, docs, scores in _chunk_hits(programs, n_terms, chunk):
                top.add(qid, docs, scores)
        yield from top.batches()

    return fn


def _hits_fn(program, term_to_tid, chunk_rows: int | None):
    """mapInArrow over decoded postings -> (doc_id, score) of EVERY doc
    that ``program`` matches (``_chunk_hits``), unreduced. Input is
    doc-sorted and cut into chunks of about ``chunk_rows`` postings at
    doc boundaries, or (None) holds all of its postings in one chunk."""
    n_terms = len(term_to_tid)

    def fn(it):
        import pyarrow as pa

        for chunk in _doc_chunks(it, term_to_tid, chunk_rows, True):
            for _, docs, scores in _chunk_hits([program], n_terms, chunk):
                yield pa.RecordBatch.from_arrays(
                    [pa.array(docs), pa.array(scores)], names=["doc_id", "score"]
                )

    return fn


def _eval_plan(
    engine: SearchEngine, queries: list[dict], maxk: int, block_join=None
) -> tuple[DataFrame, str] | None:
    """(the reduced frame (``_REDUCED_SCHEMA``) of one chunk, its shape:
    ``one task``, ``single-term`` or ``doc_id shuffle``), or None when no
    query has a term. ``block_join``: optional WAND surviving-block
    selection (term, salt, allowed) restricting the decode."""
    programs, tid, terms = _compile(engine, queries)
    if not programs:
        return None
    # _compile's idf_map cached every term's df (a call with a term
    # already evicted from the bounded cache never fits)
    sum_df = sum(engine._df_cache.get(t, float("inf")) for t in terms)
    fits = sum_df <= _chunk_rows(len(terms))
    seqs = [s for p in programs for s in p[4]]
    mode = "score_lang"
    if any(s is not None for s in seqs):
        engine._require_positions()
        mode = "score_lang_pos"
        # the phrase bound's own jobs cost more than the unbounded decode
        # of a call that fits one chunk
        if not fits and block_join is None and all(s is not None for s in seqs):
            with _described(engine.spark, "search: phrase bound"):
                block_join = engine._phrase_block_join([[terms[t] for t in s] for s in seqs])
    if fits:
        # every posting of the call fits one evaluation chunk: read the
        # whole scan in one task and evaluate it as one chunk, so each
        # doc's postings are together with no shuffle (the df sum only
        # picks the shape; one chunk is correct whatever it holds)
        shape = "one task"
    elif all(len(p[2]) == 1 for p in programs):
        # one distinct term per query: a doc holds at most one posting of
        # a term (salted rows cover disjoint doc ranges), so no query
        # needs a doc's postings co-located — evaluate where they are
        # decoded, in the same Python pass, with no shuffle
        shape = "single-term"
    else:
        shape = "doc_id shuffle"
    ev = _batch_eval_fn(programs, tid, maxk, shape)
    if shape == "doc_id shuffle":
        n_shuf = int(engine.spark.conf.get("spark.sql.shuffle.partitions"))
        plan = (
            engine._postings(terms, block_join=block_join, mode=mode)
            .repartition(n_shuf, "doc_id")
            .sortWithinPartitions("doc_id")
            .mapInArrow(ev, _REDUCED_SCHEMA)
        )
        return plan, shape
    scan = engine._segment_scan(terms, mode, block_join=block_join)
    if shape == "one task":
        scan = scan.coalesce(1)
    dec = _decode_map(mode, avgdl=engine.avgdl)
    return scan.mapInArrow(lambda it: ev(dec(it)), _REDUCED_SCHEMA), shape


def _empty_top() -> pd.DataFrame:
    return pd.DataFrame(
        {"query_id": np.empty(0, np.int64), "doc_id": np.empty(0, np.int64), "score": np.empty(0)}
    )


def _merge_reduced(plan: DataFrame) -> tuple[dict, pd.DataFrame]:
    """One Arrow collect of a reduced frame -> ({query_id: total
    candidates}, per-partition top rows (query_id, doc_id, score))."""
    pdf = plan.toPandas()
    mk = pdf["is_marker"].to_numpy(dtype=bool)
    totals = pdf.loc[mk].groupby("query_id")["n"].sum().astype(int).to_dict()
    return totals, pdf.loc[~mk]


@contextmanager
def _described(spark, desc: str):
    """Label the Spark jobs run inside the block with the job
    description ``desc``; the caller's is restored after, also when a
    job fails."""
    sc = spark.sparkContext
    prev_desc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setJobDescription(prev_desc)


def _reduce(
    engine: SearchEngine, queries: list[dict], maxk: int, block_join=None
) -> tuple[dict, pd.DataFrame]:
    """Evaluate one chunk and merge it on the driver (``_merge_reduced``);
    the chunking bounds the collected frame. Its jobs carry the
    description ``search: <shape>``."""
    built = _eval_plan(engine, queries, maxk, block_join)
    if built is None:
        return {}, _empty_top()
    plan, shape = built
    with _described(engine.spark, f"search: {shape}"):
        return _merge_reduced(plan)


def _reduce_scored(cand: DataFrame, maxk: int) -> tuple[dict, pd.DataFrame]:
    """The evaluator's reducer over any (doc_id, score) frame, as query 0:
    each partition keeps its top-maxk plus a count marker (``_TopK``),
    merged by one collect -> ({0: total} or {}, top rows) for
    ``_paged_pdf``."""

    def fn(it):
        top = _TopK(maxk)
        for batch in it:
            if batch.num_rows:
                docs, scores = (
                    batch.column(nm).to_numpy(zero_copy_only=False) for nm in ("doc_id", "score")
                )
                top.add(0, docs.astype(np.int64), scores.astype(np.float64))
        yield from top.batches()

    return _merge_reduced(cand.select("doc_id", "score").mapInArrow(fn, _REDUCED_SCHEMA))


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
    with _described(engine.spark, "search: wand probe"):
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
