"""Query engine: SearchCondition -> DataFrame plan -> BM25 top-k.

Re-expresses the reference's query path (SURVEY.md §3.1):
  SearchCondition (search-api/internal/domain/SearchCondition.go:9-21)
  -> synonym expansion (vespaRepository.go:22-29, convertSpotNameQuery.go:5-22)
  -> predicate tree (query/whereQuery.go) -> [Vespa: tokenize, match
  inverted index, BM25, limit/offset] -> {total_hits, last_page, ids}
  (presentation/model/response.go:8-42).

Every keyword query — ``search`` (exact and ``topk_only``) and
``search_phrase`` as much as the batch entry points and the multi-field
``multifield_scored`` — is ranked by ONE evaluator: each runs through
operators/batch_query.py (a single query as a batch of one), whose
vectorized mapInArrow kernel scores OR-of-AND branches over decoded
postings, checks phrase adjacency and applies the lang filter; keyword
calls then emit each partition's top-k plus a count marker, which the
driver merges and pages. This module holds what that evaluator reads:
the bucket/term-pruned segment scan (optionally pinned in executor
memory with ``preload=True``), the Arrow-batched zero-copy posting
decode (it emits the idf-free BM25 weight ``wf``, the per-posting lang
id and, for phrase calls, the positions — NO join against a docs table,
which at 10^12 docs is a full shuffle per query; no decode filters by
lang), and the block selections that bound a decode: block-max WAND
bounds and the rarest-term blocks of a phrase.

Determinism (SURVEY.md §4.2 item 4): per-term contributions are
quantized to int64 fixed-point (floor(idf * wf * 1e9)) and summed as
LONGS — integer addition is exact and order-independent, so scores are
bit-identical across any partitioning/parallelism. score = score_fx /
1e9; ties break ``score DESC, doc_id ASC``.

``topk_only=True`` enables block-max WAND pruning (SURVEY.md §4.2
item 2): decode each term's best block for score lower bounds, set
theta = k-th best, then decode only blocks whose upper bound (own
block-max + other terms' global maxima) reaches theta. Pruning is
lossless for any branch structure and lang filter: every doc in a
pruned block has true score < theta, so it can be in neither the top-k
nor affect their exact scores; branch filtering on partially-decoded
docs can only produce false NEGATIVES for docs already proven out of
the top-k. The selection is relational (a (term, salt, allowed)
DataFrame joined into the segment scan) — driver state is one row per
query term, never per block. total_hits is not computed in this mode
(the reference's totalCount is likewise an estimate under Vespa's
weakAnd).
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from micce_search_engine_spark import BM25_B, BM25_K1
from micce_search_engine_spark.functions.codec import bm25_wf, decode_postings
from micce_search_engine_spark.operators.index_build import IndexPaths, bucket_of

_POSTING_LANG_SCHEMA = "term string, doc_id long, tf long, dl long, lang_id long"
_POSTING_LANG_POS_SCHEMA = _POSTING_LANG_SCHEMA + ", positions array<int>"
_SCORE_LANG_SCHEMA = "term string, doc_id long, wf double, lang_id long"
#: a block selection: the block indices ``allowed`` of a segment row
_SEL_SCHEMA = "term string, salt int, allowed array<int>"
_SCHEMAS = {
    "postings_lang": _POSTING_LANG_SCHEMA,
    "postings_lang_pos": _POSTING_LANG_POS_SCHEMA,
    "score": "term string, doc_id long, wf double",
    "score_lang": _SCORE_LANG_SCHEMA,
    "score_lang_pos": _SCORE_LANG_SCHEMA + ", positions array<int>",
}

# fixed-point scale: contributions are floor(idf * wf * 1e9) int64
SCORE_SCALE = 1e9

# segment columns each decode mode needs (column-pruned parquet scan)
_SEG_COLS = [
    "term",
    "salt",
    "block_first_doc",
    "block_n",
    "block_doc_off",
    "block_tf_off",
    "block_dl_off",
    "doc_blob",
    "tf_blob",
    "dl_blob",
]
_LANG_COLS = ["block_lang_off", "lang_blob"]
_POS_COLS = ["block_pos_off", "pos_blob"]
_MODE_COLS = {
    "postings_lang": _SEG_COLS + _LANG_COLS,
    "postings_lang_pos": _SEG_COLS + _LANG_COLS + _POS_COLS,
    "score": _SEG_COLS,
    "score_lang": _SEG_COLS + _LANG_COLS,
    "score_lang_pos": _SEG_COLS + _LANG_COLS + _POS_COLS,
}


def _batch_row_views(batch, names: list[str]):
    """Zero-copy per-row views over list<long>/binary Arrow columns.

    Returns a list of per-row dicts whose array/blob values are numpy
    VIEWS into the Arrow buffers (no to_pylist object materialization —
    round 1 copied every blob into Python bytes before numpy saw it)."""
    idx = {nm: j for j, nm in enumerate(batch.schema.names)}
    n = batch.num_rows
    cols = {}
    for nm in names:
        col = batch.column(idx[nm])
        t = col.type
        if str(t) == "string":
            cols[nm] = col.to_pylist()
        elif str(t).startswith("list"):
            off = col.offsets.to_numpy().astype(np.int64)
            vals = col.values.to_numpy(zero_copy_only=False)
            cols[nm] = ("list", off, vals)
        elif str(t) == "binary" or str(t) == "large_binary":
            bufs = col.buffers()
            odt = np.int64 if str(t) == "large_binary" else np.int32
            off = np.frombuffer(bufs[1], dtype=odt)[
                col.offset : col.offset + n + 1
            ].astype(np.int64)
            data = np.frombuffer(bufs[2], dtype=np.uint8)
            cols[nm] = ("bin", off, data)
        else:  # plain ints (salt)
            cols[nm] = col.to_numpy(zero_copy_only=False)
    rows = []
    for i in range(n):
        row = {}
        for nm, c in cols.items():
            if isinstance(c, tuple):
                _, off, vals = c
                row[nm] = vals[off[i] : off[i + 1]]
            elif isinstance(c, list):
                row[nm] = c[i]
            else:
                row[nm] = c[i]
        rows.append(row)
    return rows


def _decode_map(mode: str, avgdl: float = 1.0):
    """mapInArrow decoder factory; output schema ``_SCHEMAS[mode]``.

    modes:
      * ``postings_lang`` / ``postings_lang_pos`` -> (term, doc_id, tf,
        dl, lang_id[, positions])  [upsert rewrite]
      * ``score`` -> (term, doc_id, wf)  [phrase block selection]
      * ``score_lang`` / ``score_lang_pos`` -> (term, doc_id, wf,
        lang_id[, positions])  [the BM25 evaluator, single-field and
        multifield; positions for phrase calls]

    No mode filters by lang: lang filters apply downstream of the
    decode, to its ``lang_id`` column.

    Block-max WAND restriction rides the DATA, not the closure: when
    the incoming batch carries an ``allowed`` array<int> column (added
    by joining the segment scan against a surviving-block selection
    DataFrame), only those block indices are decoded. Round 2 shipped
    a driver-collected {(term, salt): [block_ids]} dict to every task —
    at 10^12 docs a stopword has ~10^8 blocks, which kills the driver;
    the relational form keeps selection distributed and bounded
    (<= blocks-per-segment-row = max_postings_per_row/BLOCK_SIZE ints
    per row).
    """
    scoring = mode.startswith("score")
    want_lang = "lang" in mode
    want_pos = mode.endswith("_pos")
    cols = _MODE_COLS[mode]

    def fn(it):
        import pyarrow as pa

        for batch in it:
            if batch.num_rows == 0:
                continue
            names = cols + (["allowed"] if "allowed" in batch.schema.names else [])
            terms, sizes = [], []
            docs_out, a_out, b_out, lang_out = [], [], [], []
            pos_out, plen_out = [], []
            for row in _batch_row_views(batch, names):
                mask = None
                allowed = row.get("allowed")
                if allowed is not None:
                    mask = np.zeros(len(row["block_first_doc"]), dtype=bool)
                    mask[np.asarray(allowed, dtype=np.int64)] = True
                dec = decode_postings(
                    row, mask, want_lang=want_lang, want_positions=want_pos
                )
                docs, tfs, dls = dec[0], dec[1], dec[2]
                langs = dec[3] if want_lang else None
                pos = dec[-1] if want_pos else None
                if not docs.size:
                    continue
                terms.append(row["term"])
                sizes.append(docs.size)
                docs_out.append(docs)
                if scoring:
                    a_out.append(bm25_wf(tfs, dls, avgdl, BM25_K1, BM25_B))
                else:
                    a_out.append(tfs)
                    b_out.append(dls)
                if want_lang:
                    lang_out.append(langs)
                if want_pos:
                    pos_out.append(pos)
                    plen_out.append(tfs)
            if not docs_out:
                continue
            # expand the per-row term to per-posting rows with a C-level
            # take (Spark can't consume Arrow dictionary arrays directly)
            idx = np.repeat(np.arange(len(terms), dtype=np.int64), np.asarray(sizes))
            arrays = [
                pa.array(terms, type=pa.string()).take(pa.array(idx)),
                pa.array(np.concatenate(docs_out)),
                pa.array(np.concatenate(a_out)),
            ]
            names = ["term", "doc_id", "wf" if scoring else "tf"]
            if not scoring:
                arrays.append(pa.array(np.concatenate(b_out)))
                names.append("dl")
            if want_lang:
                arrays.append(pa.array(np.concatenate(lang_out)))
                names.append("lang_id")
            if want_pos:
                plens = np.concatenate(plen_out)
                offsets = np.concatenate(([0], np.cumsum(plens))).astype(np.int32)
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(offsets, type=pa.int32()),
                        pa.array(np.concatenate(pos_out).astype(np.int32)),
                    )
                )
                names.append("positions")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return fn


def _sql_in(col: str, values) -> Column:
    """``col IN (values)`` built by ONE ``F.expr`` call: ``Column.isin``
    costs ~4 py4j round trips per literal, which a 100-query batch pays
    for hundreds of terms. Strings become SQL literals with ``\\`` and
    ``'`` escaped, ints are inlined; an empty list matches nothing."""
    if not values:
        return F.lit(False)

    def lit(v) -> str:
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        return str(int(v))

    return F.expr(f"{col} IN ({', '.join(lit(v) for v in values)})")


def _stamp(path: str) -> tuple[int, int]:
    """(mtime ns, size) of ``path``: changes when the file is rewritten."""
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size


class SearchEngine:
    """Load index artifacts and answer SearchCondition-shaped queries.

    An engine serves the index as of its open: N, avgdl, the term-df
    cache and the segment relation are read once. After ``apply_upsert``
    open a new engine; a scan on the old one raises RuntimeError."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        synonyms: dict[str, str] | None = None,
        preload: bool = False,
    ):
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        # heal an interrupted upsert before reading anything: a pending
        # journal means some tables are post-swap and some pre-swap
        # (operators/upsert.py round-4 crash-safe protocol)
        from micce_search_engine_spark.operators.upsert import recover_upsert

        recover_upsert(index_dir)
        # apply_upsert rewrites meta.json: _segments_for compares this
        # stamp before every scan (see the class docstring)
        self._meta_stamp = _stamp(self.paths.meta)
        with open(self.paths.meta) as f:
            self.meta = json.load(f)
        # v1 indexes have no per-posting lang stream: the score_lang
        # column select would fail with AnalysisException deep inside a
        # query (ADVICE r2) — fail at open time with a clear remedy
        if int(self.meta.get("version", 1)) < 2:
            raise RuntimeError(
                f"index at {index_dir} is format v{self.meta.get('version', 1)} "
                "(no lang attribute stream); rebuild with build_index "
                "(format v2) before opening"
            )
        stats = spark.read.parquet(self.paths.stats).collect()[0]
        self.N = int(stats["N"])
        self.avgdl = float(stats["avgdl"])
        self.synonyms = dict(synonyms or {})
        self.langs: list[str] = list(self.meta.get("langs", []))
        from collections import OrderedDict

        self._df_cache: OrderedDict[str, int] = OrderedDict()
        # term dictionary is hot at query time — keep it cached (at
        # true web scale this stays a filter-pushdown parquet lookup;
        # persist() is a no-op benefit there and a big one locally)
        self._term_stats = spark.read.parquet(self.paths.term_stats).persist()
        # the segments relation is resolved ONCE: listing the partitioned
        # directory and inferring its schema is a Spark job, which every
        # scan would otherwise pay. ``preload`` also pins it in executor
        # memory — the analog of Vespa serving its index from memory —
        # so queries filter the in-memory columnar cache instead of
        # re-opening parquet. At 10^12 docs a serving tier holds its
        # shard the same way; batch/offline sessions leave this off and
        # rely on bucket partition pruning.
        self._segments = spark.read.parquet(self.paths.segments)
        if preload:
            self._segments = self._segments.persist()
        # the shuffle-free single-term plan runs one task per partition of
        # the segment scan (pinned cache, or parquet splits), which can
        # outnumber spark.sql.shuffle.partitions; batch_query sizes its
        # driver-merge chunks by the larger of the two
        self._scan_partitions = self._segments.rdd.getNumPartitions()
        # lossless WAND after incremental upserts: stored block bounds
        # were encoded with a possibly-smaller avgdl; scaling them by
        # avgdl_now/min_avgdl_encoded keeps them true upper bounds
        # (wf(a2)/wf(a1) <= a2/a1 for a2 > a1 — see operators/upsert.py)
        self.wand_derate = max(
            1.0, self.avgdl / float(self.meta.get("min_avgdl_encoded", self.avgdl))
        )
        #: WAND probe engagement floor, in units of k * BLOCK_SIZE
        #: postings. The probe's ~3 fixed Spark jobs cost ~2 s locally;
        #: they pay off only when decode volume dominates — measured
        #: crossover at ~0.5-1M postings (BENCH/scaling_c*_n1M.json: at
        #: 1M docs WAND beats exact, at 100k it loses). 400 * k=10 *
        #: 128 = 512k postings. Tunable per deployment.
        self.wand_engage_factor = 400

    # -- pieces -------------------------------------------------------

    def lang_id_of(self, lang: str | None) -> int | None:
        """Dictionary id for an exact lang filter; unknown lang -> -1
        (matches nothing, mirroring an impossible equality filter)."""
        if lang is None:
            return None
        try:
            return self.langs.index(lang)
        except ValueError:
            return -1

    #: bound on the driver-side term->df LRU (strings + ints; ~10s of MB)
    _DF_CACHE_MAX = 200_000

    def idf_map(self, terms: list[str]) -> dict[str, float]:
        """idf per term, with a bounded driver-side df cache so repeat
        terms (stopwords, hot queries) cost ZERO Spark jobs — the
        serving-tier dictionary-in-memory analog. term_stats is
        immutable per engine instance (it is persisted at open), so
        the cache needs no invalidation."""
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            rows = self._term_stats.filter(_sql_in("term", missing)).collect()
            found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_cache[t] = found.get(t, 0)
        # touch this call's terms BEFORE evicting (ADVICE r3: evicting
        # first could pop a term this very call needs — an old-position
        # hit or an early-inserted miss — and KeyError below); capture
        # the values before eviction too, so even terms > MAX is safe
        for t in terms:  # LRU touch
            self._df_cache.move_to_end(t)
        df = {t: self._df_cache[t] for t in terms}
        while len(self._df_cache) > self._DF_CACHE_MAX:
            self._df_cache.popitem(last=False)
        return {
            t: math.log((self.N - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            for t in terms
        }

    def _segments_for(self, terms: list[str], cols: list[str] | None = None) -> DataFrame:
        if _stamp(self.paths.meta) != self._meta_stamp:
            raise RuntimeError(
                f"index at {self.paths.root} changed since this engine was "
                "opened (apply_upsert); open a new SearchEngine to read it"
            )
        buckets = sorted({bucket_of(t, self.meta["n_buckets"]) for t in terms})
        # partition pruning on bucket=, then row-group pruning on term
        df = self._segments.filter(_sql_in("bucket", buckets) & _sql_in("term", terms))
        if cols is not None:
            # prune blob columns the mode won't read; one py4j call,
            # where select(*cols) makes one per column name
            df = df.selectExpr(*cols)
        return df

    def _segment_scan(
        self,
        terms: list[str],
        mode: str,
        block_join: DataFrame | None = None,
    ) -> DataFrame:
        """Pruned segment rows of ``terms`` carrying the columns ``mode``
        decodes. ``block_join``: optional (term, salt, allowed
        array<int>) selection — inner-joined so only surviving blocks are
        decoded (segment rows with no selection row drop out entirely)."""
        seg = self._segments_for(terms, _MODE_COLS[mode])
        if block_join is not None:
            # FORCE broadcast of the selection side: it is small by
            # construction (one row per (term,salt) of the query's
            # terms, each holding <= blocks-per-row ints), but it sits
            # behind aggregates whose size AQE misestimates — a fallback
            # to sort-merge would shuffle the SEGMENT side's blob
            # columns, which measured 3x slower than no pruning at all
            seg = seg.join(F.broadcast(block_join), ["term", "salt"])
        return seg

    def _postings(
        self,
        terms: list[str],
        block_join: DataFrame | None = None,
        mode: str = "score",
    ) -> DataFrame:
        """Decoded postings of ``terms`` (schema ``_SCHEMAS[mode]``) from
        :meth:`_segment_scan`."""
        return self._segment_scan(terms, mode, block_join).mapInArrow(
            _decode_map(mode, self.avgdl), _SCHEMAS[mode]
        )

    def _idf_expr(self, idf: dict[str, float]):
        return F.create_map(
            *[x for t, v in sorted(idf.items()) for x in (F.lit(t), F.lit(float(v)))]
        )

    # -- block-max WAND ------------------------------------------------

    def _wand_blocks(self, terms: list[str], idf: dict[str, float]) -> DataFrame:
        """(term, salt, bi, bound): per-block score upper bound
        idf * block_max_wf * derate — query-independent given idf."""
        meta = self._segments_for(
            terms, cols=["term", "salt", "block_max_wf"]
        ).select("term", "salt", F.posexplode("block_max_wf").alias("bi", "bmax"))
        return meta.withColumn(
            "bound",
            self._idf_expr(idf)[F.col("term")] * F.col("bmax") * F.lit(self.wand_derate),
        )

    def _term_ub_and_best(
        self, blocks: DataFrame
    ) -> tuple[dict[str, float], DataFrame]:
        """ONE aggregate job -> ({term: upper bound}, best-block
        selection DataFrame). A hash aggregate (max_by), NOT a window:
        a stopword's blocks would all land on one window task; max_by
        partial-aggregates. The result is one tiny row per query term,
        so the selection is rebuilt driver-side (createDataFrame) and
        broadcast — no second scan of the block metadata."""
        rows = blocks.groupBy("term").agg(
            F.max("bound").alias("ub"),
            F.max_by(
                F.struct("salt", "bi"),
                F.struct(F.col("bound"), (-F.col("salt")).alias("ns"), (-F.col("bi")).alias("nb")),
            ).alias("s"),
        ).collect()
        term_ub = {r["term"]: float(r["ub"]) for r in rows}
        sel = self.spark.createDataFrame(
            [(r["term"], int(r["s"]["salt"]), [int(r["s"]["bi"])]) for r in rows],
            _SEL_SCHEMA,
        )
        return term_ub, sel

    # -- phrase search ---------------------------------------------------

    #: bounded-decode engagement for the phrase path: collecting the
    #: rarest terms' doc ids + the metadata block-selection pass cost
    #: ~2 extra (tiny) Spark jobs; they pay off when the skipped
    #: positional decode dominates — i.e. when the total posting volume
    #: of the phrase terms far exceeds the rarest terms'. Engage when
    #: sum_df >= factor * sum(rarest dfs).
    phrase_block_factor = 4.0
    #: rarest-term doc lists up to this many ids are collected to the
    #: driver and broadcast (8 B/id -> <= 16 MB); beyond it the dense
    #: full-decode plan applies (same bound class as BROADCAST_IDS_MAX)
    PHRASE_CAND_CAP = 2_000_000

    def _require_positions(self) -> None:
        if not self.meta.get("has_positions"):
            raise RuntimeError(
                "phrase matching requires an index built with "
                "with_positions=True (this index has no position stream)"
            )

    def _phrase_block_join(self, seqs: list[list[str]]) -> DataFrame | None:
        """Block selection bounding the positional decode of a call whose
        every branch is a multi-token phrase ``seqs``, or None when it
        does not pay (``phrase_block_factor`` / ``PHRASE_CAND_CAP``).
        Any match of a sequence contains its RAREST term (dfs ride the
        driver-side cache idf_map fills), so for ``"the matrix"`` the
        stopword's corpus-wide postings are never decoded at all.
        Reference semantics: whereQuery.go:43-57."""
        mterms = sorted({t for s in seqs for t in s})
        df = self._df_cache
        rarest = sorted({min(set(s), key=lambda t: (df.get(t, 0), t)) for s in seqs})
        cand_cost = sum(df.get(t, 0) for t in rarest)
        full_cost = sum(df.get(t, 0) for t in mterms)
        if 0 < cand_cost <= self.PHRASE_CAND_CAP and full_cost >= (
            self.phrase_block_factor * cand_cost
        ):
            return self._phrase_block_selection(rarest, mterms)
        return None

    def _phrase_block_selection(
        self,
        rarest_terms: list[str],
        mterms: list[str],
    ) -> DataFrame:
        """(term, salt, allowed array<int>) selection: the blocks of
        every phrase term that contain at least one doc of the
        sequences' rarest terms (any phrase match must contain its
        sequence's rarest term, so blocks without one can contribute
        neither candidates nor their postings' scores — lossless).
        The rarest docs are collected (<= PHRASE_CAND_CAP), broadcast
        sorted, and each segment-metadata row maps them to its blocks
        with one vectorized searchsorted over (block_first_doc,
        block_last_doc) — no decode of the frequent terms' streams and
        no range join. The selection is collected and rebuilt
        driver-side, so both of its jobs run here rather than inside
        the evaluation; driver state is bounded by the engagement cap
        (a doc lies in one block per term, so <= PHRASE_CAND_CAP block
        ids per phrase term). Lang filters are left to the evaluator, so
        one selection serves every query of the call."""
        rdec = self._postings(rarest_terms, mode="score")
        cdocs = np.unique(
            rdec.select("doc_id").toPandas()["doc_id"].to_numpy(dtype=np.int64)
        )
        if cdocs.size == 0:
            return self.spark.createDataFrame([], _SEL_SCHEMA)
        bc = self.spark.sparkContext.broadcast(cdocs)
        meta = self._segments_for(
            mterms, cols=["term", "salt", "block_first_doc", "block_last_doc"]
        )

        def fn(it):
            import pyarrow as pa

            C = bc.value
            for batch in it:
                rows = _batch_row_views(
                    batch, ["term", "salt", "block_first_doc", "block_last_doc"]
                )
                terms, salts, allowed = [], [], []
                for row in rows:
                    lo = np.searchsorted(C, row["block_first_doc"], side="left")
                    hi = np.searchsorted(C, row["block_last_doc"], side="right")
                    sel = np.flatnonzero(hi > lo).astype(np.int32)
                    if sel.size:
                        terms.append(row["term"])
                        salts.append(int(row["salt"]))
                        allowed.append(sel)
                if terms:
                    offs = np.concatenate(
                        ([0], np.cumsum([a.size for a in allowed]))
                    ).astype(np.int32)
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(terms, type=pa.string()),
                            pa.array(salts, type=pa.int32()),
                            pa.ListArray.from_arrays(
                                pa.array(offs, type=pa.int32()),
                                pa.array(np.concatenate(allowed)),
                            ),
                        ],
                        names=["term", "salt", "allowed"],
                    )

        return self.spark.createDataFrame(meta.mapInArrow(fn, _SEL_SCHEMA).collect(), _SEL_SCHEMA)

    def search_phrase(
        self,
        query_text: str,
        lang_filter: str | None = None,
        limit: int = 10,
        page: int = 1,
    ) -> dict:
        """Exact PHRASE match + BM25 ranking — Vespa's semantics for
        ``field contains "multi word"`` on an index field
        (/root/reference/search-api/internal/repository/query/whereQuery.go:43-57):
        the query's tokens must appear CONSECUTIVELY in the document's
        token stream. Synonyms expand as in :meth:`search`, each
        multi-token branch being its own phrase
        (convertSpotNameQuery.go:5-22). Requires an index built with
        ``with_positions=True``; scoring is standard BM25 over the
        query's distinct terms (matching Vespa, which ranks phrase hits
        with the same bm25 feature). Runs as a phrase-flagged batch of
        one through the shared evaluator, which checks adjacency per
        doc; see operators/batch_query.py for the bounded decode."""
        self._require_positions()
        return self._search_one(
            {"query_text": query_text, "lang_filter": lang_filter, "limit": limit,
             "page": page, "phrase": True}
        )

    # -- entry point ----------------------------------------------------

    def search(
        self,
        query_text: str,
        lang_filter: str | None = None,
        limit: int = 10,
        page: int = 1,
        topk_only: bool = False,
    ) -> dict:
        """Returns {total_hits, last_page, results: [(doc_id, score)]}.

        limit/page semantics replicate queryBuilder.go:40-41 +
        response.go:40-42 exactly (limit' = limit*page, offset =
        limit*(page-1), last_page = total - limit*page <= 0). Runs as a
        batch of one through the shared BM25 evaluator and pager
        (operators/batch_query.py); ``topk_only`` takes its adaptive
        WAND path and reports no totals. Raises ValueError unless
        limit >= 1 and page >= 1.
        """
        return self._search_one(
            {"query_text": query_text, "lang_filter": lang_filter, "limit": limit,
             "page": page},
            topk_only=topk_only,
        )

    def _search_one(self, query: dict, topk_only: bool = False) -> dict:
        from micce_search_engine_spark.operators.batch_query import _batch_pages

        query = dict(query, query_id=0)
        totals, pages = _batch_pages(self, [query], topk_only=topk_only)
        results = [
            (int(d), float(s)) for d, s in zip(pages["doc_id"], pages["score"])
        ]
        if topk_only:
            return {"total_hits": None, "last_page": None, "results": results}
        total = int(totals.get(0, 0))
        return {
            "total_hits": total,
            "last_page": total - query["limit"] * query["page"] <= 0,
            "results": results,
        }
