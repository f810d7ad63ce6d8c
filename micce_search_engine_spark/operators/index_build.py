"""Inverted-index build: the engine's realization of ``indexing: index``
+ ``enable-bm25`` (/root/reference/search-engine/schemas/spot.sd:10-16)
as an explicit, checkpoint-resumable Spark pipeline (SURVEY.md §3.3):

  S1_tokenize  pages -> docs(doc_id,url,warc_ts,lang,dl) + terms(doc_id,term,tf,dl)
  S2_stats     corpus stats (N, avgdl) + per-term stats (df, cf)
  S3_segments  salted groupBy(term) -> delta+varbyte posting blocks with
               block-max metadata, bucket-partitioned parquet
               (``write_segments``: the one segment encoder, which
               ``upsert.apply_upsert`` re-encodes its delta with too)

Scale notes (designed for 10^12 docs / 1000 executors, tested local):
  * the only wide shuffles are groupBy(doc_id,term) [S1], groupBy(term)
    [S2] and groupBy(term,salt) [S3] — all partial-aggregated map-side
    by Catalyst where applicable;
  * Zipf-head skew on groupBy(term) is handled EXPLICITLY: terms whose
    df exceeds ``max_postings_per_row`` are range-salted by doc_id into
    ceil(df/max) contiguous sub-ranges, so no single task ever holds
    more than ``max_postings_per_row`` postings (AQE skew handling does
    not apply to aggregations — SURVEY.md §4.2 item 3);
  * salted sub-lists stay separate segment rows (term, salt); query
    decodes them independently — no re-concentration of a stopword's
    full posting list on one task, and parquet row sizes stay bounded;
  * segments are partitioned by ``bucket = crc32(term) % n_buckets`` so
    a query prunes to its terms' buckets (the Iceberg ``bucket(term)``
    analog, SURVEY.md §4.1);
  * all per-row work is in Arrow-batched kernels (mapInArrow tokenize,
    JVM-grouped mapInArrow posting encode); no per-row Python.
"""

from __future__ import annotations

import contextlib
import json
import os
import zlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from micce_search_engine_spark import BLOCK_SIZE, BM25_B, BM25_K1
from micce_search_engine_spark.functions.codec import bm25_wf, encode_many
from micce_search_engine_spark.plans.manifest import Manifest, atomic_stage

SEGMENT_SCHEMA = (
    "term string, salt int, bucket int, df long, cf long, max_tf int, "
    "max_wf double, block_first_doc array<long>, block_last_doc array<long>, "
    "block_n array<int>, block_max_tf array<int>, block_max_wf array<double>, "
    "block_doc_off array<long>, block_tf_off array<long>, "
    "block_dl_off array<long>, block_lang_off array<long>, "
    "doc_blob binary, tf_blob binary, dl_blob binary, lang_blob binary"
)

#: positional variant (round-4): adds the optional 5th stream so phrase
#: queries can verify token adjacency (Vespa's ``contains "multi word"``
#: is a phrase match on index fields — whereQuery.go:43-57)
SEGMENT_POS_SCHEMA = SEGMENT_SCHEMA + ", block_pos_off array<long>, pos_blob binary"


def bucket_of(term: str, n_buckets: int) -> int:
    """Deterministic, JVM-independent term bucket (used at build AND
    query time — must never depend on Spark's internal hash)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def _crc_bucket(col: str, n: int):
    """``crc32(col) % n`` as int, evaluated by Spark (the Spark-side twin
    of :func:`bucket_of`): over ``term``, term_stats' ``tbucket`` and the
    segments' ``bucket``; over ``url``, url_map's ``ubucket`` and the
    live pages store's ``pbucket``."""
    return (F.crc32(F.encode(F.col(col), "UTF-8")) % n).cast("int")


def _dbucket(docs_per_bucket: int):
    """Doc bucket of terms and docs: fixed-capacity doc_id ranges."""
    return F.floor(F.col("doc_id") / F.lit(docs_per_bucket)).cast("long")


def _lang_id(langs: list[str], col: str):
    """``langs`` index of the ``col`` language (null reads as ""): the
    lang_id stored per posting."""
    lang_map = F.create_map(*[x for i, l in enumerate(langs) for x in (F.lit(l), F.lit(i))])
    return lang_map[F.coalesce(F.col(col), F.lit(""))].cast("long")


class IndexPaths:
    def __init__(self, index_dir: str):
        self.root = index_dir
        self.docs = os.path.join(index_dir, "docs")
        self.terms = os.path.join(index_dir, "terms")
        self.stats = os.path.join(index_dir, "stats")
        self.term_stats = os.path.join(index_dir, "term_stats")
        self.segments = os.path.join(index_dir, "segments")
        self.url_map = os.path.join(index_dir, "url_map")
        self.meta = os.path.join(index_dir, "meta.json")


def read_stats(p: IndexPaths) -> dict:
    """The one-row corpus stats table (N, avgdl, sum_dl, max_doc_id),
    read on the driver: a Spark read of one row costs a job."""
    import pyarrow.parquet as pq

    return pq.read_table(p.stats).to_pylist()[0]


TERMS_SCHEMA = "doc_id long, term string, tf long, dl long, lang_id long"
TERMS_POS_SCHEMA = TERMS_SCHEMA + ", positions array<int>"

#: posting rows per encode partition (build S3 + upsert re-encode).
#: The grouped encode (_grouped_postings) holds a partition's
#: collect_list state as JVM OBJECTS (~200 B/posting with buffer
#: overhead), NOT spill-managed sort pages, so the cap must bound
#: object memory per task: 250k rows ≈ 50 MB/task, ~1.6 GB across 32
#: concurrent tasks. The previous 2M cap sized the per-partition SORT
#: (spillable) and OOMed an 8 GB heap at 73M posting rows once the
#: aggregate replaced the sort. A salted group (<= max_postings_per_row
#: = 200k) still fits one partition.
ENCODE_ROWS_PER_PARTITION = 250_000


def _tokenized(df: DataFrame, has_pos: bool) -> DataFrame:
    """(doc_id, text, lang_id) rows -> terms-table rows: TERMS_SCHEMA,
    or TERMS_POS_SCHEMA with per-(doc, term) token positions."""
    if has_pos:
        return df.mapInArrow(lambda it: _tokenize_count(it, True), TERMS_POS_SCHEMA)
    return df.mapInArrow(_tokenize_count, TERMS_SCHEMA)


def _tokenize_count(it, with_positions: bool = False):
    """mapInArrow: pages RecordBatches -> (doc_id, term, tf, dl, lang_id),
    plus ``positions`` when ``with_positions`` (see :func:`_tokenized`).

    Tokenizing AND term-counting in one pass emits one row per unique
    (doc, term) instead of shipping every token occurrence through an
    explode + hash aggregate (at web scale that's ~2x fewer rows and
    one fewer full shuffle). Docs with no tokens emit nothing; doc
    metadata (dl=0 included) is reconstructed by the caller. ``lang_id``
    (dictionary-encoded by the caller) rides along so segments can
    store it per posting — the attribute the exact lang filter needs
    WITHOUT a docs join at query time.

    BULK tokenization (round-2 verdict: the per-doc findall+Counter
    loop was the build's scaling bottleneck — Python allocation churn
    per doc). ASCII docs (the common web case) never touch Python
    strings at all: after a C-level ``str.lower`` per doc, Arrow's RE2
    ``split_pattern_regex`` on ``[^0-9a-z_]+`` — bit-identical to
    Python's ``\\w+`` on lowercased ASCII — produces a list array whose
    offsets give token->doc ownership, ``dictionary_encode`` gives
    int token codes, and one np.unique over (doc, code) keys yields
    the (doc, term, tf) triples. Zero per-token Python objects.
    Non-ASCII docs take the exact per-doc ``tokenize_text`` path
    (NFKC edge cases + CJK bigram expansion, functions/tokenize.py) —
    correctness is guaranteed identical for EVERY doc, only the fast
    path's membership is an optimization (property-tested).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from micce_search_engine_spark.functions.tokenize import tokenize_text

    for batch in it:
        n = batch.num_rows
        if n == 0:
            continue
        lang_col = batch.column(2)
        if lang_col.null_count:
            # a null lang_id means the caller's dictionary missed a
            # language — fail loudly instead of silently aliasing the
            # doc to the first dictionary entry (ADVICE r2)
            raise ValueError("_tokenize_count: null lang_id in batch")
        ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
        lang_arr = lang_col.to_numpy(zero_copy_only=False).astype(np.int64)
        texts = batch.column(1).to_pylist()

        fast_idx: list[int] = []
        fast_texts: list[str] = []
        slow_docs: list[int] = []
        for i, t in enumerate(texts):
            if t is None or not t:
                continue
            if t.isascii():
                fast_idx.append(i)
                fast_texts.append(t.lower())  # one C call per doc
            else:
                slow_docs.append(i)

        if fast_texts:
            lst = pc.split_pattern_regex(
                pa.array(fast_texts, type=pa.string()), pattern="[^0-9a-z_]+"
            )
            offs = lst.offsets.to_numpy().astype(np.int64)
            owner = np.repeat(
                np.asarray(fast_idx, dtype=np.int64), np.diff(offs)
            )
            denc = pc.list_flatten(lst).dictionary_encode()
            codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            uniq = denc.dictionary
            # splitting leaves '' pieces at doc edges — drop that code
            emp = pc.equal(uniq, "").to_numpy(zero_copy_only=False)
            if emp.any():
                keep = ~emp[codes]
                codes = codes[keep]
                owner = owner[keep]
        else:
            owner = np.empty(0, dtype=np.int64)
            codes = np.empty(0, dtype=np.int64)
            uniq = pa.array([], type=pa.string())
        if slow_docs:
            extra_codes: list[np.ndarray] = []
            extra_owner: list[np.ndarray] = []
            extra_terms: list[str] = []
            base = len(uniq)
            seen: dict[str, int] = {}
            for i in slow_docs:
                tk = tokenize_text(texts[i])
                if not tk:
                    continue
                cc = np.empty(len(tk), dtype=np.int64)
                for j, t in enumerate(tk):
                    code = seen.get(t)
                    if code is None:
                        code = base + len(extra_terms)
                        seen[t] = code
                        extra_terms.append(t)
                    cc[j] = code
                extra_codes.append(cc)
                extra_owner.append(np.full(len(tk), i, dtype=np.int64))
            if extra_codes:
                codes = np.concatenate([codes] + extra_codes)
                owner = np.concatenate([owner] + extra_owner)
                uniq = pa.concat_arrays(
                    [uniq.cast(pa.string()), pa.array(extra_terms, type=pa.string())]
                )
        if codes.size == 0:
            continue

        dl_per_doc = np.bincount(owner, minlength=n)
        n_u = len(uniq)
        key = owner * n_u + codes
        uk, tf = np.unique(key, return_counts=True)
        o = uk // n_u
        c = uk % n_u
        term_pa = uniq.take(pa.array(c))
        arrays = [
            pa.array(ids[o]),
            term_pa,
            pa.array(tf.astype(np.int64)),
            pa.array(dl_per_doc[o].astype(np.int64)),
            pa.array(lang_arr[o]),
        ]
        names = ["doc_id", "term", "tf", "dl", "lang_id"]
        if with_positions:
            # position of each kept token within its doc: tokens are
            # contiguous per doc and in text order, so a per-doc run
            # restart of arange gives the index
            change = np.empty(owner.size, dtype=bool)
            change[0] = True
            change[1:] = owner[1:] != owner[:-1]
            run_starts = np.flatnonzero(change)
            run_ids = np.cumsum(change) - 1
            pos_in_doc = np.arange(owner.size, dtype=np.int64) - run_starts[run_ids]
            # group positions by (doc, term): stable argsort keeps the
            # ascending text order within each group, and sorted-key
            # group order matches np.unique's sorted uk
            order = np.argsort(key, kind="stable")
            offsets = np.concatenate(([0], np.cumsum(tf))).astype(np.int32)
            arrays.append(
                pa.ListArray.from_arrays(
                    pa.array(offsets, type=pa.int32()),
                    pa.array(pos_in_doc[order].astype(np.int32)),
                )
            )
            names.append("positions")
        yield pa.RecordBatch.from_arrays(arrays, names=names)


def _segment_pa_schema(with_positions: bool):
    """pyarrow schema matching SEGMENT_SCHEMA / SEGMENT_POS_SCHEMA (the
    mapInArrow output contract — field names AND types must line up
    with the Spark DDL exactly)."""
    import pyarrow as pa

    fields = [
        ("term", pa.string()),
        ("salt", pa.int32()),
        ("bucket", pa.int32()),
        ("df", pa.int64()),
        ("cf", pa.int64()),
        ("max_tf", pa.int32()),
        ("max_wf", pa.float64()),
        ("block_first_doc", pa.list_(pa.int64())),
        ("block_last_doc", pa.list_(pa.int64())),
        ("block_n", pa.list_(pa.int32())),
        ("block_max_tf", pa.list_(pa.int32())),
        ("block_max_wf", pa.list_(pa.float64())),
        ("block_doc_off", pa.list_(pa.int64())),
        ("block_tf_off", pa.list_(pa.int64())),
        ("block_dl_off", pa.list_(pa.int64())),
        ("block_lang_off", pa.list_(pa.int64())),
        ("doc_blob", pa.binary()),
        ("tf_blob", pa.binary()),
        ("dl_blob", pa.binary()),
        ("lang_blob", pa.binary()),
    ]
    if with_positions:
        fields += [
            ("block_pos_off", pa.list_(pa.int64())),
            ("pos_blob", pa.binary()),
        ]
    return pa.schema(fields)


def _grouped_postings(df: DataFrame, n_enc: int, with_positions: bool) -> DataFrame:
    """JVM-side pre-grouping for the encode boundary (round-6).

    The encode stage used to ship every posting ROW across the
    JVM->Python Arrow boundary; per-row conversion dominated the stage
    (a noop Python kernel cost the same ~3.5 s wall as the real encoder
    at 7.3M postings / 32 cores). Collecting each (term, salt) group
    into doc_id-sorted arrays JVM-side and shipping ONE row per group
    moves the boundary from O(postings) rows to O(terms) rows; the
    primitive-array split via transform() is interpreted per element
    but measured far cheaper than the per-row boundary it replaces
    (grouped noop 1.4 s vs row-shape noop 3.6 s, same data).

    sort_array over struct(doc_id, ...) gives the exact doc_id-ascending
    per-group order the old sortWithinPartitions produced (doc_ids are
    unique within a group, so later struct fields never decide).
    collect_list's concat order is nondeterministic, but sort_array
    makes the result order-independent. The explicit repartition keeps
    the data-aware n_enc partition count (AQE-coalescing-exempt); the
    aggregate reuses that exchange because its keys match.
    """
    fields = ["doc_id", "tf", "dl", "lang_id"] + (
        ["positions"] if with_positions else []
    )
    g = (
        df.repartition(n_enc, "term", "salt")
        .groupBy("term", "salt")
        .agg(F.sort_array(F.collect_list(F.struct(*fields))).alias("ps"))
    )
    cols = [
        F.expr("transform(ps, x -> x.doc_id)").alias("docs"),
        F.expr("transform(ps, x -> x.tf)").alias("tfs"),
        F.expr("transform(ps, x -> x.dl)").alias("dls"),
        F.expr("transform(ps, x -> x.lang_id)").alias("langs"),
    ]
    if with_positions:
        cols.append(F.expr("transform(ps, x -> x.positions)").alias("poss"))
    return g.select("term", "salt", *cols)


@contextlib.contextmanager
def _sort_based_group_agg(spark, enable: bool):
    """Force the SORT-BASED aggregate (SortAggregate: spillable sort,
    then ONE group buffer alive at a time) for the grouped encode of
    POSITIONAL postings. collect_list state with nested position
    arrays is JVM-object-heavy; ObjectHashAggregate holds a whole
    partition's group buffers CONCURRENTLY and OOMed an 8 GB heap at
    73M positional posting rows even with 250k-row partitions. The
    sort-based plan bounds live object state to one group
    (<= max_postings_per_row) — the same memory envelope as the old
    sortWithinPartitions shape — while keeping the grouped Python
    boundary. Non-positional rows are ~5x lighter and measured safe
    (and faster) under the hash aggregate at the same scale, so the
    conf is scoped to positional encodes only."""
    key = "spark.sql.execution.useObjectHashAggregateExec"
    if not enable:
        yield
        return
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _make_grouped_encoder(avgdl: float, n_buckets: int, with_positions: bool = False):
    """Arrow-native encoder over pre-grouped rows (see _grouped_postings:
    one (term,salt) group per row, fields as doc_id-ascending arrays).

    All flattening is vectorized pyarrow/numpy; group boundaries come
    straight from the list lengths — no per-batch tail buffering, no
    pandas conversion, no per-row Python. Only the varbyte encode
    (encode_many, O(1) numpy calls per batch) and the per-group output
    dict remain."""
    schema = _segment_pa_schema(with_positions)

    def encode_groups(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        def _flat(col) -> np.ndarray:
            return (
                pc.list_flatten(col)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )

        for batch in it:
            if batch.num_rows == 0:
                continue
            terms = batch.column("term").to_pylist()
            salts = (
                batch.column("salt")
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            sizes = (
                pc.list_value_length(batch.column("docs"))
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            ends = np.cumsum(sizes)
            starts = ends - sizes
            docs = _flat(batch.column("docs"))
            tfs = _flat(batch.column("tfs"))
            dls = _flat(batch.column("dls"))
            langs = _flat(batch.column("langs"))
            pos_flat = None
            if with_positions:
                pos_flat = _flat(pc.list_flatten(batch.column("poss")))
            wf = bm25_wf(tfs, dls, avgdl, BM25_K1, BM25_B)
            rows = encode_many(starts, ends, docs, tfs, dls, wf, langs, pos_flat)
            for gi, enc in enumerate(rows):
                enc["term"] = terms[gi]
                enc["salt"] = int(salts[gi])
                enc["bucket"] = bucket_of(terms[gi], n_buckets)
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return encode_groups


def write_segments(
    spark: SparkSession,
    postings: DataFrame,
    term_dfs: DataFrame,
    write,
    *,
    n_docs: int,
    avgdl: float,
    n_buckets: int,
    max_postings_per_row: int,
    has_pos: bool,
    keep: DataFrame | None = None,
    n_parts: int | None = None,
):
    """The one segment encoder (build S3 and the upsert re-encode):
    terms-table rows ``postings`` -> segment rows, handed to
    ``write(frame)``; returns what ``write`` returns.

    ``term_dfs`` holds (term, df) for every term of ``postings``; one
    collect over it gives Σ df and the hot terms. A term with df over
    ``max_postings_per_row`` is range-salted by doc_id into
    ceil(df / max) contiguous sub-ranges of [0, ``n_docs``), so no
    group holds more postings than that (AQE skew handling does not
    apply to aggregations). The hot rows are rebuilt driver-side for
    the broadcast join, as ``F.broadcast`` would collect them anyway.

    Σ df is the encode's input row count. It sizes the encode
    partitions at ``ENCODE_ROWS_PER_PARTITION`` rows (an explicit count:
    with AQE on, ``repartition(cols)`` may coalesce to one partition
    and serialize the encode), rounded up to a multiple of the core
    count so the CPU-bound encode does not end on a straggler wave.

    The encoded rows, plus the segment rows ``keep`` (left as they
    are), are clustered into ``n_parts`` (default ``n_buckets``)
    partitions by bucket, so the partitioned writer emits one file per
    bucket, and sorted by (bucket, term, salt), so row-group min/max
    stats on ``term`` prune lookups. The sort leads with bucket: the
    partitioned writer needs its input ordered by the partition column,
    and on any other ordering Spark plans its own sort by bucket alone
    and drops the (term, salt) sort below it."""
    agg = term_dfs.agg(
        F.sum("df").alias("n"),
        F.collect_list(
            F.when(F.col("df") > max_postings_per_row, F.struct("term", "df"))
        ).alias("hot"),
    ).collect()[0]
    if agg["hot"]:
        hot = spark.createDataFrame([tuple(r) for r in agg["hot"]], "term string, _hot_df long")
        postings = postings.join(F.broadcast(hot), "term", "left")
    else:  # an empty broadcast side would still cost a Spark job
        postings = postings.withColumn("_hot_df", F.lit(None).cast("long"))
    n_rows = F.ceil(F.col("_hot_df") / F.lit(max_postings_per_row))
    salt = F.when(
        F.col("_hot_df").isNotNull(),
        F.floor(F.col("doc_id") * n_rows / F.lit(n_docs)),
    ).otherwise(F.lit(0))
    salted = postings.withColumn("salt", salt.cast("int")).drop("_hot_df")
    n_enc = max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        -(-(agg["n"] or 0) // ENCODE_ROWS_PER_PARTITION),
    )
    par = max(spark.sparkContext.defaultParallelism, 1)
    n_enc = -(-n_enc // par) * par
    seg = _grouped_postings(salted, n_enc, has_pos).mapInArrow(
        _make_grouped_encoder(avgdl, n_buckets, has_pos),
        SEGMENT_POS_SCHEMA if has_pos else SEGMENT_SCHEMA,
    )
    if keep is not None:
        seg = keep.unionByName(seg)
    seg = seg.repartition(n_parts or n_buckets, "bucket").sortWithinPartitions(
        "bucket", "term", "salt"
    )
    with _sort_based_group_agg(spark, has_pos):
        return write(seg)


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    n_buckets: int = 16,
    max_postings_per_row: int = 200_000,
    fail_after: str | None = None,
    doc_id_col: str | None = None,
    docs_per_bucket: int = 262_144,
    url_buckets: int = 64,
    with_positions: bool = False,
) -> None:
    """Build (or resume building) the full index under ``index_dir``.

    ``pages`` must have url/text/lang columns (warc_ts/html optional).
    ``fail_after`` is a test hook: raise after the named stage commits,
    simulating a crash (resume tests, SURVEY.md §5.4).
    ``doc_id_col``: use a pre-existing deterministic id column instead
    of assigning by url rank (used for tables that ship their own ids).

    v3 layout (round-3, O(delta) upserts): terms and docs are
    partitioned by ``dbucket = doc_id // docs_per_bucket`` (fixed
    capacity — appends only create NEW buckets, updates touch only
    their docs' buckets), term_stats by ``tbucket = crc32(term) %
    n_buckets``, and a ``url_map`` (url, doc_id) table by ``ubucket =
    crc32(url) % url_buckets`` gives O(delta) url->id resolution.
    apply_upsert then rewrites ONLY touched partition dirs — the
    path-swap stand-in for Iceberg/Delta MERGE file-level rewrites
    (those runtimes are absent from this image).

    ``with_positions`` (round-4): store per-posting token positions as
    an optional 5th varbyte stream so phrase queries (Vespa's
    ``contains "multi word"`` semantics, whereQuery.go:43-57) verify
    exact adjacency. Opt-in, like Lucene's positions option: it
    roughly doubles posting bytes and the terms-shuffle volume.
    """
    os.makedirs(index_dir, exist_ok=True)
    m = Manifest(index_dir)
    p = IndexPaths(index_dir)
    has_ts = "warc_ts" in pages.columns
    # Column-prune FIRST: the index never touches ``html`` (text is the
    # already-extracted content per BASELINE.json input_hint), and on a
    # real Common-Crawl table html is 5-10x text — dragging it through
    # the docid-assignment join + tokenize repartition would multiply
    # every S1 shuffle by that factor.
    keep = [c for c in ("url", "warc_ts", "text", "lang", doc_id_col) if c and c in pages.columns]
    pages = pages.select(*dict.fromkeys(keep))

    # ---- S1: tokenize -> docs + terms + url_map ----------------------
    st = atomic_stage(m, "S1_tokenize", [p.docs, p.terms, p.url_map])
    if not st.skipped:
        # language dictionary (sorted distinct -> id) BEFORE tokenize so
        # lang_id can ride the posting payload; a column-pruned distinct
        # over one string column, cheap even at web scale
        langs = sorted(
            r["l"]
            for r in pages.select(
                F.coalesce(F.col("lang"), F.lit("")).alias("l")
            )
            .distinct()
            .collect()
        )
        with st:
            from micce_search_engine_spark.operators.docids import (
                BROADCAST_IDS_MAX,
                url_id_map,
            )

            ids = None
            n_rows_known = None
            if doc_id_col is None:
                ids, n_rows_known = url_id_map(pages)
                if n_rows_known <= BROADCAST_IDS_MAX:
                    # broadcast id map: every consumer below does a
                    # MAP-SIDE join against its own column-pruned scan
                    # of the input — no payload shuffle for the join,
                    # no cache materialization pass (measured ~10-15 s
                    # of the 500k-doc c16 build); beyond the bound the
                    # classic shuffle join + persist path applies
                    with_ids = pages.join(F.broadcast(ids.persist()), "url")
                else:
                    with_ids = pages.join(ids, "url")
                    ids = None  # shuffle-join path: recompute too costly
            else:
                with_ids = pages.withColumn("doc_id", F.col(doc_id_col).cast("long"))
            with_ids = with_ids.withColumn("lang_id", _lang_id(langs, "lang"))
            if ids is None and doc_id_col is None:
                with_ids = with_ids.persist()
            # no eager count: the terms write below materializes any
            # cache in the same pass (an explicit count() added one
            # full extra read of the input per build); rows_in is
            # recovered from the docs table's parquet footers
            # Tokenize is CPU-bound Python-per-byte, not IO-bound: AQE's
            # size-based coalescing would hand it ~64MB partitions (a
            # handful of tasks regardless of core count — measured FLAT
            # 4->16 core scaling in round 1). Explicit numPartitions
            # repartition is exempt from AQE coalescing, so the stage
            # always has >= 2x cores of splits. On a real cluster with a
            # many-filed input table this shuffle is skippable; here it
            # costs one pass of (doc_id, text) and buys linear scaling.
            n_tok = 2 * max(
                int(spark.conf.get("spark.sql.shuffle.partitions")),
                spark.sparkContext.defaultParallelism,
            )
            dbucket = _dbucket(docs_per_bucket)
            # one Python pass: tokenize + per-doc term counts.
            # Partitioning strategy for the dbucket-partitioned write:
            #   few buckets (tests/bench; fan-out <= 8 dirs/task is
            #   free — measured +0s) -> round-robin, zero extra cost,
            #   AQE-exempt (round-2 lesson: AQE size-coalescing
            #   starves the CPU-bound tokenize);
            #   many buckets (the 100 TB shape) -> repartitionByRange
            #   on doc_id so each task spans ~1-2 contiguous dbuckets
            #   instead of fanning out to millions of dirs; the range
            #   sampling pass costs ~one extra cached-input scan
            #   (measured ~6s at 100k docs — noise at cluster scale,
            #   so it is NOT paid on the small-bucket path).
            # est from the id-map size (already counted) or a
            # zero-column footer count; only the strategy CHOICE
            # depends on it, never correctness.
            n_est = n_rows_known if n_rows_known is not None else pages.count()
            est_buckets = n_est // docs_per_bucket + 1
            sel = with_ids.select("doc_id", "text", "lang_id")
            if est_buckets <= 8:
                sel = sel.repartition(n_tok)
            else:
                sel = sel.repartitionByRange(n_tok, "doc_id")
            (
                _tokenized(sel, with_positions)
                .withColumn("dbucket", dbucket)
                .write.mode("overwrite")
                .partitionBy("dbucket")
                .parquet(p.terms + ".__tmp__")
            )
            terms = spark.read.parquet(p.terms + ".__tmp__")
            doc_len = terms.groupBy("doc_id").agg(F.first("dl").alias("dl"))
            doc_cols = ["doc_id", "url", "lang"] + (["warc_ts"] if has_ts else [])
            n_shuf = int(spark.conf.get("spark.sql.shuffle.partitions"))

            # sub-split keeps the write parallel when few dbuckets
            # exist (bench: 1 bucket would otherwise serialize on one
            # task) while bounding files-per-dir to the sub count
            def _write_docs():
                (
                    with_ids.select(*doc_cols)
                    .join(doc_len, "doc_id", "left")
                    .withColumn("dl", F.coalesce("dl", F.lit(0)))
                    .withColumn("dbucket", dbucket)
                    .repartition(n_shuf, "dbucket", F.pmod(F.col("doc_id"), F.lit(16)))
                    .write.mode("overwrite")
                    .partitionBy("dbucket", "lang")
                    .parquet(p.docs + ".__tmp__")
                )

            # url_map comes straight from the id map when available
            # (no pages scan at all)
            def _write_url_map():
                um_src = ids if ids is not None else with_ids.select("url", "doc_id")
                (
                    um_src.withColumn("ubucket", _crc_bucket("url", url_buckets))
                    .repartition(n_shuf, "ubucket")
                    .write.mode("overwrite")
                    .partitionBy("ubucket")
                    .parquet(p.url_map + ".__tmp__")
                )

            _write_docs()
            _write_url_map()
            if ids is not None:
                ids.unpersist()
            elif doc_id_col is None:
                with_ids.unpersist()
    else:
        # resume: reconstruct the identical dictionary from the docs
        # table (same sorted-distinct rule over the same rows)
        langs = sorted(
            r["l"]
            for r in spark.read.parquet(p.docs)
            .select(F.coalesce(F.col("lang"), F.lit("")).alias("l"))
            .distinct()
            .collect()
        )
    if fail_after == "S1_tokenize":
        raise RuntimeError("injected failure after S1_tokenize")

    # ---- S2: corpus + term statistics --------------------------------
    st = atomic_stage(m, "S2_stats", [p.stats, p.term_stats])
    if not st.skipped:
        with st:
            docs = spark.read.parquet(p.docs)

            # sum_dl/max_doc_id ride along so upserts can maintain
            # stats INCREMENTALLY (exact integer arithmetic — a
            # rebuilt and an incrementally-maintained index agree
            # bit-for-bit on avgdl = sum_dl / N)
            def _write_stats():
                stats = docs.agg(
                    F.count(F.lit(1)).alias("N"),
                    F.avg("dl").alias("avgdl"),
                    F.sum("dl").alias("sum_dl"),
                    F.max("doc_id").alias("max_doc_id"),
                )
                stats.coalesce(1).write.mode("overwrite").parquet(p.stats + ".__tmp__")

            def _write_term_stats():
                terms = spark.read.parquet(p.terms)
                (
                    terms.groupBy("term")
                    .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
                    .withColumn("tbucket", _crc_bucket("term", n_buckets))
                    .write.mode("overwrite")
                    .partitionBy("tbucket")
                    .parquet(p.term_stats + ".__tmp__")
                )

            _write_stats()
            _write_term_stats()
    if fail_after == "S2_stats":
        raise RuntimeError("injected failure after S2_stats")

    # ---- S3: salted posting-list build -> bucketed segments ----------
    st = atomic_stage(m, "S3_segments", [p.segments])
    if not st.skipped:
        with st:
            stats_row = read_stats(p)
            n_docs, avgdl = int(stats_row["N"]), float(stats_row["avgdl"])
            terms = spark.read.parquet(p.terms)
            if with_positions and "positions" not in terms.columns:
                raise RuntimeError(
                    "build_index(with_positions=True) resumed over a terms "
                    "table built WITHOUT positions; delete the index dir "
                    "and rebuild"
                )
            write_segments(
                spark,
                terms.drop("dbucket"),
                spark.read.parquet(p.term_stats).select("term", "df"),
                lambda seg: seg.write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(p.segments + ".__tmp__"),
                n_docs=n_docs,
                avgdl=avgdl,
                n_buckets=n_buckets,
                max_postings_per_row=max_postings_per_row,
                has_pos=with_positions,
            )
    if fail_after == "S3_segments":
        raise RuntimeError("injected failure after S3_segments")

    avgdl_built = float(read_stats(p)["avgdl"])
    with open(p.meta, "w") as f:
        json.dump(
            {
                "n_buckets": n_buckets,
                "block_size": BLOCK_SIZE,
                "k1": BM25_K1,
                "b": BM25_B,
                "max_postings_per_row": max_postings_per_row,
                # smallest avgdl any live segment row was encoded with;
                # WAND bounds are derated by avgdl_now/min_avgdl_encoded
                # after incremental upserts (see operators/upsert.py)
                "min_avgdl_encoded": avgdl_built,
                # language dictionary: lang string -> list index == the
                # lang_id stored per posting (append-only across upserts)
                "langs": langs,
                "docs_per_bucket": docs_per_bucket,
                "url_buckets": url_buckets,
                "has_positions": with_positions,
                "version": 4,
            },
            f,
        )
