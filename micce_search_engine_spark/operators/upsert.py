"""Idempotent document upsert with omit-nil partial-update semantics.

Reference behavior being reproduced set-oriented:
  * ``PUT /document/v1/...?create=true`` — create-if-missing upsert
    (/root/reference/indexer/internal/repository/vespa/vespa_client.go:29-55);
  * nil fields are omitted from the feed body so existing values are
    NOT overwritten (``omitempty`` assigns,
    vespa_client.go:57-118, body.go:3-18);
  * replaying the same update is a no-op (at-least-once safety,
    index_service.go:130-138).

On Iceberg/Delta this is literally ``MERGE INTO pages USING updates ON
url WHEN MATCHED THEN UPDATE SET col = coalesce(u.col, t.col) WHEN NOT
MATCHED THEN INSERT`` — those runtimes aren't in this image, so
``merge_pages`` emulates the same semantics with a full-outer-join
rewrite (equivalent output table; atomic swap by path rename), and
``affected_terms`` computes the index delta: the set of terms whose
posting lists a rebuild must touch. ``apply_upsert`` re-encodes those
posting lists with the build's segment encoder
(``index_build.write_segments``), so an upserted index stores what a
rebuild over the merged pages would.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from micce_search_engine_spark.functions.tokenize import tokenize_udf


def merge_pages(target: DataFrame, updates: DataFrame, key: str = "url") -> DataFrame:
    """Omit-nil MERGE: null columns in ``updates`` leave target values
    untouched; unmatched update rows are inserted; re-applying the same
    updates is idempotent."""
    cols = [c for c in target.columns if c != key]
    u = updates.select(
        F.col(key), *[F.col(c).alias(f"_u_{c}") for c in cols if c in updates.columns]
    )
    joined = target.alias("t").join(u, key, "full_outer")
    out_cols = [F.col(key)]
    for c in cols:
        if f"_u_{c}" in u.columns:
            out_cols.append(F.coalesce(F.col(f"_u_{c}"), F.col(f"t.{c}")).alias(c))
        else:
            out_cols.append(F.col(f"t.{c}").alias(c))
    return joined.select(*out_cols)


def affected_terms(old: DataFrame, new: DataFrame, key: str = "url") -> DataFrame:
    """Index-delta scope after an upsert: distinct terms of changed docs
    (old tokens ∪ new tokens for every url whose text changed). The
    delta rebuild re-encodes only these terms' posting rows — the
    set-oriented analog of the reference's per-doc re-feed."""
    o = old.select(key, F.col("text").alias("_old_text"), F.lit(True).alias("_in_old"))
    n = new.select(key, F.col("text").alias("_new_text"), F.lit(True).alias("_in_new"))
    # changed = inserted (absent from old) OR deleted OR text differs —
    # presence flags, not text comparison alone: an inserted url with
    # NULL text must still count as changed (NULL eqNullSafe NULL is true)
    changed = (
        o.join(n, key, "full_outer")
        .filter(
            F.col("_in_old").isNull()
            | F.col("_in_new").isNull()
            | ~F.col("_old_text").eqNullSafe(F.col("_new_text"))
        )
    )
    toks = changed.select(
        F.explode(
            F.array_union(
                F.coalesce(tokenize_udf(F.col("_old_text")), F.array()),
                F.coalesce(tokenize_udf(F.col("_new_text")), F.array()),
            )
        ).alias("term")
    )
    return toks.distinct()


_JOURNAL = "upsert_journal.json"
_LOCKFILE = ".upsert.lock"


def _journal_path(index_dir: str) -> str:
    return os.path.join(index_dir, _JOURNAL)


@contextlib.contextmanager
def _writer_lock(index_dir: str, blocking: bool = True):
    """Advisory exclusive lock shared by apply_upsert and recover_upsert
    (ADVICE r4, medium): without it, an engine OPEN racing a healthy
    upsert's swap phase would re-execute the journaled swap list
    concurrently and could rename a freshly-swapped partition aside and
    lose it at finalize. flock is per open-file-description, so the
    guard also works between two code paths of one process.

    Yields True when the lock was acquired; with ``blocking=False``
    yields False instead of waiting (the caller then skips — a live
    writer owns the journal and will finish or be recovered later)."""
    fd = os.open(os.path.join(index_dir, _LOCKFILE), os.O_CREAT | os.O_RDWR)
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | (0 if blocking else fcntl.LOCK_NB))
        except BlockingIOError:
            yield False
            return
        yield True
    finally:
        os.close(fd)  # releases the flock


def _bak_path(dst: str) -> str:
    """Backup location for a live dir during a swap: a DOT-PREFIXED
    sibling so Spark's partition discovery never sees it (ADVICE r4,
    medium: ``bucket=N.__old__`` inside segments/ was listed as a
    partition during the swap window)."""
    return os.path.join(
        os.path.dirname(dst), "." + os.path.basename(dst) + ".__old__"
    )


def _apply_swaps(swaps: list[dict]) -> None:
    """Execute (or roll forward) a list of directory swaps. IDEMPOTENT:
    ``src`` missing for a rename entry means that swap already completed
    (every src is created exactly once, before the journal is written),
    so a crashed run can simply re-execute the whole list.

    ``src = None`` marks a partition that became empty: its live dir is
    moved aside (deleted at finalize)."""
    for e in swaps:
        dst, src = e["dst"], e["src"]
        bak = _bak_path(dst)
        if src is not None:
            if not os.path.exists(src):
                continue  # already swapped before the crash
            shutil.rmtree(bak, ignore_errors=True)
            if os.path.exists(dst):
                os.rename(dst, bak)
            os.rename(src, dst)
        elif os.path.exists(dst):
            shutil.rmtree(bak, ignore_errors=True)
            os.rename(dst, bak)


def _drop_staging(swaps: list[dict], tmp_roots: list[str]) -> None:
    """Delete the backups a completed swap list left, and its tmp roots."""
    for e in swaps:
        shutil.rmtree(_bak_path(e["dst"]), ignore_errors=True)
    for t in tmp_roots:
        shutil.rmtree(t, ignore_errors=True)


def _finalize_journal(index_dir: str, j: dict) -> None:
    _drop_staging(j["swaps"], j.get("tmp_roots", []))
    try:
        os.remove(_journal_path(index_dir))
    except FileNotFoundError:
        pass


def recover_upsert(index_dir: str) -> bool:
    """Complete an interrupted apply_upsert (ADVICE r3, medium): the
    journal is written only after EVERY patched table has been fully
    staged to tmp dirs, so recovery always ROLLS FORWARD — re-running
    the swap list (idempotent), rewriting meta.json from the journaled
    copy, and cleaning up. A crash BEFORE the journal exists left the
    live index untouched (only stale tmp dirs, swept by the next
    upsert). Returns True when a pending journal was applied.

    Guarded by the writer lock (ADVICE r4, medium): a journal present
    while ANOTHER process/path is mid-swap belongs to a LIVE writer —
    recovery must not re-execute its swap list concurrently. The lock
    is taken non-blocking; busy means healthy-writer-in-flight, so
    recovery is skipped (the writer finishes its own journal)."""
    jp = _journal_path(index_dir)
    if not os.path.exists(jp):
        return False
    with _writer_lock(index_dir, blocking=False) as acquired:
        if not acquired:
            return False
        return _recover_locked(index_dir)


def _recover_locked(index_dir: str) -> bool:
    """Roll a pending journal forward. Caller MUST hold the writer lock."""
    jp = _journal_path(index_dir)
    if not os.path.exists(jp):  # finalized while we waited on stat+lock
        return False
    with open(jp) as f:
        j = json.load(f)
    _apply_swaps(j["swaps"])
    with open(os.path.join(index_dir, "meta.json"), "w") as f:
        json.dump(j["meta"], f)
    _finalize_journal(index_dir, j)
    return True


def _is_stale_tmp(name: str) -> bool:
    return (
        ".__patch_" in name
        or ".__upd_" in name
        or ".__old__" in name
        or name == ".affected_terms.__tmp__"
    )


def _sweep_stale_tmp(index_dir: str) -> None:
    """Remove tmp dirs abandoned by a run that crashed before writing
    its journal (live tables were never touched, so this is pure GC).
    Sweeps the index root AND one level inside segments/ (ADVICE r4,
    medium: swap backups of bucket dirs sit next to them).
    Callers hold the writer lock: no other upsert is in flight."""
    roots = [index_dir, os.path.join(index_dir, "segments")]
    for root in roots:
        if not os.path.isdir(root):
            continue
        for name in os.listdir(root):
            if _is_stale_tmp(name):
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def _prepare_patch(
    df: DataFrame,
    table_path: str,
    part_col: str,
    part_vals: list,
    extra_parts: list[str] | None = None,
) -> tuple[list[dict], str]:
    """Stage a partition-scoped table patch WITHOUT touching the live
    table: write the new rows (one Spark job, partitioned) to a tmp
    root and return the swap entries + tmp root for the journal. A
    listed partition absent from the tmp output became empty (src =
    None -> its live dir is removed at swap time). Unlisted partitions
    are never touched — the I/O contract that keeps upserts O(delta)."""
    tmp = table_path + f".__patch_{uuid.uuid4().hex[:8]}__"
    w = df.write.mode("overwrite").partitionBy(part_col, *(extra_parts or []))
    w.parquet(tmp)
    entries = []
    for v in part_vals:
        src = os.path.join(tmp, f"{part_col}={v}")
        entries.append(
            {
                "dst": os.path.join(table_path, f"{part_col}={v}"),
                "src": src if os.path.exists(src) else None,
            }
        )
    return entries, tmp


def _prepare_overwrite(df: DataFrame, path: str) -> dict:
    """Stage a whole-table overwrite to tmp; swap happens at journal
    time. The tmp dir IS the swap src (renamed away), so no separate
    tmp_root cleanup is needed.

    The tmp is a DOT-PREFIXED sibling (ADVICE r4, medium): staged next
    to a partition dir, a ``bucket=N.__upd_x__`` name would be listed
    by Spark partition discovery as a partition (and ingested by
    preload engines as duplicate postings). Names starting with '.'
    are invisible to Spark's file listing."""
    tmp = os.path.join(
        os.path.dirname(path),
        "." + os.path.basename(path) + f".__upd_{uuid.uuid4().hex[:8]}__",
    )
    df.write.mode("overwrite").parquet(tmp)
    return {"dst": path, "src": tmp}


def apply_upsert(
    spark: SparkSession,
    index_dir: str,
    old_pages: DataFrame,
    updates: DataFrame,
) -> DataFrame:
    """Omit-nil MERGE + affected-partition index delta rebuild (I4),
    serialized by the index writer lock — held for the whole upsert so
    a concurrent engine open's recovery can never interleave with the
    swap phase (ADVICE r4, medium). See :func:`_apply_upsert_locked`
    for the full protocol.

    Each phase labels its Spark jobs with ``setJobDescription``
    ("upsert: <phase>"); the caller's description is restored on
    return, and job groups are left alone."""
    sc = spark.sparkContext
    prev_desc = sc.getLocalProperty("spark.job.description")
    try:
        with _writer_lock(index_dir, blocking=True):
            return _apply_upsert_locked(spark, index_dir, old_pages, updates)
    finally:
        sc.setJobDescription(prev_desc)


def _apply_upsert_locked(
    spark: SparkSession,
    index_dir: str,
    old_pages: DataFrame,
    updates: DataFrame,
) -> DataFrame:
    """Omit-nil MERGE + affected-partition index delta rebuild (I4).

    The set-oriented analog of the reference's per-doc re-feed loop
    (/root/reference/indexer/internal/service/index_service.go:159-172),
    O(delta) end to end on the v3 layout. It runs a FIXED sequence of
    at most 13 Spark actions, independent of ``n_buckets`` and of how
    many partitions the delta touches:

    1. resolve ids (2 collects + the doc-id ranking pass): the stats
       row, read on the driver with no Spark job; one aggregate over
       the changed urls for their url_map ubuckets and newly seen
       langs; one aggregate over the persisted
       ``changed`` frame for its dbuckets, insert count, max doc_id and
       the new urls' ubuckets. Changed docs keep their doc_ids; new
       urls get append-only ids max_id+1+rank;
    2. stage terms (2 writes): the affected-term set (old ∪ new terms
       of changed docs, kept distributed as parquet), then the touched
       dbucket dirs of ``terms``;
    3. stage docs+stats (1 collect, 2 writes): ``dl_minus`` and
       ``dl_plus`` summed in one action (exact integer sum_dl/N
       deltas — bit-identical to a full rebuild), the touched dbucket
       dirs of ``docs``, then the one-row ``stats`` table;
    4. stage url_map (1 write, only when urls are new);
    5. stage term_stats (1 collect, 1 write): the affected term
       buckets, then per-term df/cf deltas in those buckets;
    6. re-encode segments (1 collect, 1 write) through the build's own
       encoder, ``index_build.write_segments``: old postings of
       affected terms are DECODED from the segments themselves
       (bucket-pruned) and joined with the delta's; one collect of the
       affected terms' post-delta ``df`` gives Σ df (the encode's exact
       input row count, with no decode pass) and the hot terms to salt;
       every touched bucket is staged in ONE partitioned write: one
       (term, salt)-sorted file per bucket.

    Every read and write is pruned to partitions the delta touches;
    for full O(delta) the caller should pass ``old_pages`` covering at
    least the updates' urls (see streaming/live_index.py's bucketed
    pages store) — a full-corpus frame is correct but adds a corpus
    scan for the changed-url diff.

    WAND-bound note: unaffected rows keep block_max_wf computed with
    the avgdl at their encode time. meta["min_avgdl_encoded"] tracks
    the smallest avgdl any live row was encoded with; the query engine
    derates bounds by avgdl_now/min_avgdl_encoded (a proven-safe
    factor), so block-max pruning stays lossless after deltas. Exact
    (non-WAND) scoring never uses stored bounds and is unaffected.

    Returns the merged pages DataFrame (lazy; caller persists it).
    """
    from micce_search_engine_spark.operators.docids import assign_doc_ids
    from micce_search_engine_spark.operators.index_build import (
        IndexPaths,
        _crc_bucket,
        _dbucket,
        _lang_id,
        _tokenized,
        read_stats,
        write_segments,
    )
    from micce_search_engine_spark.operators.query import (
        _MODE_COLS,
        _POSTING_LANG_POS_SCHEMA,
        _POSTING_LANG_SCHEMA,
        _decode_map,
    )

    def phase(name: str) -> None:
        spark.sparkContext.setJobDescription(f"upsert: {name}")

    p = IndexPaths(index_dir)
    # heal a crashed prior upsert BEFORE reading anything: a pending
    # journal means some tables are new and some old — roll forward
    # (ADVICE r3: deltas applied across multiple swaps are not
    # replayable after a partial crash, so the protocol now stages
    # everything first and swaps under a journal). The caller holds
    # the writer lock, so the locked recovery variant is used.
    _recover_locked(index_dir)
    _sweep_stale_tmp(index_dir)
    with open(p.meta) as f:
        meta = json.load(f)
    if int(meta.get("version", 1)) < 3:
        raise RuntimeError(
            f"index at {index_dir} is format v{meta.get('version', 1)} "
            "(pre-bucketed layout); rebuild with build_index (format "
            "v3) before upserting"
        )
    n_buckets = int(meta["n_buckets"])
    cap = int(meta["docs_per_bucket"])
    url_buckets = int(meta["url_buckets"])
    # positional index (round-4): the delta must decode, carry and
    # re-encode the position stream or phrase matching would silently
    # break for every upserted term
    has_pos = bool(meta.get("has_positions"))

    merged = merge_pages(old_pages, updates, key="url")

    # -- changed urls --------------------------------------------------
    oldt = old_pages.select(
        "url",
        F.col("text").alias("_old_text"),
        F.col("lang").alias("_old_lang"),
        F.lit(True).alias("_in_old"),
    )
    newt = merged.select(
        "url", F.col("text").alias("_new_text"), F.col("lang").alias("_new_lang")
    )
    # new urls (absent from old_pages) are ALWAYS changed, even with
    # NULL text — detecting via text inequality alone would skip them,
    # leave their doc_id unallocated, and break doc_id uniqueness.
    # lang-only changes also count: lang_id rides the posting payload,
    # so a lang flip must re-encode the doc's postings.
    changed_urls = (
        oldt.join(newt, "url", "full_outer")
        .filter(
            F.col("_in_old").isNull()
            | ~F.col("_old_text").eqNullSafe(F.col("_new_text"))
            | ~F.col("_old_lang").eqNullSafe(F.col("_new_lang"))
        )
        .select("url", "_new_text", "_new_lang")
        .persist()
    )

    # -- resolve ids: url_map pruned to the delta's ubuckets -----------
    phase("resolve ids")
    stats_row = read_stats(p)
    n_old = int(stats_row["N"])
    sum_dl_old = int(stats_row["sum_dl"])
    max_id = int(stats_row["max_doc_id"]) if stats_row["max_doc_id"] is not None else -1
    ub_col = _crc_bucket("url", url_buckets)
    new_lang = F.coalesce(F.col("_new_lang"), F.lit(""))
    # one pass over the changed urls: touched ubuckets + every lang
    cu = changed_urls.agg(
        F.collect_set(ub_col).alias("ub"), F.collect_set(new_lang).alias("langs")
    ).collect()[0]
    url_map = (
        spark.read.parquet(p.url_map)
        .filter(F.col("ubucket").isin(sorted(cu["ub"])))
        .select("url", "doc_id")
    )
    ch = changed_urls.join(url_map, "url", "left")
    # new-url ids: append-only max_id+1+rank via the same two-pass
    # distributed scheme as the initial build — NOT a single-partition
    # global Window sort (a backfill-sized delta would funnel through
    # one task)
    new_ids = (
        assign_doc_ids(ch.filter(F.col("doc_id").isNull()).drop("doc_id"))
        .withColumn("doc_id", F.col("doc_id") + F.lit(max_id + 1))
        .select("url", "doc_id", "_new_text", "_new_lang")
        .withColumn("_is_new", F.lit(True))
    )
    old_ids = (
        ch.filter(F.col("doc_id").isNotNull())
        .select("url", "doc_id", "_new_text", "_new_lang")
        .withColumn("_is_new", F.lit(False))
    )
    changed = old_ids.union(new_ids).persist()
    dbucket_col = _dbucket(cap)
    # one pass over the delta (and its first action, which materializes
    # the persisted frame): touched dbuckets, inserts, max id, and the
    # ubuckets the new urls land in
    ca = changed.agg(
        F.collect_set(dbucket_col).alias("db"),
        F.count(F.when(F.col("_is_new"), 1)).alias("n_ins"),
        F.max("doc_id").alias("max_id"),
        F.collect_set(F.when(F.col("_is_new"), ub_col)).alias("new_ub"),
    ).collect()[0]
    changed_urls.unpersist()
    changed_ids = changed.select("doc_id")
    dbuckets = sorted(ca["db"])
    n_inserted = int(ca["n_ins"])
    max_id_now = max_id if ca["max_id"] is None else max(max_id, int(ca["max_id"]))

    # -- language dictionary: append newly-seen langs (ids are stable) --
    langs: list[str] = list(meta.get("langs", []))
    langs += sorted(set(cu["langs"]) - set(langs))

    # -- delta-scoped reads: only the dbuckets holding changed docs ----
    phase("stage terms")
    terms_aff = spark.read.parquet(p.terms).filter(F.col("dbucket").isin(dbuckets))
    # old term rows of changed docs: feeds affected-term set AND
    # term_stats deltas (delta-sized; no forced broadcast — ADVICE r2)
    term_cols = ["doc_id", "term", "tf", "dl", "lang_id"] + (
        ["positions"] if has_pos else []
    )
    old_terms_rows = (
        terms_aff.join(changed_ids, "doc_id", "left_semi")
        .select(*term_cols)
        .persist()
    )
    new_terms_rows = _tokenized(
        changed.select(
            "doc_id",
            F.col("_new_text").alias("text"),
            _lang_id(langs, "_new_lang").alias("lang_id"),
        ),
        has_pos,
    ).persist()
    # the affected-term set is kept DISTRIBUTED (parquet spill + read
    # back): a 1% delta of a 10^12-doc corpus has millions of distinct
    # terms — a driver collect() would OOM. This write is also the first
    # action on both persisted term-row frames.
    aff_path = os.path.join(index_dir, ".affected_terms.__tmp__")
    (
        old_terms_rows.select("term")
        .union(new_terms_rows.select("term"))
        .distinct()
        .write.mode("overwrite")
        .parquet(aff_path)
    )
    affected = spark.read.parquet(aff_path)

    # -- patch terms table: rewrite ONLY affected dbuckets -------------
    terms_patched = (
        terms_aff.drop("dbucket")
        .join(changed_ids, "doc_id", "left_anti")
        .unionByName(new_terms_rows)
        .withColumn("dbucket", dbucket_col)
    )
    # crash-safe protocol (round-4, ADVICE r3): EVERY table patch below
    # is STAGED to tmp dirs first — no live path is touched until all
    # outputs exist — then a journal records the swap list + new meta,
    # the swaps run back-to-back, and recovery (recover_upsert) rolls
    # an interrupted run forward from the journal. Incremental stats
    # deltas are therefore applied exactly once: either the whole
    # upsert lands or none of it does.
    swaps: list[dict] = []
    tmp_roots: list[str] = [aff_path]
    e, t = _prepare_patch(terms_patched, p.terms, "dbucket", dbuckets)
    swaps += e
    tmp_roots.append(t)

    # -- patch docs table (same dbuckets) + incremental corpus stats ---
    phase("stage docs+stats")
    docs_aff = spark.read.parquet(p.docs).filter(F.col("dbucket").isin(dbuckets))
    doc_len_new = new_terms_rows.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    has_ts = "warc_ts" in merged.columns
    changed_docs = changed.join(doc_len_new, "doc_id", "left").withColumn(
        "dl", F.coalesce("dl", F.lit(0))
    )
    if has_ts:
        changed_docs = changed_docs.join(
            merged.select("url", "warc_ts"), "url", "left"
        )
    doc_cols = ["doc_id", "url"] + (["warc_ts"] if has_ts else []) + ["dl"]
    changed_docs = changed_docs.select(
        *doc_cols, F.col("_new_lang").alias("lang")
    ).persist()
    dl_sums = (
        docs_aff.join(changed_ids, "doc_id", "left_semi")
        .agg(F.coalesce(F.sum("dl"), F.lit(0)).alias("minus"))
        .crossJoin(changed_docs.agg(F.coalesce(F.sum("dl"), F.lit(0)).alias("plus")))
        .collect()[0]
    )
    old_doc_cols = ["doc_id", "url"] + (["warc_ts"] if has_ts else []) + ["dl", "lang"]
    docs_patched = (
        docs_aff.drop("dbucket")
        .join(changed_ids, "doc_id", "left_anti")
        .select(*old_doc_cols)
        .unionByName(changed_docs.select(*old_doc_cols))
        .withColumn("dbucket", dbucket_col)
    )
    e, t = _prepare_patch(docs_patched, p.docs, "dbucket", dbuckets, extra_parts=["lang"])
    swaps += e
    tmp_roots.append(t)
    n_now = n_old + n_inserted
    sum_dl_now = sum_dl_old - int(dl_sums["minus"]) + int(dl_sums["plus"])
    avgdl_now = sum_dl_now / n_now if n_now else 0.0
    stats_new = spark.createDataFrame(
        [(n_now, avgdl_now, sum_dl_now, max_id_now)],
        "N long, avgdl double, sum_dl long, max_doc_id long",
    )
    swaps.append(_prepare_overwrite(stats_new.coalesce(1), p.stats))

    # -- patch url_map: append new urls to their ubuckets --------------
    if n_inserted:
        phase("stage url_map")
        new_ubuckets = sorted(ca["new_ub"])
        um_aff = (
            spark.read.parquet(p.url_map)
            .filter(F.col("ubucket").isin(new_ubuckets))
            .select("url", "doc_id")
        )
        new_pairs = changed.filter(F.col("_is_new")).select("url", "doc_id")
        um_patched = um_aff.unionByName(new_pairs).withColumn("ubucket", ub_col)
        e, t = _prepare_patch(um_patched, p.url_map, "ubucket", new_ubuckets)
        swaps += e
        tmp_roots.append(t)

    # -- patch term_stats: per-term df/cf deltas in affected tbuckets --
    # term_stats' tbucket and the segments' bucket are the same hash
    # (crc32(term) % n_buckets), so one collect serves both patches
    phase("stage term_stats")
    tb_col = _crc_bucket("term", n_buckets)
    aff_buckets = sorted(
        r["b"] for r in affected.select(tb_col.alias("b")).distinct().collect()
    )
    delta = (
        old_terms_rows.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_df_o"), F.sum("tf").alias("_cf_o"))
        .join(
            new_terms_rows.groupBy("term").agg(
                F.count(F.lit(1)).alias("_df_n"), F.sum("tf").alias("_cf_n")
            ),
            "term",
            "full_outer",
        )
        .select(
            "term",
            (F.coalesce("_df_n", F.lit(0)) - F.coalesce("_df_o", F.lit(0))).alias("_dd"),
            (F.coalesce("_cf_n", F.lit(0)) - F.coalesce("_cf_o", F.lit(0))).alias("_dc"),
        )
    )
    ts_aff = (
        spark.read.parquet(p.term_stats)
        .filter(F.col("tbucket").isin(aff_buckets))
        .select("term", "df", "cf")
    )
    ts_patched = (
        ts_aff.join(delta, "term", "full_outer")
        .select(
            "term",
            (F.coalesce("df", F.lit(0)) + F.coalesce("_dd", F.lit(0))).alias("df"),
            (F.coalesce("cf", F.lit(0)) + F.coalesce("_dc", F.lit(0))).alias("cf"),
        )
        .filter(F.col("df") > 0)
        .withColumn("tbucket", tb_col)
    )
    e, t = _prepare_patch(ts_patched, p.term_stats, "tbucket", aff_buckets)
    swaps += e
    tmp_roots.append(t)

    # -- re-encode ONLY affected terms; rewrite ONLY their buckets ------
    # postings sourced by DECODING the old segments (bucket-pruned) —
    # no full terms-table scan (round-2's O(corpus) read)
    phase("re-encode segments")
    if aff_buckets:
        dec_mode = "postings_lang_pos" if has_pos else "postings_lang"
        seg_aff = spark.read.parquet(p.segments).filter(F.col("bucket").isin(aff_buckets))
        old_postings = (
            seg_aff.join(affected, "term", "left_semi")
            .select(*_MODE_COLS[dec_mode])
            .mapInArrow(
                _decode_map(mode=dec_mode),
                _POSTING_LANG_POS_SCHEMA if has_pos else _POSTING_LANG_SCHEMA,
            )
        )
        # post-delta dfs of the affected terms, from the PATCHED
        # term_stats plan (it reads only live pre-swap tables; the staged
        # tmp can be empty for a no-op delta, so it is not re-read here).
        # Kept rows of the touched buckets + the re-encoded rows: one
        # (term, salt)-sorted file per bucket; a bucket left with no rows
        # becomes a src=None swap entry.
        e, t = write_segments(
            spark,
            old_postings.join(changed_ids, "doc_id", "left_anti").unionByName(new_terms_rows),
            ts_patched.join(affected, "term", "left_semi"),
            lambda seg: _prepare_patch(seg, p.segments, "bucket", aff_buckets),
            n_docs=n_now,
            avgdl=avgdl_now,
            n_buckets=n_buckets,
            max_postings_per_row=int(meta.get("max_postings_per_row", 200_000)),
            has_pos=has_pos,
            keep=seg_aff.join(affected, "term", "left_anti"),
            n_parts=len(aff_buckets),
        )
        swaps += e
        tmp_roots.append(t)

    meta["min_avgdl_encoded"] = min(
        float(meta.get("min_avgdl_encoded", meta.get("avgdl_encoded", avgdl_now))),
        avgdl_now,
    )
    meta["langs"] = langs

    # -- commit point: journal, swap-all, meta, finalize ---------------
    # everything above only created tmp dirs; everything below is
    # re-runnable from the journal (recover_upsert)
    journal = {"swaps": swaps, "meta": meta, "tmp_roots": tmp_roots}
    jp = _journal_path(index_dir)
    with open(jp + ".tmp", "w") as f:
        json.dump(journal, f)
    os.replace(jp + ".tmp", jp)
    _apply_swaps(swaps)
    with open(p.meta, "w") as f:
        json.dump(meta, f)
    _finalize_journal(index_dir, journal)

    changed.unpersist()
    changed_docs.unpersist()
    old_terms_rows.unpersist()
    new_terms_rows.unpersist()
    # Spark's CacheManager matches cached plans BY PATH: an engine
    # opened before this upsert may have persisted e.g. term_stats, and
    # a NEW engine's identical read plan would silently serve the
    # stale cache. Invalidate every swapped path.
    for path in (p.terms, p.docs, p.stats, p.term_stats, p.segments, p.url_map):
        spark.catalog.refreshByPath(path)
    return merged


def _patch_partitions(
    df: DataFrame,
    table_path: str,
    part_col: str,
    part_vals: list,
    extra_parts: list[str] | None = None,
) -> None:
    """Rewrite ONLY the listed partition dirs of a partitioned table —
    the path-swap stand-in for Iceberg/Delta partition-level MERGE,
    for a table outside the upsert journal (the live index's pages
    store). Stages with :func:`_prepare_patch` (one Spark job), swaps
    with :func:`_apply_swaps` (a listed partition absent from the
    staged output became empty: its live dir is removed), then drops
    the backups and the tmp root."""
    swaps, tmp = _prepare_patch(df, table_path, part_col, part_vals, extra_parts)
    _apply_swaps(swaps)
    _drop_staging(swaps, [tmp])
