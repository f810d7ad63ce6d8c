"""Regression tests for the round-1 ADVICE findings:
short-doc shingle crash, null-text insert in apply_upsert and
latest-status (not lexicographic-max) manifest lineage."""

import os
import time

from pyspark.sql import functions as F

from micce_search_engine_spark.corpus import gen_pages, pages_spark_schema
from micce_search_engine_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles,
)
from micce_search_engine_spark.operators.index_build import build_index
from micce_search_engine_spark.operators.upsert import apply_upsert
from micce_search_engine_spark.plans.manifest import COMPLETED, PROCESSING, Manifest


def test_shingles_short_docs(spark):
    """Docs with <n tokens (incl. empty/null) yield zero shingles, no crash."""
    df = spark.createDataFrame(
        [
            (0, None),
            (1, ""),
            (2, "one"),
            (3, "one two"),
            (4, "one two three"),
            (5, "one two three four"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n"]
        for r in shingles(df, n=3).groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == {4: 1, 5: 2}  # short docs absent entirely


def test_dedup_ops_survive_fixture_corpus(spark):
    """gen_pages emits 2% empty / 1% null texts — dedup ops must not crash."""
    pages = spark.createDataFrame(gen_pages(300, seed=7), schema=pages_spark_schema())
    docs = pages.select(F.monotonically_increasing_id().alias("doc_id"), "text")
    # doc_id only needs uniqueness here, not determinism
    assert ngram_jaccard_pairs(docs, threshold=0.9, max_shingle_df=10**9).count() >= 0
    assert minhash_lsh_pairs(docs, threshold=0.9).count() >= 0


def test_upsert_inserts_null_text_url(spark, tmp_path):
    idx = str(tmp_path / "idx")
    pdf = gen_pages(50, seed=3)
    pages = spark.createDataFrame(pdf, schema=pages_spark_schema())
    build_index(spark, pages, idx, n_buckets=4, max_postings_per_row=10**9)
    updates = spark.createDataFrame(
        [("https://zz.example/nulltext", None, "en")],
        "url string, text string, lang string",
    )
    apply_upsert(spark, idx, pages, updates)
    docs = spark.read.parquet(os.path.join(idx, "docs"))
    assert docs.count() == 51
    assert docs.filter(F.col("doc_id").isNull()).count() == 0
    assert docs.select("doc_id").distinct().count() == 51
    row = docs.filter(F.col("url") == "https://zz.example/nulltext").collect()[0]
    assert row["doc_id"] == 50 and row["dl"] == 0


def test_manifest_latest_status_not_lexicographic(spark, tmp_path):
    m = Manifest(str(tmp_path))
    m.mark("S1", PROCESSING)
    time.sleep(0.002)
    m.mark("S1", COMPLETED)  # lexicographically SMALLER than PROCESSING
    assert m.stage_status("S1") == COMPLETED
    df = spark.createDataFrame(m.read())
    latest = (
        df.filter(F.col("partition_id") == -1)
        .groupBy("stage")
        .agg(F.max_by("status", "updated_at").alias("final_status"))
        .collect()
    )
    assert latest[0]["final_status"] == COMPLETED


# ---------------------------------------------------------------------------
# round-3 ADVICE / VERDICT regressions (round-4 fixes)
# ---------------------------------------------------------------------------


def test_minhash_hot_shingle_bounded(spark):
    """VERDICT r3 wrong #1: a shingle shared by d docs must NOT drive an
    O(d^2) verify join. 2,000 unrelated docs share one boilerplate
    3-gram; two real near-dups exist. Round-6 shape: verification
    intersects per-doc shingle ARRAYS (array_intersect) attached to the
    candidate pairs — no shingle-keyed join exists anywhere in the plan,
    so a hot shingle cannot drive join-row blowup by construction; the
    raw docs are still semi-joined down to candidate docs before the
    array recompute."""
    base = "common boiler plate"
    rows = [(i, f"{base} u{i}a u{i}b u{i}c u{i}d u{i}e") for i in range(2000)]
    # two genuine near-dups (identical text -> jaccard 1.0)
    rows.append((9001, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((9002, "alpha beta gamma delta epsilon zeta eta theta"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lazy = minhash_lsh_pairs(df, threshold=0.9, materialize=False)
    plan = lazy._jdf.queryExecution().optimizedPlan().toString()
    assert "array_intersect" in plan, plan
    assert plan.count("LeftSemi") >= 1, plan
    # no per-shingle join rows: every join in the plan is keyed on band
    # keys or doc ids, never on a shingle column (the signature explode
    # feeds only a partial-aggregated min, not a join)
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert join_lines and all("shingle" not in ln for ln in join_lines), join_lines
    out = minhash_lsh_pairs(df, threshold=0.9)
    got = [(r["doc_a"], r["doc_b"], round(r["jaccard"], 6)) for r in out.collect()]
    assert got == [(9001, 9002, 1.0)]


def test_idf_lru_eviction_keeps_current_call_terms(spark, tiny_index, synonyms):
    """ADVICE r3: evicting before touching could KeyError on a term the
    same call needs once the cache crosses _DF_CACHE_MAX."""
    from micce_search_engine_spark.operators.query import SearchEngine

    eng = SearchEngine(spark, tiny_index, synonyms=synonyms)
    eng._DF_CACHE_MAX = 3  # force eviction pressure
    eng.idf_map(["the", "of"])  # "the" sits at the LRU front
    # one call whose misses push past MAX while "the" is an old-position
    # hit — pre-fix this raised KeyError
    out = eng.idf_map(["the", "w000001", "w000002", "w000003"])
    assert set(out) == {"the", "w000001", "w000002", "w000003"}


def test_adaptive_wand_skips_probe_at_small_scale(
    spark, tiny_index, synonyms, monkeypatch
):
    """Round-4: below the engagement floor topk_only must return the
    exact top-k WITHOUT the probe's extra jobs (no block selection)."""
    import micce_search_engine_spark.operators.batch_query as bq
    from micce_search_engine_spark.operators.query import SearchEngine

    eng = SearchEngine(spark, tiny_index, synonyms=synonyms)
    calls = []
    orig = bq._batch_wand_selection

    def spy(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(bq, "_batch_wand_selection", spy)
    exact = eng.search("the", limit=10, page=1)
    skipped = eng.search("the", limit=10, page=1, topk_only=True)
    assert not calls  # probe never engaged below the floor
    assert [d for d, _ in skipped["results"]] == [d for d, _ in exact["results"]]
    eng.wand_engage_factor = 0
    eng.search("the", limit=10, page=1, topk_only=True)
    assert calls  # floor at 0 -> probe engages


def test_topk_count_marker_survives_negative_doc_ids(spark):
    """ADVICE r3: doc_id == -1 was the count-marker sentinel; a corpus
    with caller-supplied negative ids must not lose hits to it. Checked
    on the shared reducer and pager every scored frame goes through."""
    from micce_search_engine_spark.operators.batch_query import _paged_pdf, _reduce_scored

    cand = spark.createDataFrame(
        [(-1, 5.0), (-2, 4.0), (3, 3.0)], "doc_id long, score double"
    )
    totals, top = _reduce_scored(cand, 10)
    assert totals == {0: 3}
    page = _paged_pdf(top, [{"query_id": 0, "limit": 10, "page": 1}], totals)
    assert list(zip(page["doc_id"], page["score"])) == [(-1, 5.0), (-2, 4.0), (3, 3.0)]
    assert list(page["total_hits"]) == [3, 3, 3]


def test_staged_segment_overwrite_is_hidden_and_swept(spark, tmp_path):
    """ADVICE r4 (medium): a crash BEFORE the journal must not leak
    staged per-bucket overwrites where Spark partition discovery (or a
    preload engine's unfiltered segments read) can see them. Staged
    dirs are dot-prefixed (invisible to Spark's listing) and the next
    upsert's sweep removes them — including one level inside
    segments/."""
    import micce_search_engine_spark.operators.upsert as up
    from micce_search_engine_spark.operators.query import SearchEngine

    pdf = gen_pages(80, seed=71)
    pages = spark.createDataFrame(pdf, schema=pages_spark_schema())
    idx = str(tmp_path / "idx_leak")
    build_index(spark, pages, idx, n_buckets=2, max_postings_per_row=10**9)
    eng = SearchEngine(spark, idx)
    baseline = eng.search("the", limit=5, page=1)

    # simulate crash-before-journal: stage a bucket overwrite, never swap
    seg_bucket = os.path.join(idx, "segments", "bucket=0")
    staged = up._prepare_overwrite(spark.read.parquet(seg_bucket), seg_bucket)
    assert os.path.basename(staged["src"]).startswith("."), staged["src"]
    # also simulate an interrupted swap's backup dir
    os.makedirs(up._bak_path(os.path.join(idx, "segments", "bucket=1")))

    # Spark must NOT see the staged copy as a partition: results unchanged
    spark.catalog.refreshByPath(os.path.join(idx, "segments"))
    eng2 = SearchEngine(spark, idx, preload=True)
    again = eng2.search("the", limit=5, page=1)
    assert again == baseline
    eng2._segments.unpersist()

    # the sweep clears both leaked dirs (runs inside the next upsert)
    up._sweep_stale_tmp(idx)
    leftovers = [
        n for n in os.listdir(os.path.join(idx, "segments")) if up._is_stale_tmp(n)
    ]
    assert leftovers == []


def test_recover_skipped_while_writer_lock_held(spark, tmp_path):
    """ADVICE r4 (medium): recovery must not re-execute a journal owned
    by a LIVE writer. While the writer lock is held, recover_upsert is
    a no-op; after release it rolls forward."""
    import json

    import micce_search_engine_spark.operators.upsert as up

    pdf = gen_pages(60, seed=73)
    pages = spark.createDataFrame(pdf, schema=pages_spark_schema())
    idx = str(tmp_path / "idx_lock")
    build_index(spark, pages, idx, n_buckets=2, max_postings_per_row=10**9)

    # a journal that would (wrongly) re-run a swap: src exists, dst live
    src = os.path.join(idx, ".probe_src")
    dst = os.path.join(idx, "probe_dst")
    os.makedirs(src)
    with open(os.path.join(src, "x"), "w") as f:
        f.write("1")
    with open(os.path.join(idx, "meta.json")) as f:
        meta = json.load(f)
    journal = {"swaps": [{"dst": dst, "src": src}], "meta": meta, "tmp_roots": []}
    with open(up._journal_path(idx), "w") as f:
        json.dump(journal, f)

    with up._writer_lock(idx) as ok:  # the "live writer"
        assert ok
        assert up.recover_upsert(idx) is False  # skipped: writer owns it
        assert os.path.exists(up._journal_path(idx))
    assert up.recover_upsert(idx) is True  # writer gone -> roll forward
    assert os.path.exists(dst) and not os.path.exists(src)
