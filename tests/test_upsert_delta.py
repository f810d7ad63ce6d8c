"""Incremental upsert + affected-partition delta rebuild (I4):
omit-nil MERGE, stable doc_ids, segment surgery only on affected
buckets, and post-delta rank-identity vs an oracle on the merged
corpus (SURVEY.md §5.6)."""

import os

import pytest
from pyspark.sql import functions as F

from micce_search_engine_spark.corpus import gen_pages, pages_spark_schema
from micce_search_engine_spark.operators.index_build import build_index
from micce_search_engine_spark.operators.query import SearchEngine
from micce_search_engine_spark.operators.upsert import apply_upsert
from micce_search_engine_spark.oracle import BruteForceBM25


@pytest.fixture(scope="module")
def delta_env(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("upd") / "idx")
    pdf = gen_pages(300, seed=13)
    pages = spark.createDataFrame(pdf, schema=pages_spark_schema())
    build_index(spark, pages, idx, n_buckets=4, max_postings_per_row=60)

    # updates: rewrite text of 10 docs, lang-only change for 5 (omit-nil
    # text=None), and 5 brand-new urls
    upd_rows = []
    for i in range(10):
        upd_rows.append((pdf.url[i], f"updated document w{i:06d} spark delta", None))
    for i in range(10, 15):
        upd_rows.append((pdf.url[i], None, "xx"))
    for i in range(5):
        upd_rows.append((f"https://zz.example/new{i}", f"fresh page alpha w{i:06d}", "en"))
    updates = spark.createDataFrame(
        upd_rows, "url string, text string, lang string"
    )
    merged = apply_upsert(spark, idx, pages, updates)
    merged_pdf = merged.select("url", "text", "lang").toPandas()
    return idx, merged_pdf


def test_docid_stability_and_new_allocation(spark, delta_env):
    idx, merged_pdf = delta_env
    docs = spark.read.parquet(os.path.join(idx, "docs"))
    assert docs.count() == 305
    assert docs.select("doc_id").distinct().count() == 305
    # new urls got ids above the old max (append-only allocation)
    new_ids = [
        r["doc_id"]
        for r in docs.filter(F.col("url").startswith("https://zz.example/")).collect()
    ]
    assert sorted(new_ids) == [300, 301, 302, 303, 304]


def test_post_delta_rank_identity(spark, delta_env):
    idx, merged_pdf = delta_env
    eng = SearchEngine(spark, idx)
    docs = spark.read.parquet(os.path.join(idx, "docs"))
    url_of = {r["doc_id"]: r["url"] for r in docs.collect()}
    oracle = BruteForceBM25(merged_pdf)
    oracle_url = {i: oracle.urls[i] for i in range(len(oracle.urls))}
    for q in ["spark delta", "alpha", "the", "w000001", "updated"]:
        got = eng.search(q, limit=10, page=1)
        exp = oracle.search(q, limit=10, page=1)
        assert got["total_hits"] == exp["total_hits"], q
        got_set = sorted((url_of[d], round(s, 9)) for d, s in got["results"])
        exp_set = sorted((oracle_url[d], round(s, 9)) for d, s in exp["results"])
        assert got_set == exp_set, q


def test_wand_still_lossless_after_delta(spark, delta_env):
    idx, _ = delta_env
    eng = SearchEngine(spark, idx)
    eng.wand_engage_factor = 0  # force probe engagement at test scale
    assert eng.wand_derate >= 1.0
    for q in ["the", "spark", "alpha"]:
        exact = eng.search(q, limit=10, page=1)
        wand = eng.search(q, limit=10, page=1, topk_only=True)
        assert [d for d, _ in wand["results"]] == [d for d, _ in exact["results"]], q


def test_engine_opened_before_upsert_asks_to_reopen(spark, tmp_path):
    """An engine serves the index as of its open. Unpinned and pinned
    engines opened before an upsert raise (rather than reading swapped
    files or mixing new segments with old stats); an engine opened
    after it answers like the oracle over the merged corpus."""
    idx = str(tmp_path / "idx_stale")
    pdf = gen_pages(120, seed=37)
    pages = spark.createDataFrame(pdf, schema=pages_spark_schema())
    build_index(spark, pages, idx, n_buckets=4, max_postings_per_row=10**9)
    cold, hot = SearchEngine(spark, idx), SearchEngine(spark, idx, preload=True)
    try:
        assert cold.search("the", limit=5, page=1) == hot.search("the", limit=5, page=1)
        updates = spark.createDataFrame(
            [(pdf.url[0], "zzfresh the words", "en"), ("https://zz.example/n", "the zzfresh", "en")],
            "url string, text string, lang string",
        )
        merged = apply_upsert(spark, idx, pages, updates).select("url", "text", "lang").toPandas()
        for eng in (cold, hot):
            with pytest.raises(RuntimeError, match="open a new SearchEngine"):
                eng.search("the", limit=5, page=1)
    finally:
        hot._segments.unpersist()
    eng = SearchEngine(spark, idx)
    url_of = {r["doc_id"]: r["url"] for r in spark.read.parquet(os.path.join(idx, "docs")).collect()}
    oracle = BruteForceBM25(merged)
    for q in ["zzfresh", "the", "the words"]:
        got = eng.search(q, limit=10, page=1)
        exp = oracle.search(q, limit=10, page=1)
        assert got["total_hits"] == exp["total_hits"] > 0, q
        assert sorted((url_of[d], round(s, 9)) for d, s in got["results"]) == sorted(
            (oracle.urls[d], round(s, 9)) for d, s in exp["results"]
        ), q


def test_unaffected_buckets_untouched(spark, tmp_path):
    """Delta rebuild must not rewrite buckets of unaffected terms."""
    idx = str(tmp_path / "idx2")
    pdf = gen_pages(200, seed=21)
    pages = spark.createDataFrame(pdf, schema=pages_spark_schema())
    build_index(spark, pages, idx, n_buckets=8, max_postings_per_row=10**9)
    seg_root = os.path.join(idx, "segments")
    before = {
        b: sorted(os.listdir(os.path.join(seg_root, b)))
        for b in os.listdir(seg_root)
        if b.startswith("bucket=")
    }
    updates = spark.createDataFrame(
        [("https://zz.example/solo", "uniqueterm0042 uniqueterm0042", "en")],
        "url string, text string, lang string",
    )
    apply_upsert(spark, idx, pages, updates)
    from micce_search_engine_spark.operators.index_build import bucket_of

    touched = {f"bucket={bucket_of('uniqueterm0042', 8)}"}
    after = {
        b: sorted(os.listdir(os.path.join(seg_root, b)))
        for b in os.listdir(seg_root)
        if b.startswith("bucket=")
    }
    for b in before:
        if b not in touched:
            assert after[b] == before[b], f"{b} was rewritten needlessly"


def test_odelta_partition_scoped_writes(spark, tmp_path):
    """v3 O(delta) contract (round-3): an upsert touching docs in ONE
    dbucket must not rewrite terms/docs partition files of any other
    dbucket, and url_map stays untouched when no url is new."""
    idx = str(tmp_path / "idx3")
    pdf = gen_pages(400, seed=23)
    pages = spark.createDataFrame(pdf, schema=pages_spark_schema())
    build_index(
        spark, pages, idx, n_buckets=8, max_postings_per_row=10**9,
        docs_per_bucket=100,
    )

    def snap(table):
        root = os.path.join(idx, table)
        out = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                if f.startswith("_") or f.startswith("."):
                    continue
                fp = os.path.join(dirpath, f)
                out[fp] = os.path.getmtime(fp)
        return out

    t_before, d_before, u_before = snap("terms"), snap("docs"), snap("url_map")
    docs_tbl = spark.read.parquet(os.path.join(idx, "docs"))
    urls = [
        r["url"]
        for r in docs_tbl.filter(F.col("doc_id") < 100).limit(3).collect()
    ]
    updates = spark.createDataFrame(
        [(u, f"patched uniquetermz{i:04d}", "en") for i, u in enumerate(urls)],
        "url string, text string, lang string",
    )
    apply_upsert(spark, idx, pages, updates)
    t_after, d_after, u_after = snap("terms"), snap("docs"), snap("url_map")

    def untouched(before, after, skip_part):
        for fp, mt in before.items():
            if skip_part in fp:
                continue
            assert fp in after and after[fp] == mt, f"{fp} rewritten needlessly"

    untouched(t_before, t_after, "dbucket=0/")
    untouched(d_before, d_after, "dbucket=0/")
    # the touched bucket WAS rewritten
    assert {f for f in t_after if "dbucket=0/" in f} != {
        f for f in t_before if "dbucket=0/" in f
    }
    # no new urls -> url_map untouched entirely
    assert u_after == u_before


def test_engine_cache_invalidated_after_upsert(spark, tmp_path):
    """An engine opened BEFORE an upsert persists term_stats; Spark's
    CacheManager matches cached plans by path, so without explicit
    refreshByPath a NEW engine after the upsert would silently read
    the stale cache (df=0 for fresh terms -> wrong idf)."""
    idx = str(tmp_path / "idx4")
    pdf = gen_pages(120, seed=29)
    pages = spark.createDataFrame(pdf, schema=pages_spark_schema())
    build_index(spark, pages, idx, n_buckets=4, max_postings_per_row=10**9)
    eng_before = SearchEngine(spark, idx)  # persists term_stats
    assert eng_before.search("zzfreshterm", limit=5, page=1)["total_hits"] == 0
    updates = spark.createDataFrame(
        [(pdf.url[0], "zzfreshterm zzfreshterm appears", "en")],
        "url string, text string, lang string",
    )
    apply_upsert(spark, idx, pages, updates)
    eng_after = SearchEngine(spark, idx)
    res = eng_after.search("zzfreshterm", limit=5, page=1)
    assert res["total_hits"] == 1
    # score must reflect df=1, not a stale df=0 (idf would be inflated)
    import math

    n = eng_after.N
    idf = math.log((n - 1 + 0.5) / 1.5 + 1.0)
    assert res["results"][0][1] < idf * 2.2 + 1e-9


def test_upsert_crash_recovery_rolls_forward(spark, tmp_path, monkeypatch):
    """ADVICE r3 (medium): a crash mid-swap must not leave the index
    permanently inconsistent. Simulate a crash after HALF the journaled
    swaps executed; recover_upsert must roll forward to the exact state
    a clean upsert produces (stats, term_stats, and search results all
    match a crash-free replica)."""
    import micce_search_engine_spark.operators.upsert as up

    pdf = gen_pages(300, seed=31)
    pages = spark.createDataFrame(pdf, schema=pages_spark_schema())
    updates = spark.createDataFrame(
        [
            (pdf["url"].iloc[0], "crashterm alpha beta", "en"),
            ("https://zz.example/new1", "crashterm gamma", "ja"),
        ],
        "url string, text string, lang string",
    )

    idx_ok = str(tmp_path / "idx_ok")
    build_index(spark, pages, idx_ok, n_buckets=4, max_postings_per_row=10**9)
    apply_upsert(spark, idx_ok, pages, updates)

    idx_cr = str(tmp_path / "idx_cr")
    build_index(spark, pages, idx_cr, n_buckets=4, max_postings_per_row=10**9)

    real_apply = up._apply_swaps

    def crash_midway(swaps):
        real_apply(swaps[: len(swaps) // 2])
        raise RuntimeError("injected crash mid-swap")

    monkeypatch.setattr(up, "_apply_swaps", crash_midway)
    try:
        apply_upsert(spark, idx_cr, pages, updates)
    except RuntimeError:
        pass
    monkeypatch.setattr(up, "_apply_swaps", real_apply)
    assert os.path.exists(os.path.join(idx_cr, "upsert_journal.json"))

    # opening the engine heals the index (roll-forward from journal)
    for path in ("docs", "terms", "stats", "term_stats", "segments", "url_map"):
        spark.catalog.refreshByPath(os.path.join(idx_cr, path))
    eng_cr = SearchEngine(spark, idx_cr)
    assert not os.path.exists(os.path.join(idx_cr, "upsert_journal.json"))
    eng_ok = SearchEngine(spark, idx_ok)
    assert eng_cr.N == eng_ok.N and abs(eng_cr.avgdl - eng_ok.avgdl) < 1e-12
    for q in ["crashterm", "the", "alpha"]:
        a = eng_cr.search(q, limit=10, page=1)
        b = eng_ok.search(q, limit=10, page=1)
        assert a["total_hits"] == b["total_hits"], q
        assert a["results"] == b["results"], q
    ts_a = sorted(
        (r["term"], r["df"], r["cf"])
        for r in spark.read.parquet(os.path.join(idx_cr, "term_stats")).collect()
    )
    ts_b = sorted(
        (r["term"], r["df"], r["cf"])
        for r in spark.read.parquet(os.path.join(idx_ok, "term_stats")).collect()
    )
    assert ts_a == ts_b


def test_upsert_replay_after_recovery_is_noop(spark, tmp_path):
    """Incremental stats deltas must be applied exactly once even when
    the same updates are replayed after a completed upsert (the
    at-least-once safety the journal preserves)."""
    pdf = gen_pages(120, seed=33)
    pages = spark.createDataFrame(pdf, schema=pages_spark_schema())
    idx = str(tmp_path / "idx_replay")
    build_index(spark, pages, idx, n_buckets=4, max_postings_per_row=10**9)
    updates = spark.createDataFrame(
        [(pdf["url"].iloc[1], "replayterm one two", "en")],
        "url string, text string, lang string",
    )
    merged = apply_upsert(spark, idx, pages, updates).persist()
    merged.count()
    s1 = spark.read.parquet(os.path.join(idx, "stats")).collect()[0]
    apply_upsert(spark, idx, merged, updates)
    s2 = spark.read.parquet(os.path.join(idx, "stats")).collect()[0]
    assert (s1["N"], s1["sum_dl"], s1["max_doc_id"]) == (
        s2["N"], s2["sum_dl"], s2["max_doc_id"],
    )
    merged.unpersist()


def test_upsert_preserves_positions(spark, tmp_path):
    """Round-4: a delta over a positional index must decode, carry and
    re-encode the position stream — phrase queries stay correct for
    both touched and untouched docs."""
    idx = str(tmp_path / "idx_pos")
    rows = [
        ("u0", "new york city", "en"),
        ("u1", "york new nope", "en"),
        ("u2", "big new york here", "en"),
        ("u3", "unrelated words only", "en"),
    ]
    pages = spark.createDataFrame(rows, "url string, text string, lang string")
    build_index(
        spark, pages, idx, n_buckets=4, max_postings_per_row=10**9,
        with_positions=True,
    )
    eng = SearchEngine(spark, idx)
    assert eng.search_phrase("new york", limit=10, page=1)["total_hits"] == 2

    updates = spark.createDataFrame(
        [
            ("u1", "now i contain new york too", "en"),   # gains the phrase
            ("u2", "york new flipped", "en"),             # loses the phrase
            ("u9", "fresh page with new york inside", "en"),  # new doc
        ],
        "url string, text string, lang string",
    )
    apply_upsert(spark, idx, pages, updates)
    eng2 = SearchEngine(spark, idx)
    res = eng2.search_phrase("new york", limit=10, page=1)
    docs = spark.read.parquet(os.path.join(idx, "docs")).collect()
    url_of = {r["doc_id"]: r["url"] for r in docs}
    assert sorted(url_of[d] for d, _ in res["results"]) == ["u0", "u1", "u9"]
    assert res["total_hits"] == 3


def _decoded_postings(spark, idx):
    """Every posting of an index: (term, doc_id, tf, dl, lang, positions)."""
    import json

    import numpy as np

    from micce_search_engine_spark.functions.codec import decode_postings

    with open(os.path.join(idx, "meta.json")) as f:
        langs = json.load(f)["langs"]
    out = []
    for r in spark.read.parquet(os.path.join(idx, "segments")).collect():
        d, t, dl, g, pos = decode_postings(r.asDict(), want_lang=True, want_positions=True)
        ends = np.cumsum(t)
        for i in range(d.size):
            out.append(
                (r["term"], int(d[i]), int(t[i]), int(dl[i]), langs[g[i]],
                 tuple(pos[ends[i] - t[i] : ends[i]].tolist()))
            )
    return sorted(out)


def test_upsert_equals_rebuild(spark, tmp_path):
    """An upserted positional index stores what build_index writes over
    the merged pages with the upsert's doc ids: the same postings
    (term, doc, tf, dl, lang, positions), term_stats, stats and docs.
    The delta rewrites, inserts and flips one doc's lang to another
    existing lang; a hot term is salted before and after it."""
    pdf = gen_pages(300, seed=29)
    pages = spark.createDataFrame(pdf, schema=pages_spark_schema())
    kw = dict(n_buckets=4, max_postings_per_row=60, with_positions=True)
    up = str(tmp_path / "upserted")
    build_index(spark, pages, up, **kw)
    flip = "de" if pdf.lang[20] != "de" else "en"
    updates = spark.createDataFrame(
        [(pdf.url[i], f"rewritten the of w{i:06d} text", None) for i in range(8)]
        + [(pdf.url[20], None, flip)]
        + [(f"https://zz.example/rb{i}", f"the new page of w{i:06d}", "en") for i in range(4)],
        "url string, text string, lang string",
    )
    merged = apply_upsert(spark, up, pages, updates)
    ids = spark.read.parquet(os.path.join(up, "docs")).select("url", "doc_id")
    rb = str(tmp_path / "rebuilt")
    build_index(spark, merged.join(ids, "url"), rb, doc_id_col="doc_id", **kw)

    def table(idx, name, cols):
        return sorted(tuple(r) for r in spark.read.parquet(os.path.join(idx, name)).select(*cols).collect())

    for idx in (up, rb):
        assert spark.read.parquet(os.path.join(idx, "segments")).filter("term = 'the'").count() > 1
    assert _decoded_postings(spark, up) == _decoded_postings(spark, rb)
    assert table(up, "term_stats", ["term", "df", "cf"]) == table(rb, "term_stats", ["term", "df", "cf"])
    stats = ["N", "sum_dl", "max_doc_id"]
    assert table(up, "stats", stats) == table(rb, "stats", stats)
    docs = ["doc_id", "url", "warc_ts", "lang", "dl"]
    assert table(up, "docs", docs) == table(rb, "docs", docs)


def _count_actions(monkeypatch):
    """Wrap the driver actions apply_upsert issues and return the call
    log. On PySpark 4 the concrete frame is the classic DataFrame; the
    abstract ``pyspark.sql.DataFrame`` sees none of the calls."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    calls = []
    for cls, name in (
        (ClassicDataFrame, "collect"),
        (ClassicDataFrame, "count"),
        (DataFrameWriter, "parquet"),
    ):
        real = getattr(cls, name)

        def wrapped(*a, _real=real, _name=name, **k):
            calls.append(_name)
            return _real(*a, **k)

        monkeypatch.setattr(cls, name, wrapped)
    return calls


def test_upsert_action_budget(spark, tmp_path, monkeypatch):
    """apply_upsert runs a fixed number of Spark actions: at most 14,
    and the same for 4 and 16 segment buckets (it used to run one
    bucket write per touched bucket). Each phase labels its jobs, and
    the caller's job description is restored afterwards."""
    pdf = gen_pages(300, seed=13)
    pages = spark.createDataFrame(pdf, schema=pages_spark_schema())
    updates = spark.createDataFrame(
        [
            (pdf.url[0], "rewritten budget text alpha", None),
            (pdf.url[1], None, "xx"),
            ("https://zz.example/budget", "fresh budget page", "en"),
        ],
        "url string, text string, lang string",
    )
    sc = spark.sparkContext
    counts = {}
    for n_buckets in (4, 16):
        idx = str(tmp_path / f"idx_b{n_buckets}")
        build_index(
            spark, pages, idx, n_buckets=n_buckets, max_postings_per_row=60,
            with_positions=True,
        )
        with monkeypatch.context() as m:
            calls = _count_actions(m)
            sc.setJobDescription("caller description")
            try:
                apply_upsert(spark, idx, pages, updates)
                assert sc.getLocalProperty("spark.job.description") == "caller description"
            finally:
                sc.setJobDescription(None)
        counts[n_buckets] = len(calls)
    assert counts[4] <= 14, counts
    assert counts[4] == counts[16], counts


def test_segment_patch_drops_emptied_bucket(spark, tmp_path):
    """The segment patch is one partitioned write over every touched
    bucket: a bucket whose only term is removed is swapped out (src
    None), and every rewritten bucket holds one (term, salt)-sorted
    file, as a build writes it."""
    import pyarrow.parquet as pq

    from micce_search_engine_spark.operators.index_build import bucket_of
    from micce_search_engine_spark.functions.tokenize import tokenize_text

    n_buckets = 64
    rows = [
        (f"u{i}", f"common word{i} shared{i % 3} common", "en") for i in range(8)
    ]
    new_text = "common word0 replaced common"
    vocab = {t for _, text, _ in rows + [("", new_text, "")] for t in tokenize_text(text)}
    used = {bucket_of(t, n_buckets) for t in vocab}
    solo = next(
        f"solo{i}" for i in range(1000) if bucket_of(f"solo{i}", n_buckets) not in used
    )
    rows[0] = ("u0", f"common {solo} word0 common", "en")
    pages = spark.createDataFrame(rows, "url string, text string, lang string")
    idx = str(tmp_path / "idx_solo")
    # max_postings_per_row=3 salts "common" (8 postings) into 3 rows
    build_index(spark, pages, idx, n_buckets=n_buckets, max_postings_per_row=3)
    seg_root = os.path.join(idx, "segments")
    solo_dir = os.path.join(seg_root, f"bucket={bucket_of(solo, n_buckets)}")
    assert os.path.isdir(solo_dir)

    updates = spark.createDataFrame(
        [("u0", new_text, None)],
        "url string, text string, lang string",
    )
    merged_pdf = (
        apply_upsert(spark, idx, pages, updates).select("url", "text", "lang").toPandas()
    )
    assert not os.path.exists(solo_dir)

    eng = SearchEngine(spark, idx)
    assert eng.search(solo, limit=5, page=1)["total_hits"] == 0
    url_of = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(os.path.join(idx, "docs")).collect()
    }
    oracle = BruteForceBM25(merged_pdf)
    for q in ["common", "replaced", "word0 common", "shared1"]:
        got = eng.search(q, limit=10, page=1)
        exp = oracle.search(q, limit=10, page=1)
        assert got["total_hits"] == exp["total_hits"], q
        assert sorted((url_of[d], round(s, 9)) for d, s in got["results"]) == sorted(
            (oracle.urls[d], round(s, 9)) for d, s in exp["results"]
        ), q

    touched = {
        bucket_of(t, n_buckets)
        for t in tokenize_text(rows[0][1]) + tokenize_text(new_text)
    } - {bucket_of(solo, n_buckets)}
    for b in touched:
        bdir = os.path.join(seg_root, f"bucket={b}")
        files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)
        tbl = pq.read_table(os.path.join(bdir, files[0]), columns=["term", "salt"])
        keys = list(zip(tbl.column("term").to_pylist(), tbl.column("salt").to_pylist()))
        assert keys == sorted(keys), b
    common_dir = os.path.join(seg_root, f"bucket={bucket_of('common', n_buckets)}")
    salts = pq.read_table(common_dir, columns=["term", "salt"]).to_pylist()
    assert sorted(r["salt"] for r in salts if r["term"] == "common") == [0, 1, 2]
