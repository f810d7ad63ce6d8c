"""Rank-identity of the Spark engine vs the brute-force BM25 oracle
(SURVEY.md §5.2 — the stand-in for 'matches the reference's top-k')."""

import pytest

from micce_search_engine_spark.operators.query import SearchEngine

CASES = [
    # (query_text, lang_filter, limit, page)
    ("the", None, 10, 1),          # hottest stopword (Zipf head, salted)
    ("w000000", None, 10, 1),      # hot vocab term
    ("w000001 w000003", None, 5, 1),   # AND of two terms
    ("the of w000002", None, 10, 1),   # stopwords + term AND
    ("alias0", None, 10, 1),       # synonym expansion (OR branches)
    ("w000000", "ja", 10, 1),      # exact lang filter
    ("the", None, 5, 2),           # pagination quirk page 2
    ("the", None, 5, 3),           # page 3
    ("w049999 w048888", None, 10, 1),  # rare terms, likely empty
    ("zzzunknown", None, 10, 1),   # unseen term -> empty
    ("w000007", "de", 7, 2),       # filter + odd limit + page 2
]


@pytest.mark.parametrize("query_text,lang,limit,page", CASES)
def test_rank_identical(spark, tiny_index, oracle, synonyms, query_text, lang, limit, page):
    eng = SearchEngine(spark, tiny_index, synonyms=synonyms)
    got = eng.search(query_text, lang_filter=lang, limit=limit, page=page)
    exp = oracle.search(query_text, lang_filter=lang, limit=limit, page=page, synonyms=synonyms)
    assert got["total_hits"] == exp["total_hits"]
    assert got["last_page"] == exp["last_page"]
    assert [d for d, _ in got["results"]] == [d for d, _ in exp["results"]]
    for (gd, gs), (ed, es) in zip(got["results"], exp["results"]):
        assert abs(gs - es) < 1e-9, (gd, gs, es)


def test_fixture_query_set_sample(spark, tiny_index, oracle, synonyms, queries_pdf):
    """A slice of the FIXTURES.md §3 reference query set."""
    eng = SearchEngine(spark, tiny_index, synonyms=synonyms)
    for row in queries_pdf.head(12).itertuples():
        got = eng.search(
            row.query_text,
            lang_filter=row.lang_filter if isinstance(row.lang_filter, str) else None,
            limit=int(row.limit),
            page=int(row.page),
        )
        exp = oracle.search(
            row.query_text,
            lang_filter=row.lang_filter if isinstance(row.lang_filter, str) else None,
            limit=int(row.limit),
            page=int(row.page),
            synonyms=synonyms,
        )
        assert got["total_hits"] == exp["total_hits"], row.query_text
        assert [d for d, _ in got["results"]] == [d for d, _ in exp["results"]]


def test_wand_topk_matches_exact(spark, tiny_index, synonyms):
    eng = SearchEngine(spark, tiny_index, synonyms=synonyms)
    # force probe engagement: at test scale the adaptive floor would
    # skip pruning (round-4), and this test is ABOUT the pruning path
    eng.wand_engage_factor = 0
    for q in ["the", "w000000", "alias0", "a"]:
        exact = eng.search(q, limit=10, page=1)
        wand = eng.search(q, limit=10, page=1, topk_only=True)
        assert [d for d, _ in wand["results"]] == [d for d, _ in exact["results"]]
        for (gd, gs), (ed, es) in zip(wand["results"], exact["results"]):
            assert abs(gs - es) < 1e-9


def test_validation():
    from micce_search_engine_spark.operators.query import SearchEngine  # noqa

    # limit/page required >= 1 (SearchCondition.go:32-44 analog)
    class Dummy(SearchEngine):
        def __init__(self):
            pass

    d = Dummy()
    with pytest.raises(ValueError):
        d.search("x", limit=0, page=1)
    with pytest.raises(ValueError):
        d.search("x", limit=5, page=0)


def test_wand_generalized_matches_exact(spark, tiny_index, synonyms):
    """Round-3: WAND pruning with multi-term AND branches, synonyms
    and lang filters — previously these fell back to full decode."""
    eng = SearchEngine(spark, tiny_index, synonyms=synonyms)
    eng.wand_engage_factor = 0  # force probe engagement at test scale
    cases = [
        ("the w000001", None),
        ("w000000 w000002", None),
        ("the", "ja"),
        ("alias0 the", "en"),
    ]
    for q, lf in cases:
        exact = eng.search(q, lang_filter=lf, limit=10, page=1)
        wand = eng.search(q, lang_filter=lf, limit=10, page=1, topk_only=True)
        assert [d for d, _ in wand["results"]] == [d for d, _ in exact["results"]], (q, lf)
        for (gd, gs), (ed, es) in zip(wand["results"], exact["results"]):
            assert abs(gs - es) < 1e-9


def test_phrase_search_matches_bruteforce(spark, tiny_pages_pdf, tmp_path_factory):
    """Round-4 phrase matching (Vespa's contains-phrase semantics,
    whereQuery.go:43-57): engine results == brute-force adjacency check
    over tokenize_text + BM25 over the phrase's distinct terms."""
    import math

    from micce_search_engine_spark.corpus import pages_spark_schema
    from micce_search_engine_spark.functions.tokenize import tokenize_text
    from micce_search_engine_spark.operators.index_build import build_index

    idx = str(tmp_path_factory.mktemp("phraseidx") / "idx")
    pages = spark.createDataFrame(tiny_pages_pdf, schema=pages_spark_schema())
    build_index(
        spark, pages, idx, n_buckets=4, max_postings_per_row=60, with_positions=True
    )
    eng = SearchEngine(spark, idx)
    docs_tbl = spark.read.parquet(idx + "/docs").collect()
    url_of = {r["doc_id"]: r["url"] for r in docs_tbl}
    url_to_row = {r.url: r for r in tiny_pages_pdf.itertuples()}

    toks_by_url = {
        u: tokenize_text(r.text if isinstance(r.text, str) else None)
        for u, r in url_to_row.items()
    }
    N = len(toks_by_url)
    avgdl = sum(len(t) for t in toks_by_url.values()) / N

    def brute_phrase(qtext, k=10):
        q = tokenize_text(qtext)
        m = len(q)
        hits = []
        uniq = sorted(set(q))
        df = {
            t: sum(1 for tk in toks_by_url.values() if t in tk) for t in uniq
        }
        for u, tk in toks_by_url.items():
            if not any(tk[i : i + m] == q for i in range(len(tk) - m + 1)):
                continue
            s_fx = 0
            for t in uniq:
                tf = tk.count(t)
                idf = math.log((N - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                wf = tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len(tk) / avgdl))
                s_fx += math.floor(idf * wf * 1e9)
            hits.append((u, s_fx / 1e9))
        hits.sort(key=lambda x: (-x[1], x[0]))
        return hits

    for qtext in ["the of", "w000001 the", "the the"]:
        got = eng.search_phrase(qtext, limit=10, page=1)
        exp = brute_phrase(qtext)
        assert got["total_hits"] == len(exp), qtext
        got_set = sorted((url_of[d], round(s, 9)) for d, s in got["results"])
        exp_set = sorted((u, round(s, 9)) for u, s in exp[:10])
        # compare as sets of (url, score): doc_id tie-order differs from
        # url order, so exact list equality only holds when scores are
        # distinct — set equality over the window's score range is the
        # deterministic invariant here
        got_scores = sorted(round(s, 9) for _, s in got["results"])
        exp_scores = sorted(round(s, 9) for _, s in exp[:10])
        assert got_scores == exp_scores, qtext
        assert {u for u, _ in got_set} <= {u for u, _ in exp}, qtext


def test_phrase_search_cjk_bigrams(spark, tmp_path):
    """CJK phrase via bigram positions: expand_cjk_token emits
    overlapping bigrams in position order, so adjacency of consecutive
    bigrams == exact substring containment of the CJK run."""
    from micce_search_engine_spark.operators.index_build import build_index

    rows = [
        ("j0", "東京タワー に 行く", "ja"),      # contains 東京
        ("j1", "京東 は 逆", "ja"),              # reversed -> no
        ("j2", "東 と 京 は 別の語", "ja"),      # separated -> no
        ("j3", "大東京圏 の 話", "ja"),          # contains 東京 inside a longer run
        ("j4", "nothing here", "en"),
    ]
    pages = spark.createDataFrame(rows, "url string, text string, lang string")
    idx = str(tmp_path / "cjkidx")
    build_index(
        spark, pages, idx, n_buckets=4, max_postings_per_row=10**9,
        with_positions=True,
    )
    eng = SearchEngine(spark, idx)
    res = eng.search_phrase("東京", limit=10, page=1)
    import os

    docs = spark.read.parquet(os.path.join(idx, "docs")).collect()
    url_of = {r["doc_id"]: r["url"] for r in docs}
    assert sorted(url_of[d] for d, _ in res["results"]) == ["j0", "j3"], res


def test_phrase_positional_decode_is_bounded(
    spark, tiny_pages_pdf, tmp_path_factory, monkeypatch
):
    """VERDICT r5 next #1: when the bound engages, the frequent phrase
    terms' streams must never be fully decoded — the only full decode
    is the RAREST term's cheap (score) stream, and the evaluator's one
    positional decode carries a block_join restricting it to blocks
    holding a rarest-term doc. Structural spy on _segment_scan, which
    every decode reads (the fused shapes bypass _postings); the
    disengaged plan must return identical results. Each phrase of a
    batch (incl. a 1-token phrase, which needs the full decode) matches
    exactly what it matches alone. The bound is tried only for calls
    over the one-chunk bound, so the tiny index is pushed over it."""
    import micce_search_engine_spark.operators.batch_query as bq
    from micce_search_engine_spark.corpus import pages_spark_schema
    from micce_search_engine_spark.operators.batch_query import search_batch
    from micce_search_engine_spark.operators.index_build import build_index

    idx = str(tmp_path_factory.mktemp("phrasebnd") / "idx")
    pages = spark.createDataFrame(tiny_pages_pdf, schema=pages_spark_schema())
    build_index(
        spark, pages, idx, n_buckets=4, max_postings_per_row=60, with_positions=True
    )
    eng = SearchEngine(spark, idx)

    calls = []
    orig = eng._segment_scan

    def spy(terms, mode, block_join=None):
        calls.append((tuple(terms), mode, block_join is not None))
        return orig(terms, mode, block_join)

    def positional(bounded):
        pos_calls = [c for c in calls if c[1] == "score_lang_pos"]
        assert pos_calls and all(b == bounded for _, _, b in pos_calls), calls
        if bounded:  # the rarest term's cheap stream is the only full decode
            score_calls = [c for c in calls if c[1] == "score"]
            assert score_calls and all(len(ts) == 1 for ts, _, _ in score_calls), calls
        assert all(m in ("score", "score_lang_pos") for _, m, _ in calls), calls
        calls.clear()

    eng._segment_scan = spy
    monkeypatch.setattr(bq, "_chunk_rows", lambda n_terms: 0)
    eng.phrase_block_factor = 0  # force block-selection engagement
    res = eng.search_phrase("the of", limit=10, page=1)
    assert res["total_hits"] > 0
    positional(bounded=True)

    # adaptive disengage (similar-df terms: nothing to prune) still
    # returns identical results, with the decode NOT block-restricted
    eng.phrase_block_factor = 10**9
    res2 = eng.search_phrase("the of", limit=10, page=1)
    assert res2 == res
    positional(bounded=False)

    # several phrases in one call: one decode, per-phrase hits identical
    # to each phrase alone; the bound engages only when every branch of
    # the call is multi-token
    eng.phrase_block_factor = 0
    for texts, bounded in ((["the of", "of the"], True), (["the of", "w000001", "of the"], False)):
        specs = [
            {"query_id": j, "query_text": t, "lang_filter": None, "limit": 1000,
             "page": 1, "phrase": True}
            for j, t in enumerate(texts)
        ]
        rows = sorted(search_batch(eng, specs).collect(), key=lambda r: (r["query_id"], r["rank"]))
        positional(bounded)
        for s in specs:
            got = [r for r in rows if r["query_id"] == s["query_id"]]
            alone = eng.search_phrase(s["query_text"], limit=1000, page=1)
            calls.clear()
            assert alone["total_hits"] > 0, s
            assert [(r["doc_id"], r["score"]) for r in got] == alone["results"], s
            assert got[0]["total_hits"] == alone["total_hits"], s
    eng.phrase_block_factor = SearchEngine.phrase_block_factor
