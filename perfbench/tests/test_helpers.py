"""The benchmark's own helpers: percentile rule, seeded inputs, span
interval arithmetic and the oracle comparisons. No SparkSession."""

import pandas as pd
import pytest

from perfbench import checks, inputs
from perfbench.percentiles import nearest_rank, tail
from perfbench.tracing import Span, Tracer, covered_ms


# -- percentile rule ----------------------------------------------------


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(19))) is None
    assert tail(list(range(20))) == (50.0, 9, 20)
    assert tail(list(range(1, 101))) == (90.0, 90, 100)
    assert tail(list(range(1, 1001))) == (99.0, 990, 1000)
    p, _, n = tail(list(range(40)))
    assert (p, n) == (75.0, 40)


def test_nearest_rank():
    assert nearest_rank([5, 1, 3], 50) == 3
    assert nearest_rank([5, 1, 3], 0) == 1
    assert nearest_rank([5, 1, 3], 100) == 5


# -- seeded inputs --------------------------------------------------------


def test_pages_are_deterministic_per_seed():
    a, b, c = (inputs.gen_pages(300, s) for s in (7, 7, 8))
    pd.testing.assert_frame_equal(a, b)
    assert not a["text"].equals(c["text"])
    assert list(a["url"][:2]) == [inputs.url_of(0), inputs.url_of(1)]
    assert a["lang"].value_counts().to_dict() == {"en": 210, "ja": 45, "ko": 30, "de": 15}


def test_queries_follow_the_slot_table():
    texts = [t for t in inputs.gen_pages(200, 1)["text"] if t]
    q1 = inputs.gen_queries(20, 5, texts)
    assert q1 == inputs.gen_queries(20, 5, texts)
    assert q1 != inputs.gen_queries(20, 6, texts)
    assert [q["shape"] for q in q1[:5]] == list(
        ["synonym", "multi_term", "lang", "phrase", "single_term"]
    )
    assert sum(q["lang_filter"] is not None for q in q1) == 8
    assert all(q["query_text"] in inputs.SYNONYMS for q in q1 if q["shape"] == "synonym")
    phrase = q1[3]["query_text"]
    assert any(phrase in t for t in texts)


def test_delta_and_omit_nil_merge():
    pages = inputs.gen_pages(500, 3)
    upd, marker = inputs.gen_delta(pages, 3, 0, 500)
    again, _ = inputs.gen_delta(pages, 3, 0, 500)
    pd.testing.assert_frame_equal(upd, again)
    assert len(upd) == 100 and upd["url"].is_unique
    assert upd["text"].str.contains(marker).sum() == 90
    merged = inputs.merge_omit_nil(pages, upd)
    assert len(merged) == 540
    by_url = merged.set_index("url")
    lang_only = upd[upd["text"].isna()]
    old = pages.set_index("url")
    for u, lang in zip(lang_only["url"], lang_only["lang"]):
        assert by_url.at[u, "lang"] == lang
        assert by_url.at[u, "text"] == old.at[u, "text"] or pd.isna(old.at[u, "text"])
    rewritten = upd["url"].iloc[0]
    assert by_url.at[rewritten, "lang"] == old.at[rewritten, "lang"]


# -- spans ----------------------------------------------------------------


def test_covered_ms_unions_and_clips():
    assert covered_ms([], 0, 100) == 0
    assert covered_ms([(10, 20), (15, 30), (40, 50)], 0, 100) == 30
    assert covered_ms([(-10, 20), (90, 200)], 0, 100) == 30
    assert covered_ms([(0, 100), (20, 30)], 0, 100) == 100
    assert covered_ms([(200, 300)], 0, 100) == 0


def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    tr.spans = [
        Span(0, "ingest.delta", None, "d0", 0.0, end_ms=100.0),
        Span(1, "upsert.apply_upsert", 0, "d0", 10.0, end_ms=60.0),
        Span(2, "query.open", 0, "d0", 50.0, end_ms=70.0),
        Span(3, "query.search", 2, "d0", 55.0, end_ms=65.0),
    ]
    assert tr.self_ms(tr.spans[0]) == 40.0
    assert tr.self_ms(tr.spans[2]) == 10.0
    assert tr.spans[1].layer == "upsert"


def test_untraced_spans_time_but_do_not_record():
    tr = Tracer(enabled=False)
    with tr.span("query.search") as sp:
        pass
    assert tr.spans == [] and sp.seconds >= 0
    tr = Tracer(enabled=True)
    with tr.span("a.x"):
        with tr.span("b.y", "q1"):
            pass
    assert [(s.name, s.parent, s.request) for s in tr.spans] == [
        ("a.x", None, None),
        ("b.y", 0, "q1"),
    ]


# -- oracle comparisons ---------------------------------------------------


SPEC = {"limit": 2, "page": 2}


def test_same_ids_is_exact():
    hits = [(4, 3.0), (1, 2.0), (2, 1.0), (0, 1.0), (3, 0.5)]
    assert checks.same_ids({"total_hits": 5, "results": [(2, 1.0), (0, 1.0)]}, hits, SPEC)
    assert not checks.same_ids({"total_hits": 5, "results": [(0, 1.0), (2, 1.0)]}, hits, SPEC)
    assert not checks.same_ids({"total_hits": 4, "results": [(2, 1.0), (0, 1.0)]}, hits, SPEC)


def test_same_urls_allows_tie_reordering_only():
    hits = [(0, 3.0), (1, 2.0), (2, 1.0), (3, 1.0), (4, 1.0)]
    exp_url = ["a", "b", "c", "d", "e"]
    got_url = {10: "a", 11: "b", 12: "c", 13: "d", 14: "e"}
    ok = {"total_hits": 5, "results": [(14, 1.0), (12, 1.0)]}
    assert checks.same_urls(ok, hits, SPEC, got_url, exp_url)
    wrong_score = {"total_hits": 5, "results": [(11, 2.0), (12, 1.0)]}
    assert not checks.same_urls(wrong_score, hits, SPEC, got_url, exp_url)
    dup = {"total_hits": 5, "results": [(12, 1.0), (12, 1.0)]}
    assert not checks.same_urls(dup, hits, SPEC, got_url, exp_url)


def test_phrase_oracle_filters_adjacency():
    from micce_search_engine_spark.oracle import BruteForceBM25

    pages = pd.DataFrame(
        {
            "url": ["u0", "u1", "u2"],
            "text": ["red fox jumps", "fox red", "a red fox"],
            "lang": ["en", "en", "de"],
        }
    )
    o = BruteForceBM25(pages)
    spec = {"query_text": "red fox", "lang_filter": None, "limit": 10, "page": 1}
    assert {d for d, _ in checks.oracle_all(o, spec, {})} == {0, 1, 2}
    assert {d for d, _ in checks.oracle_all(o, dict(spec, phrase=True), {})} == {0, 2}
    assert {d for d, _ in checks.oracle_all(o, dict(spec, phrase=True, lang_filter="de"), {})} == {2}


def test_batch_results_shape():
    pdf = pd.DataFrame(
        {"query_id": [1, 1, 2], "doc_id": [5, 3, 9], "score": [1.0, 2.0, 0.5],
         "rank": [2, 1, 1], "total_hits": [7, 7, 1], "last_page": [False] * 3}
    )
    assert checks.batch_results(pdf, 1) == {"total_hits": 7, "results": [(3, 2.0), (5, 1.0)]}
    assert checks.batch_results(pdf, 4) is None


@pytest.mark.parametrize("seed", [1, 2])
def test_text_bytes_counts_utf8(seed):
    pages = inputs.gen_pages(50, seed)
    assert inputs.text_bytes(pages) == sum(len(t) for t in pages["text"] if t)
