"""Multi-field search + SearchCondition engine vs a brute-force oracle
(the name/korea_name analog: convertSpotNameQuery.go 4-branch OR,
cross-field BM25 sum, closeness rank profile, attribute filters)."""

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from micce_search_engine_spark import BM25_B, BM25_K1
from micce_search_engine_spark.corpus import gen_pages, pages_spark_schema
from micce_search_engine_spark.functions.tokenize import tokenize_text
from micce_search_engine_spark.operators.multifield import (
    ConditionEngine,
    build_field_indexes,
    multifield_scored,
)
from micce_search_engine_spark.operators.query import SearchEngine
from micce_search_engine_spark.oracle import expand_branches

N = 250
SYN = {"qalias": "w000001"}


def _title(text):
    return " ".join((text or "").split(" ")[:5])


@pytest.fixture(scope="module")
def mf_env(spark, tmp_path_factory):
    pdf = gen_pages(N, seed=17).sort_values("url").reset_index(drop=True)
    pdf["title"] = [_title(t) for t in pdf["text"]]
    pdf["doc_id"] = range(N)
    pages = spark.createDataFrame(pdf[["url", "text", "title", "lang", "doc_id"]])
    base = str(tmp_path_factory.mktemp("mf") / "idx")
    idxs = build_field_indexes(
        spark, pages, ["text", "title"], base, doc_id_col="doc_id",
        n_buckets=4, max_postings_per_row=10**9,
    )
    engines = {f: SearchEngine(spark, d, synonyms=SYN) for f, d in idxs.items()}
    return pdf, engines


def _mf_oracle(pdf, query, synonyms=SYN):
    """Brute-force: candidacy = some branch fully in some field; score =
    sum over fields of fixed-point BM25 over all expanded terms."""
    branches = expand_branches(query, synonyms)
    qterms = sorted({t for b in branches for t in b})
    fields = {"text": [tokenize_text(t) for t in pdf["text"]],
              "title": [tokenize_text(t) for t in pdf["title"]]}
    n = len(pdf)
    out = {}
    scores = {}
    for fname, toksets in fields.items():
        dls = [len(t) for t in toksets]
        avgdl = sum(dls) / n
        tfs = [Counter(t) for t in toksets]
        df = Counter()
        for c in tfs:
            df.update(c.keys())
        for d in range(n):
            fx = 0
            for t in qterms:
                f = tfs[d].get(t, 0)
                if f:
                    idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                    wf = f * (BM25_K1 + 1.0) / (
                        f + BM25_K1 * (1.0 - BM25_B + BM25_B * dls[d] / avgdl)
                    )
                    fx += math.floor(idf * wf * 1e9)
            scores[d] = scores.get(d, 0) + fx
            if any(all(t in tfs[d] for t in b) for b in branches):
                out[d] = True
    return {d: scores[d] / 1e9 for d in out}


@pytest.mark.parametrize("query", ["the", "w000001 w000002", "qalias", "zzznope"])
def test_multifield_scored_matches_oracle(spark, mf_env, query):
    pdf, engines = mf_env
    got_df = multifield_scored(engines, query, SYN)
    got = {r["doc_id"]: r["score"] for r in got_df.collect()}
    exp = _mf_oracle(pdf, query)
    assert got == exp, query  # EXACT equality (fixed-point both sides)


def test_title_only_match_is_candidate(spark, mf_env):
    """A doc whose title contains the term but whose text... every title
    token is also a text token here, so instead verify cross-field score
    addition: score(multifield) >= score(text field alone)."""
    pdf, engines = mf_env
    q = "the"
    mf = {r["doc_id"]: r["score"] for r in multifield_scored(engines, q, SYN).collect()}
    single = engines["text"]
    res = single.search(q, limit=10**6, page=1)
    text_scores = dict(res["results"])
    for d, s in text_scores.items():
        assert mf[d] >= s - 1e-12


def test_condition_engine_filters_and_profiles(spark, mf_env):
    pdf, engines = mf_env
    attrs = spark.createDataFrame(
        [
            (int(d), ((d * 7919) % 18001) / 100.0 - 90.0,
             ((d * 104729) % 36001) / 100.0 - 180.0,
             f"cat{d % 4}", d % 3 == 0, int(len(pdf.text[d] or "")))
            for d in range(N)
        ],
        "doc_id long, lat double, lon double, category string, has_images boolean, n_chars long",
    )
    ce = ConditionEngine(engines, attrs=attrs, synonyms=SYN)

    # keyword + category + bool + comparison, bm25 profile
    res = ce.search(
        {"keyword": "the", "category": "cat1", "has_images": False,
         "filters": [("n_chars", ">=", 100)], "rank_profile": "bm25",
         "limit": 5, "page": 1}
    )
    exp_scores = _mf_oracle(pdf, "the")
    exp = sorted(
        (
            (-s, d)
            for d, s in exp_scores.items()
            if d % 4 == 1 and d % 3 != 0 and len(pdf.text[d] or "") >= 100
        ),
    )
    assert res["total_hits"] == len(exp)
    assert [d for d, _ in res["results"]] == [d for _, d in exp[:5]]

    # geo + closeness profile: every result within radius, ordered by km
    res = ce.search(
        {"keyword": "the", "geo": {"lat": 0.0, "lon": 0.0, "radius_km": 8000.0},
         "rank_profile": "closeness", "limit": 10, "page": 1}
    )
    import numpy as np

    lats = np.array([((d * 7919) % 18001) / 100.0 - 90.0 for d in range(N)])
    lons = np.array([((d * 104729) % 36001) / 100.0 - 180.0 for d in range(N)])
    rl, rg = np.radians(lats), np.radians(lons)
    a = np.sin((0 - rl) / 2) ** 2 + np.cos(rl) * 1.0 * np.sin((0 - rg) / 2) ** 2
    km = 2 * 6371.0 * np.arcsin(np.sqrt(a))
    exp_ids = sorted(
        (d for d in exp_scores if km[d] <= 8000.0), key=lambda d: (km[d], d)
    )
    assert res["total_hits"] == len(exp_ids)
    assert [d for d, _ in res["results"]] == exp_ids[:10]

    # validation: limit/page required
    with pytest.raises(ValueError):
        ce.search({"keyword": "x", "limit": 0, "page": 1})
    with pytest.raises(ValueError):
        ce.search({"keyword": "x", "rank_profile": "nope", "limit": 5, "page": 1})


def test_lsh_buckets_deterministic(spark):
    """Integer-LSH buckets/probes are pure functions of (seed, dim)."""
    from micce_search_engine_spark.operators.ann import (
        det_planes_int,
        hyperplane_buckets,
        query_probes,
    )

    p1, p2 = det_planes_int(4, 8), det_planes_int(4, 8)
    assert (p1 == p2).all()
    qv = [0.1, -0.2, 0.3, 0.05, -0.4, 0.2, 0.0, 0.9]
    probes = query_probes(qv, 8, n_planes=4, n_probes=4)
    assert probes == query_probes(qv, 8, n_planes=4, n_probes=4)
    assert len(set(probes)) == 4
    df = spark.createDataFrame([(1, qv)], "vec_id long, embedding array<float>")
    b = hyperplane_buckets(df, 8, n_planes=4).collect()[0]["bucket"]
    # query bucket of the same vector must equal the dataframe bucket
    assert probes[0] == b


def _mf_phrase_oracle(pdf, query, synonyms):
    """Brute-force phrase variant: candidacy = some branch's token
    sequence CONSECUTIVE in some field; score unchanged (cross-field
    fixed-point BM25 over all expanded terms)."""
    branches = expand_branches(query, synonyms)
    qterms = sorted({t for b in branches for t in b})
    fields = {"text": [tokenize_text(t) for t in pdf["text"]],
              "title": [tokenize_text(t) for t in pdf["title"]]}
    n = len(pdf)
    out = {}
    scores = {}
    for fname, toksets in fields.items():
        dls = [len(t) for t in toksets]
        avgdl = sum(dls) / n
        tfs = [Counter(t) for t in toksets]
        df = Counter()
        for c in tfs:
            df.update(c.keys())
        for d in range(n):
            fx = 0
            for t in qterms:
                f = tfs[d].get(t, 0)
                if f:
                    idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                    wf = f * (BM25_K1 + 1.0) / (
                        f + BM25_K1 * (1.0 - BM25_B + BM25_B * dls[d] / avgdl)
                    )
                    fx += math.floor(idf * wf * 1e9)
            scores[d] = scores.get(d, 0) + fx
            tk = toksets[d]
            for b in branches:
                m = len(b)
                if any(tk[i : i + m] == b for i in range(len(tk) - m + 1)):
                    out[d] = True
                    break
    return {d: scores[d] / 1e9 for d in out}


def test_multifield_phrase_matches_oracle(spark, tmp_path_factory):
    """Round-5: multi-word keywords phrase-match per field with the
    synonym-branch OR (whereQuery.go:43-57 x convertSpotNameQuery.go:
    11-17), through multifield_scored(phrase=True) and the
    ConditionEngine 'phrase' condition key."""
    syn = {"qalias": "the of"}
    pdf = gen_pages(N, seed=19).sort_values("url").reset_index(drop=True)
    pdf["title"] = [_title(t) for t in pdf["text"]]
    pdf["doc_id"] = range(N)
    pages = spark.createDataFrame(pdf[["url", "text", "title", "lang", "doc_id"]])
    base = str(tmp_path_factory.mktemp("mfp") / "idx")
    idxs = build_field_indexes(
        spark, pages, ["text", "title"], base, doc_id_col="doc_id",
        n_buckets=4, max_postings_per_row=10**9, with_positions=True,
    )
    engines = {f: SearchEngine(spark, d, synonyms=syn) for f, d in idxs.items()}
    for query in ["the of", "qalias", "w000001"]:
        got_df = multifield_scored(engines, query, syn, phrase=True)
        got = {r["doc_id"]: r["score"] for r in got_df.collect()}
        exp = _mf_phrase_oracle(pdf, query, syn)
        assert got == exp, query
        # phrase candidacy is a subset of bag-of-words candidacy
        bag = _mf_oracle(pdf, query, syn)
        assert set(got) <= set(bag), query
    # synonym OR: 'qalias' (absent as a token) still hits via "the of"
    assert _mf_phrase_oracle(pdf, "qalias", syn)
    # ConditionEngine surface
    ce = ConditionEngine(engines, synonyms=syn)
    res = ce.search({"keyword": "the of", "rank_profile": "bm25",
                     "limit": 5, "page": 1, "phrase": True})
    exp = _mf_phrase_oracle(pdf, "the of", syn)
    assert res["total_hits"] == len(exp)
    top = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert res["results"] == [(d, s) for d, s in top]


SYN_PHRASE = {"qalias": "the of"}


@pytest.fixture(scope="module")
def mf_lang_env(spark, tmp_path_factory):
    """Positional text and title indexes sharing doc ids, the title one
    built from the pages whose lang is not "de": the two fields' lang
    dictionaries then differ ("en" is id 1 in text, id 0 in title)."""
    pdf = gen_pages(N, seed=23).sort_values("url").reset_index(drop=True)
    pdf["title"] = [_title(t) for t in pdf["text"]]
    pdf["doc_id"] = range(N)
    sub = pdf[pdf["lang"] != "de"]
    base = str(tmp_path_factory.mktemp("mfl") / "idx")
    kw = dict(doc_id_col="doc_id", n_buckets=4, max_postings_per_row=10**9, with_positions=True)
    idxs = {}
    for field, part in (("text", pdf), ("title", sub)):
        pages = spark.createDataFrame(part[["url", "text", "title", "lang", "doc_id"]])
        idxs.update(build_field_indexes(spark, pages, [field], base, **kw))
    engines = {f: SearchEngine(spark, d, synonyms=SYN_PHRASE) for f, d in idxs.items()}
    assert engines["text"].langs != engines["title"].langs
    fields = {
        "text": pdf[["doc_id", "text"]],
        "title": sub[["doc_id", "title"]].rename(columns={"title": "text"}),
    }
    return pdf, fields, engines


def _fields_oracle(fields, query, synonyms, phrase=False):
    """Brute force over per-field corpora {field: (doc_id, text)}, each
    with its own N/avgdl/df: candidacy = some branch in some field (its
    tokens consecutive when ``phrase``); score = cross-field sum of
    fixed-point BM25 over all expanded terms."""
    branches = expand_branches(query, synonyms)
    qterms = sorted({t for b in branches for t in b})
    hits, scores = set(), Counter()
    for fpdf in fields.values():
        toks = [tokenize_text(t) for t in fpdf["text"]]
        avgdl = sum(map(len, toks)) / len(toks)
        tfs = [Counter(t) for t in toks]
        df = Counter(t for c in tfs for t in c)
        for d, tk, tf in zip(fpdf["doc_id"], toks, tfs):
            for t in qterms:
                if tf[t]:
                    idf = math.log((len(toks) - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                    wf = tf[t] * (BM25_K1 + 1.0) / (
                        tf[t] + BM25_K1 * (1.0 - BM25_B + BM25_B * len(tk) / avgdl)
                    )
                    scores[d] += math.floor(idf * wf * 1e9)
            for b in branches:
                if phrase:
                    m = any(tk[i : i + len(b)] == b for i in range(len(tk) - len(b) + 1))
                else:
                    m = all(t in tf for t in b)
                if m:
                    hits.add(d)
    return {d: scores[d] / 1e9 for d in hits}


def _final_plan(df) -> list[str]:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [ln.strip() for ln in plan.split("== Initial Plan ==")[0].splitlines()]


@pytest.mark.parametrize("phrase", [False, True])
def test_multifield_plan_is_one_evaluator_pass(spark, mf_lang_env, monkeypatch, phrase):
    """Bag and phrase queries over two fields decode each field once, in
    the evaluator's lang-carrying mode (never the lang-free ``score``
    mode), with no Aggregate: the fields' postings meet in one evaluator
    pass, not in per-field aggregates. A call that fits one task
    (``_one_task_fit``) reads them in ONE task (one ``Coalesce 1``, no
    Exchange); over that bound it runs one doc_id Exchange."""
    import micce_search_engine_spark.operators.batch_query as bq

    _, _, engines = mf_lang_env
    calls = []
    for f, eng in engines.items():

        def spy(terms, mode, block_join=None, f=f, orig=eng._segment_scan):
            calls.append((f, mode))
            return orig(terms, mode, block_join)

        monkeypatch.setattr(eng, "_segment_scan", spy)
    mode = "score_lang_pos" if phrase else "score_lang"

    def plan_and_exchanges():
        calls.clear()
        plan = _final_plan(multifield_scored(engines, "the of", SYN_PHRASE, phrase=phrase))
        assert not [ln for ln in plan if "Aggregate" in ln], plan
        assert sorted(calls) == [(f, mode) for f in sorted(engines)], calls
        return plan, [ln for ln in plan if "Exchange" in ln]

    plan, ex = plan_and_exchanges()
    assert not ex, plan
    assert [ln.lstrip("+- ") for ln in plan if "Coalesce" in ln] == ["Coalesce 1"], plan

    monkeypatch.setattr(bq, "_one_task_fit", lambda *args: None)
    plan, ex = plan_and_exchanges()
    assert len(ex) == 1 and "hashpartitioning(doc_id" in ex[0], plan
    assert not [ln for ln in plan if "Coalesce" in ln], plan


def test_multifield_one_task_matches_doc_id_shuffle(spark, mf_lang_env, monkeypatch):
    """The one-task shape and the doc_id shuffle (forced by a
    ``_one_task_fit`` that never fits) return the same rows for bag,
    synonym, phrase and lang-filtered calls."""
    import micce_search_engine_spark.operators.batch_query as bq

    _, _, engines = mf_lang_env
    cases = [("the of", None, False), ("qalias", None, False),
             ("the of", None, True), ("qalias", None, True),
             ("w000001 the", "de", False), ("the of", "en", True)]

    def run():
        return [
            sorted(multifield_scored(engines, q, SYN_PHRASE, lang_filter=lang,
                                     phrase=phrase).collect())
            for q, lang, phrase in cases
        ]

    one = run()
    assert all(one), [len(r) for r in one]
    monkeypatch.setattr(bq, "_one_task_fit", lambda *args: None)
    # and cut every Arrow batch into chunks at doc boundaries
    monkeypatch.setattr(bq, "_chunk_rows", lambda n_terms: 0)
    assert run() == one


@pytest.mark.parametrize("lang", ["en", "de", "ko"])
def test_multifield_lang_filter_matches_oracle(spark, mf_lang_env, lang):
    """A lang filter keeps exactly the lang's docs of the unfiltered
    bag and phrase results, scores unchanged, though the fields map the
    lang to different ids ("de" is absent from the title field). An
    unknown lang matches nothing."""
    pdf, fields, engines = mf_lang_env
    of_lang = set(pdf.loc[pdf["lang"] == lang, "doc_id"])
    for query, phrase in (("the", False), ("w000001 the", False), ("the of", True),
                          ("qalias", True)):
        got_df = multifield_scored(engines, query, SYN_PHRASE, lang_filter=lang, phrase=phrase)
        got = {r["doc_id"]: r["score"] for r in got_df.collect()}
        exp = {
            d: s
            for d, s in _fields_oracle(fields, query, SYN_PHRASE, phrase).items()
            if d in of_lang
        }
        assert got == exp and (exp or phrase), (query, lang)
    assert multifield_scored(engines, "the", SYN_PHRASE, lang_filter="xx").collect() == []


def test_condition_engine_lang_filter(spark, mf_lang_env):
    """ConditionEngine.search pages the lang-filtered multifield hits."""
    pdf, fields, engines = mf_lang_env
    ce = ConditionEngine(engines, synonyms=SYN_PHRASE)
    of_lang = set(pdf.loc[pdf["lang"] == "en", "doc_id"])
    exp = {d: s for d, s in _fields_oracle(fields, "the of", SYN_PHRASE, True).items()
           if d in of_lang}
    res = ce.search({"keyword": "the of", "lang_filter": "en", "rank_profile": "bm25",
                     "limit": 5, "page": 2, "phrase": True})
    top = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))
    assert res["total_hits"] == len(exp) > 10
    assert res["results"] == top[5:10]
