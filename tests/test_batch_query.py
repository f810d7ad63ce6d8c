"""Batched multi-query plan vs the single-query engine and the oracle:
same hits, same fixed-point scores, same totals/pagination — one
evaluator plan for N queries (SURVEY.md §2D)."""

import pytest

from micce_search_engine_spark.operators.batch_query import search_batch, totals_batch
from micce_search_engine_spark.operators.query import SearchEngine

SPECS = [
    {"query_id": 0, "query_text": "the", "lang_filter": None, "limit": 5, "page": 1},
    {"query_id": 1, "query_text": "w000002", "lang_filter": "ja", "limit": 10, "page": 1},
    {"query_id": 2, "query_text": "alias0", "lang_filter": None, "limit": 5, "page": 2},
    {"query_id": 3, "query_text": "zzznope", "lang_filter": None, "limit": 5, "page": 1},
    {"query_id": 4, "query_text": "the w000001", "lang_filter": "nolang", "limit": 5, "page": 1},
    {"query_id": 5, "query_text": "the of", "lang_filter": "de", "limit": 7, "page": 2},
]


@pytest.fixture(scope="module")
def pos_index(spark, tiny_pages_pdf, tmp_path_factory):
    """The tiny corpus indexed with positions, for phrase queries."""
    from micce_search_engine_spark.corpus import pages_spark_schema
    from micce_search_engine_spark.operators.index_build import build_index

    idx = str(tmp_path_factory.mktemp("batchphrase") / "idx")
    pages = spark.createDataFrame(tiny_pages_pdf, schema=pages_spark_schema())
    build_index(
        spark, pages, idx, n_buckets=4, max_postings_per_row=300, with_positions=True
    )
    return idx


def _phrase_spec(qid, text, limit=5, page=1, lang=None):
    return {"query_id": qid, "query_text": text, "lang_filter": lang,
            "limit": limit, "page": page, "phrase": True}


@pytest.fixture(scope="module")
def batch_env(spark, tiny_index, synonyms):
    eng = SearchEngine(spark, tiny_index, synonyms=synonyms)
    rows = search_batch(eng, SPECS).collect()
    totals = {r["query_id"]: r for r in totals_batch(eng, SPECS).collect()}
    return eng, rows, totals


def test_batch_matches_single_engine(batch_env):
    eng, rows, _ = batch_env
    for s in SPECS:
        got = sorted(
            ((r["doc_id"], r["score"]) for r in rows if r["query_id"] == s["query_id"]),
        )
        if s["lang_filter"] == "nolang":  # unknown lang -> zero hits
            assert got == []
            continue
        single = eng.search(
            s["query_text"], lang_filter=s["lang_filter"],
            limit=s["limit"], page=s["page"],
        )
        assert got == sorted(single["results"]), s  # EXACT score equality


def test_batch_rank_and_totals(batch_env, oracle, synonyms):
    eng, rows, totals = batch_env
    for s in SPECS:
        lf = None if s["lang_filter"] == "nolang" else s["lang_filter"]
        exp = oracle.search(
            s["query_text"], lang_filter=lf, limit=s["limit"], page=s["page"],
            synonyms=synonyms,
        )
        exp_total = 0 if s["lang_filter"] == "nolang" else exp["total_hits"]
        t = totals[s["query_id"]]
        assert t["total_hits"] == exp_total, s
        assert t["last_page"] == (exp_total - s["limit"] * s["page"] <= 0)
        qrows = sorted(
            (r for r in rows if r["query_id"] == s["query_id"]),
            key=lambda r: r["rank"],
        )
        if s["lang_filter"] == "nolang":
            assert qrows == []
            continue
        assert [r["doc_id"] for r in qrows] == [d for d, _ in exp["results"]], s
        for r in qrows:
            assert r["total_hits"] == exp_total


def test_batch_empty_query_set(spark, tiny_index, synonyms):
    eng = SearchEngine(spark, tiny_index, synonyms=synonyms)
    assert search_batch(eng, []).count() == 0
    specs = [{"query_id": 9, "query_text": "", "lang_filter": None, "limit": 5, "page": 1}]
    assert search_batch(eng, specs).count() == 0
    t = totals_batch(eng, specs).collect()
    assert t[0]["total_hits"] == 0 and t[0]["last_page"]


def test_batch_wand_topk_matches_exact(batch_env):
    """search_batch_topk (per-query block pruning) returns the exact
    same page windows and scores as the unpruned batch path."""
    from micce_search_engine_spark.operators.batch_query import search_batch_topk

    eng, rows, _ = batch_env
    wand = search_batch_topk(eng, SPECS).collect()
    exp = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in rows
    }
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in wand
    }
    assert got == exp


def test_batch_wand_adaptive_split_matches_exact(batch_env):
    """Round-5 adaptive engagement: whichever side of the engagement
    floor a query lands on (forced-all-engaged, forced-none, and a
    mixed split), the page windows are identical."""
    from micce_search_engine_spark.operators.batch_query import search_batch_topk

    eng, rows, _ = batch_env
    exp = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in rows}
    old = eng.wand_engage_factor
    try:
        for factor in (0, 10**9):
            eng.wand_engage_factor = factor
            got = {
                (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
                for r in search_batch_topk(eng, SPECS).collect()
            }
            assert got == exp, factor
        # mixed: pick a floor between the stopword's df-sum and the rare
        # terms' so the batch genuinely splits
        from micce_search_engine_spark import BLOCK_SIZE
        from micce_search_engine_spark.oracle import expand_branches

        sums = {}
        for q in SPECS:
            terms = {
                t for b in expand_branches(q["query_text"], eng.synonyms) for t in b
            }
            k = q["limit"] * q["page"]
            sums[q["query_id"]] = (
                sum(eng._df_cache.get(t, 0) for t in terms) / max(k * BLOCK_SIZE, 1)
            )
        mid = sorted(sums.values())[len(sums) // 2] or 1e-6
        eng.wand_engage_factor = mid
        engaged = [qid for qid, s in sums.items() if s >= mid]
        assert engaged and len(engaged) < len(SPECS)  # both paths exercised
        got = {
            (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
            for r in search_batch_topk(eng, SPECS).collect()
        }
        assert got == exp
    finally:
        eng.wand_engage_factor = old


def test_batch_phrase_flag(spark, pos_index, synonyms):
    """Round-5 phrase-in-batch: a phrase-flagged query's hits/totals in
    search_batch equal search_phrase; bag-of-words queries in the same
    batch are unaffected; totals_batch and search_batch_topk agree."""
    from micce_search_engine_spark.operators.batch_query import search_batch_topk

    eng = SearchEngine(spark, pos_index, synonyms=synonyms)
    specs = [
        {"query_id": 0, "query_text": "the of", "lang_filter": None,
         "limit": 5, "page": 1, "phrase": True},
        {"query_id": 1, "query_text": "the of", "lang_filter": None,
         "limit": 5, "page": 1},
        {"query_id": 2, "query_text": "the of", "lang_filter": "en",
         "limit": 5, "page": 1, "phrase": True},
    ]
    rows = search_batch(eng, specs).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q in by_q.values():
        q.sort(key=lambda r: r["rank"])

    sp = eng.search_phrase("the of", limit=5, page=1)
    got0 = [(r["doc_id"], r["score"]) for r in by_q[0]]
    assert got0 == sp["results"]
    assert by_q[0][0]["total_hits"] == sp["total_hits"]

    bag = eng.search("the of", limit=5, page=1)
    got1 = [(r["doc_id"], r["score"]) for r in by_q[1]]
    assert got1 == bag["results"]
    assert by_q[1][0]["total_hits"] == bag["total_hits"]
    assert bag["total_hits"] > sp["total_hits"]  # phrase strictly shrinks here

    spl = eng.search_phrase("the of", lang_filter="en", limit=5, page=1)
    got2 = [(r["doc_id"], r["score"]) for r in by_q[2]]
    assert got2 == spl["results"]
    assert by_q[2][0]["total_hits"] == spl["total_hits"]

    t = {r["query_id"]: r["total_hits"] for r in totals_batch(eng, specs).collect()}
    assert t == {0: sp["total_hits"], 1: bag["total_hits"], 2: spl["total_hits"]}

    wand = search_batch_topk(eng, specs).collect()
    gotw = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in wand}
    expw = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in rows}
    assert gotw == expw


def test_large_batch_matches_single_search(spark, tiny_index, synonyms, monkeypatch):
    """A batch of more than 256 queries (SPECS re-numbered), split into
    several driver-merge chunks, returns row for row what per-query
    search returns: same docs, scores, ranks, totals and last_page."""
    import micce_search_engine_spark.operators.batch_query as bq

    eng = SearchEngine(spark, tiny_index, synonyms=synonyms)
    copies = 50
    specs = [
        dict(s, query_id=c * len(SPECS) + s["query_id"])
        for c in range(copies)
        for s in SPECS
    ]
    # 8 shuffle partitions x (maxk 14 + 1) rows per query -> 64-query chunks
    monkeypatch.setattr(bq, "DRIVER_MERGE_MAX_ROWS", 8 * 15 * 64)
    rows = search_batch(eng, specs).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"], r["rank"], r["total_hits"], r["last_page"])
        )
    for s in SPECS:
        single = eng.search(
            s["query_text"], lang_filter=s["lang_filter"],
            limit=s["limit"], page=s["page"],
        )
        exp = [
            (d, sc, rank, single["total_hits"], single["last_page"])
            for rank, (d, sc) in enumerate(single["results"], start=1)
        ]
        for c in range(copies):
            assert by_q.get(c * len(SPECS) + s["query_id"], []) == exp, (c, s)


def test_single_term_chunks_fit_the_scan_partitions(spark, tiny_index, synonyms, monkeypatch):
    """The shuffle-free single-term plan runs one task per segment-scan
    partition, not per shuffle partition: its chunks must keep
    partitions x queries x (maxk + 1) rows under DRIVER_MERGE_MAX_ROWS
    for the real partition count, even with one shuffle partition. The
    tiny calls are pushed over the one-task bound."""
    import micce_search_engine_spark.operators.batch_query as bq

    monkeypatch.setattr(bq, "_chunk_rows", lambda n_terms: 0)
    eng = SearchEngine(spark, tiny_index, synonyms=synonyms)
    specs = [  # distinct terms spread over the buckets: several scan partitions
        {"query_id": i, "query_text": f"w{i:06d}", "lang_filter": None, "limit": 10, "page": 1}
        for i in range(24)
    ]
    plan, shape = bq._eval_plan(eng, specs, 10)
    assert shape == "single-term"
    n_parts = plan.rdd.getNumPartitions()
    assert n_parts > 1 and eng._scan_partitions >= n_parts
    expected = search_batch(eng, specs).collect()
    chunks = []
    reduce_ = bq._reduce

    def spy(engine, qs, k, sel):
        chunks.append(len(qs))
        return reduce_(engine, qs, k, sel)

    monkeypatch.setattr(bq, "_reduce", spy)
    monkeypatch.setattr(bq, "DRIVER_MERGE_MAX_ROWS", n_parts * 11 * 4)  # 4 queries
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        rows = search_batch(eng, specs).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert chunks and max(chunks) * n_parts * 11 <= bq.DRIVER_MERGE_MAX_ROWS
    assert sum(chunks) == len(specs) and sorted(rows) == sorted(expected)


def test_batch_entries_reject_bad_limit_page(spark, tiny_index, synonyms):
    from micce_search_engine_spark.operators.batch_query import search_batch_topk

    eng = SearchEngine(spark, tiny_index, synonyms=synonyms)
    for bad in ({"limit": 5, "page": 0}, {"limit": 0, "page": 1}):
        specs = [SPECS[0], dict(SPECS[1], **bad)]
        for entry in (search_batch, search_batch_topk, totals_batch):
            with pytest.raises(ValueError):
                entry(eng, specs)


def test_single_search_unknown_lang_matches_nothing(spark, tiny_index, synonyms):
    """lang_id_of maps an unknown lang to -1, which the evaluator reads
    as "no filter" — the batch-of-one compile must turn it into a
    filter that matches nothing."""
    eng = SearchEngine(spark, tiny_index, synonyms=synonyms)
    assert eng.search("the", limit=5, page=1)["total_hits"] > 0
    res = eng.search("the", lang_filter="nolang", limit=5, page=1)
    assert res == {"total_hits": 0, "last_page": True, "results": []}


def test_search_phrase_expands_synonyms(spark, pos_index):
    """search_phrase is a phrase-flagged batch of one: a synonym key
    expands to OR branches, each multi-token branch its own phrase,
    exactly as the same query in search_batch."""
    syn = {"qalias": "the of", "the of": "w000001 the"}
    eng = SearchEngine(spark, pos_index, synonyms=syn)
    for text in ("qalias", "the of"):
        rows = sorted(
            search_batch(eng, [_phrase_spec(7, text)]).collect(), key=lambda r: r["rank"]
        )
        got = eng.search_phrase(text, limit=5, page=1)
        assert rows and got["total_hits"] == rows[0]["total_hits"], text
        assert got["results"] == [(r["doc_id"], r["score"]) for r in rows], text
    plain = SearchEngine(spark, pos_index).search_phrase("the of", limit=5, page=1)
    # the extra "w000001 the" branch only adds hits
    assert eng.search_phrase("the of", limit=5, page=1)["total_hits"] >= plain["total_hits"] > 0


def test_phrase_docs_matches_a_loop():
    """The adjacency kernel against a per-doc scan of token streams, on
    random docs with repeated tokens and postings in shuffled order."""
    import numpy as np

    from micce_search_engine_spark.operators.batch_query import _phrase_docs

    rng = np.random.default_rng(5)
    # many docs share the longest length, so a doc's last position sits
    # right below the next doc's keys: a phrase must not run across docs
    streams = [rng.integers(0, 4, size=int(rng.choice([1, 7, 12]))) for _ in range(60)]
    postings = [  # (doc, term, positions): one per term present in a doc
        (d, t, np.flatnonzero(st == t)) for d, st in enumerate(streams) for t in np.unique(st)
    ]
    postings = [postings[i] for i in rng.permutation(len(postings))]
    inv = np.asarray([d for d, _, _ in postings])
    tids = np.asarray([t for _, t, _ in postings])
    pcnt = np.asarray([p.size for _, _, p in postings])
    pos = np.concatenate([p for _, _, p in postings])
    cand = rng.random(len(streams)) < 0.8
    for seq in ([0, 1], [1, 1], [2, 0, 3], [3, 3, 3], [0]):
        got = _phrase_docs(np.asarray(seq), cand, inv, tids, pcnt, pos)
        exp = [
            bool(cand[d]) and any(
                st[i : i + len(seq)].tolist() == seq for i in range(len(st) - len(seq) + 1)
            )
            for d, st in enumerate(streams)
        ]
        assert got.tolist() == exp, seq


def test_phrase_needs_positions(spark, tiny_index, synonyms):
    """A multi-token phrase on an index without positions raises
    RuntimeError at every entry; a 1-token phrase is bag-of-words."""
    from micce_search_engine_spark.operators.multifield import multifield_scored

    eng = SearchEngine(spark, tiny_index, synonyms=synonyms)
    with pytest.raises(RuntimeError):
        eng.search_phrase("the of", limit=5, page=1)
    with pytest.raises(RuntimeError):
        search_batch(eng, [_phrase_spec(0, "the of")])
    with pytest.raises(RuntimeError):
        multifield_scored({"text": eng}, "the of", {}, phrase=True)
    rows = search_batch(eng, [_phrase_spec(0, "the")]).collect()
    single = eng.search("the", limit=5, page=1)
    assert [(r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])] == (
        single["results"]
    )


def _final_plan(df) -> list[str]:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both plans
    return [ln.strip() for ln in final.splitlines()]


@pytest.mark.parametrize(
    "texts, n_exchanges",  # n_exchanges: over the one-task bound
    [
        (["the"], 0),  # one distinct term
        (["the", "of"], 0),  # a batch of single-term queries
        (["the of"], 1),  # multi-term
        (["alias0"], 1),  # synonym: two branches, two terms
        (['"the of"', "the"], 1),  # a phrase (quoted) and a term
    ],
)
def test_eval_plan_shape(request, spark, synonyms, monkeypatch, texts, n_exchanges):
    """A call whose postings fit one evaluation chunk (every call on the
    tiny index) reads its scan coalesced to ONE task, with no Exchange.
    Pushed over that bound, single-term calls run shuffle-free per scan
    partition and every other call repartitions the decoded postings by
    doc_id exactly once. Every shape decodes its terms in ONE segment
    scan — a phrase call too, whose decode also reads the position
    stream."""
    import micce_search_engine_spark.operators.batch_query as bq

    phrase = any(t.startswith('"') for t in texts)
    idx = request.getfixturevalue("pos_index" if phrase else "tiny_index")
    eng = SearchEngine(spark, idx, synonyms=synonyms)
    eng.phrase_block_factor = 10**9  # the unbounded plan: no block selection
    specs = [
        {"query_id": i, "query_text": t.strip('"'), "lang_filter": None, "limit": 10,
         "page": 1, "phrase": t.startswith('"')}
        for i, t in enumerate(texts)
    ]

    def shape_and_plan():
        df, shape = bq._eval_plan(eng, specs, 10)
        plan = _final_plan(df)
        scans = [ln for ln in plan if "FileScan parquet" in ln]
        assert len(scans) == 1, plan
        assert ("pos_blob" in scans[0]) == phrase, scans
        return shape, plan, [ln for ln in plan if "Exchange" in ln]

    shape, plan, ex = shape_and_plan()
    assert shape == "one task"
    assert not ex, ex
    assert [ln.lstrip("+- ") for ln in plan if "Coalesce" in ln] == ["Coalesce 1"], plan

    monkeypatch.setattr(bq, "_chunk_rows", lambda n_terms: 0)
    shape, plan, ex = shape_and_plan()
    assert shape == ("doc_id shuffle" if n_exchanges else "single-term")
    assert not [ln for ln in plan if "Coalesce" in ln], plan
    assert len(ex) == n_exchanges, ex
    assert all("hashpartitioning(doc_id" in ln for ln in ex), ex


@pytest.fixture(scope="module")
def salted_pos_index(spark, tiny_pages_pdf, tmp_path_factory):
    """The tiny corpus indexed with positions and a small
    max_postings_per_row, so hot terms split into several salted rows."""
    from micce_search_engine_spark.corpus import pages_spark_schema
    from micce_search_engine_spark.operators.index_build import build_index

    idx = str(tmp_path_factory.mktemp("batchsalted") / "idx")
    pages = spark.createDataFrame(tiny_pages_pdf, schema=pages_spark_schema())
    build_index(
        spark, pages, idx, n_buckets=4, max_postings_per_row=60, with_positions=True
    )
    return idx


def test_small_multi_term_search_runs_one_job(spark, tiny_index, synonyms):
    """A multi-term search whose postings fit one evaluation chunk runs
    ONE Spark job, on a pinned and on an unpinned index: no doc_id
    shuffle stage in front of the evaluator, and no listing or schema
    inference of the segments (resolved once, at open). A first call
    fills the engine's term-df cache and the pinned segments, as a
    serving engine's are filled."""
    sc = spark.sparkContext
    for preload in (True, False):
        eng = SearchEngine(spark, tiny_index, synonyms=synonyms, preload=preload)
        group = f"one-task-search-{preload}"
        try:
            first = eng.search("the of", limit=5, page=1)
            sc.setJobGroup(group, "one multi-term search")
            again = eng.search("the of", limit=5, page=1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            eng._segments.unpersist()
        assert again == first and first["total_hits"] > 0
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, preload


def test_small_phrase_skips_the_bound(spark, pos_index, synonyms):
    """A phrase call whose postings fit one evaluation chunk runs ONE
    Spark job, even where its df ratio meets ``phrase_block_factor``:
    the bound's rarest-term and metadata jobs cost more than the
    unbounded one-task decode they would bound."""
    sc = spark.sparkContext
    eng = SearchEngine(spark, pos_index, synonyms=synonyms)
    eng.phrase_block_factor = 0
    calls = []
    orig = eng._phrase_block_join
    eng._phrase_block_join = lambda seqs: calls.append(seqs) or orig(seqs)
    first = eng.search_phrase("the of", limit=5, page=1)
    try:
        sc.setJobGroup("small-phrase", "one small phrase search")
        again = eng.search_phrase("the of", limit=5, page=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert again == first and first["total_hits"] > 0
    assert calls == []
    assert len(sc.statusTracker().getJobIdsForGroup("small-phrase")) == 1


def test_queries_do_not_reopen_the_segments(spark, pos_index, synonyms, monkeypatch):
    """An unpinned engine resolves the segments relation once, at open:
    no search entry point reads parquet again — the single, phrase
    (block bound engaged), batch and WAND-pruned (probe engaged) paths
    each filter the relation the engine holds."""
    from pyspark.sql.readwriter import DataFrameReader

    import micce_search_engine_spark.operators.batch_query as bq
    from micce_search_engine_spark.operators.batch_query import search_batch_topk

    eng = SearchEngine(spark, pos_index, synonyms=synonyms)
    monkeypatch.setattr(bq, "_chunk_rows", lambda n_terms: 0)  # the bound engages
    eng.phrase_block_factor = 0
    eng.wand_engage_factor = 0
    reads = []
    orig = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        reads.append(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    assert eng.search("the of", limit=5, page=1)["results"]
    assert eng.search_phrase("the of", limit=5, page=1)["results"]
    assert search_batch(eng, SPECS).collect()
    assert search_batch_topk(eng, SPECS[:3]).collect()
    assert reads == []


def test_one_task_matches_doc_id_shuffle(spark, salted_pos_index, monkeypatch):
    """Every call on the tiny index fits one evaluation chunk. The same
    calls pushed over that bound (the doc_id shuffle; the single-term
    plan for a single-term call) return the same pages and totals:
    multi-term, synonym OR branches, lang filter, phrases with and
    without the block bound, a salted hot term and topk_only (with WAND
    engaged)."""
    import micce_search_engine_spark.operators.batch_query as bq

    eng = SearchEngine(spark, salted_pos_index, synonyms={"of the": "w000002 the"})
    segs = spark.read.parquet(eng.paths.segments)
    assert segs.filter("term = 'the'").count() > 3  # "the" is salted
    wand_factor = eng.wand_engage_factor
    specs = [
        {"query_id": 0, "query_text": "the of", "lang_filter": None, "limit": 5, "page": 1},
        {"query_id": 1, "query_text": "of the", "lang_filter": None, "limit": 4, "page": 2},
        {"query_id": 2, "query_text": "the w000001", "lang_filter": "de", "limit": 5, "page": 1},
        _phrase_spec(3, "the of", limit=3, page=2),
        {"query_id": 4, "query_text": "the", "lang_filter": None, "limit": 3, "page": 3},
    ]
    shapes = []
    eval_plan = bq._eval_plan

    def spy(*args, **kwargs):
        out = eval_plan(*args, **kwargs)
        shapes.append(out[1])
        return out

    monkeypatch.setattr(bq, "_eval_plan", spy)

    def run():
        out = [sorted(search_batch(eng, specs).collect())]
        for factor in (0, 10**9):  # phrase: bounded, then unbounded decode
            eng.phrase_block_factor = factor
            out.append(eng.search_phrase("the of", limit=5, page=2))
        eng.phrase_block_factor = SearchEngine.phrase_block_factor
        out.append(eng.search("of the", lang_filter="en", limit=5, page=1))
        eng.wand_engage_factor = 0
        out.append(eng.search("the of", limit=5, page=2, topk_only=True))
        out.append(eng.search("the", limit=5, page=1, topk_only=True))
        eng.wand_engage_factor = wand_factor
        return out

    one = run()
    assert set(shapes) == {"one task"}, shapes
    assert one[0] and all(r["results"] for r in one[1:]), one
    shapes.clear()
    monkeypatch.setattr(bq, "_chunk_rows", lambda n_terms: 0)
    over = run()
    assert "one task" not in shapes and {"doc_id shuffle", "single-term"} <= set(shapes)
    assert over == one


def test_reduce_labels_its_jobs_with_the_shape(
    spark, tiny_index, pos_index, synonyms, monkeypatch
):
    """_reduce describes its jobs as ``search: <shape>``, and
    ConditionEngine.search its collect as ``search: condition``; the
    jobs before the evaluation are ``search: phrase bound`` (the phrase
    block selection) and ``search: wand probe`` (the WAND bound
    aggregate). Each restores the caller's description, also when the
    evaluation fails."""
    import micce_search_engine_spark.operators.batch_query as bq
    from micce_search_engine_spark.operators.multifield import ConditionEngine

    eng = SearchEngine(spark, tiny_index, synonyms=synonyms)
    ce = ConditionEngine({"text": eng}, synonyms=synonyms)
    cond = {"keyword": "the of", "rank_profile": "bm25", "limit": 5, "page": 1}
    sc = spark.sparkContext
    seen = []
    merge = bq._merge_reduced

    def spy(plan):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return merge(plan)

    def boom(plan):
        raise RuntimeError("evaluation failed")

    def labelled(obj, name):
        orig = getattr(obj, name)

        def wrapped(*args):
            seen.append(sc.getLocalProperty("spark.job.description"))
            return orig(*args)

        monkeypatch.setattr(obj, name, wrapped)

    monkeypatch.setattr(bq, "_merge_reduced", spy)
    sc.setJobDescription("caller")
    try:
        eng.search("the of", limit=5, page=1)
        ce.search(cond)
        peng = SearchEngine(spark, pos_index, synonyms=synonyms)
        peng.phrase_block_factor = 0
        labelled(peng, "_phrase_block_join")
        with monkeypatch.context() as m:  # the bound engages over one chunk
            m.setattr(bq, "_chunk_rows", lambda n_terms: 0)
            peng.search_phrase("the of", limit=5, page=1)
        assert sc.getLocalProperty("spark.job.description") == "caller"
        peng.wand_engage_factor = 0
        labelled(peng, "_term_ub_and_best")
        peng.search("the of", limit=5, page=1, topk_only=True)
        assert sc.getLocalProperty("spark.job.description") == "caller"
        monkeypatch.setattr(bq, "_chunk_rows", lambda n_terms: 0)
        eng.search("the", limit=5, page=1)
        eng.search("the of", limit=5, page=1)
        assert sc.getLocalProperty("spark.job.description") == "caller"
        monkeypatch.setattr(bq, "_merge_reduced", boom)
        with pytest.raises(RuntimeError):
            eng.search("the of", limit=5, page=1)
        assert sc.getLocalProperty("spark.job.description") == "caller"
        with pytest.raises(RuntimeError):
            ce.search(cond)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    assert seen == [
        "search: one task", "search: condition",
        "search: phrase bound", "search: doc_id shuffle",
        "search: wand probe", "search: one task", "search: one task",
        "search: single-term", "search: doc_id shuffle",
    ]


def test_sql_in_matches_isin(spark):
    """_sql_in quotes ' and \\ so every value matches exactly what
    Column.isin matches; an empty list matches nothing."""
    from pyspark.sql import functions as F

    from micce_search_engine_spark.operators.query import _sql_in

    want = ["a'b", "c\\d", "\\'", "'", "\\", "東京", "x\\n", "''", "plain"]
    rows = want + ["ab", "cd", "x\n", "n", "東", "京都", "a\\'b", ""]
    df = spark.createDataFrame([(v, i) for i, v in enumerate(rows)], "term string, i int")

    def got(cond):
        return sorted(r["term"] for r in df.filter(cond).collect())

    assert got(_sql_in("term", want)) == got(F.col("term").isin(want)) == sorted(want)
    assert got(_sql_in("i", [0, 3, 99])) == sorted([rows[0], rows[3]])
    assert got(_sql_in("term", [])) == [] == got(_sql_in("i", []))


def test_segments_for_keeps_pushed_filters(spark, tiny_index):
    """The scan filters built by _sql_in still prune: on parquet the
    bucket IN is a partition filter and the term IN a pushed filter;
    on the pinned cache both are InMemoryTableScan predicates."""
    import re

    terms = ["of", "the", "w000003"]  # buckets 2, 6, 4 of 8
    for preload in (False, True):
        eng = SearchEngine(spark, tiny_index, preload=preload)
        try:
            plan = _final_plan(eng._segments_for(terms, ["term", "salt"]))
        finally:
            if preload:
                eng._segments.unpersist()
        text = "\n".join(plan)
        if preload:
            scan = next(ln for ln in plan if "InMemoryTableScan" in ln)
            assert re.search(r"bucket#\d+ IN \(2,4,6\)", scan), scan
            assert re.search(r"term#\d+ IN \(of,the,w000003\)", scan), scan
        else:
            assert re.search(r"PartitionFilters: \[[^\]]*bucket#\d+ IN \(2,4,6\)", text), text
            assert re.search(r"PushedFilters: \[[^\]]*In\(term, \[of,the,w000003\]\)", text), text
