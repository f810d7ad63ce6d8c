"""Result checks against the package's ``BruteForceBM25`` oracle.

``serve`` compares doc ids exactly: before any upsert, doc ids are the
url rank on both sides. After upserts new urls get appended ids, so
equal scores can tie-break differently; ``ingest`` therefore compares
urls, and lets a url stand wherever the oracle gives it the same score.
"""

from __future__ import annotations

from micce_search_engine_spark.functions.tokenize import tokenize_text

SCORE_TOL = 1e-9


def _has_phrase(tokens: list[str], q: list[str]) -> bool:
    m = len(q)
    return any(tokens[i : i + m] == q for i in range(len(tokens) - m + 1))


def oracle_all(oracle, spec: dict, synonyms: dict) -> list[tuple[int, float]]:
    """Every hit of ``spec`` in rank order (phrase specs: the AND hits
    whose token stream holds the phrase, same BM25 scores)."""
    full = oracle.search(
        spec["query_text"],
        lang_filter=spec["lang_filter"],
        limit=max(oracle.N, 1),
        page=1,
        synonyms=None if spec.get("phrase") else synonyms,
    )["results"]
    if spec.get("phrase"):
        q = tokenize_text(spec["query_text"])
        full = [(d, s) for d, s in full if _has_phrase(oracle.tokens[d], q)]
    return full


def _window(hits: list, spec: dict) -> list:
    lo = spec["limit"] * (spec["page"] - 1)
    return hits[lo : lo + spec["limit"]]


def same_ids(got: dict, hits: list[tuple[int, float]], spec: dict) -> bool:
    """Exact (doc_id, score) ranking and total against the oracle."""
    exp = _window(hits, spec)
    return (
        got["total_hits"] == len(hits)
        and [d for d, _ in got["results"]] == [d for d, _ in exp]
        and all(abs(a - b) <= SCORE_TOL for (_, a), (_, b) in zip(got["results"], exp))
    )


def same_urls(got: dict, hits: list[tuple[int, float]], spec: dict, got_url, exp_url) -> bool:
    """Tie-insensitive ranking check by url: totals and the window's
    scores match position by position, and every returned url has that
    score in the oracle."""
    exp = _window(hits, spec)
    if got["total_hits"] != len(hits) or len(got["results"]) != len(exp):
        return False
    score_of = {exp_url[d]: s for d, s in hits}
    urls = [got_url[d] for d, _ in got["results"]]
    return len(set(urls)) == len(urls) and all(
        abs(s - e) <= SCORE_TOL and u in score_of and abs(score_of[u] - s) <= SCORE_TOL
        for u, (_, s), (_, e) in zip(urls, got["results"], exp)
    )


def batch_results(pdf, query_id: int) -> dict | None:
    """One query's rows of a ``search_batch`` frame as a ``search``-shaped
    dict; None when the query returned no rows (an empty page)."""
    rows = pdf[pdf["query_id"] == query_id].sort_values("rank")
    if rows.empty:
        return None
    return {
        "total_hits": int(rows["total_hits"].iloc[0]),
        "results": list(zip(rows["doc_id"].astype(int), rows["score"].astype(float))),
    }
