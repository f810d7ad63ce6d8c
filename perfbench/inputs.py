"""Seeded benchmark inputs, generated here rather than by the package.

The corpus follows the FIXTURES.md generation rules (lognormal doc
lengths around 120 tokens, Zipf s=1.07 over a 50k-word vocab, 35%
stopwords per position, 2% empty and 1% null text, 5% null html, lang
mix 70/15/10/5 by ``i % 100``). Keeping the generator inside the
benchmark means a change to the package cannot change what is measured.

Query streams cycle through a fixed table of ten slots, so every run
sees the same mix of query shapes and only the terms depend on the seed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

VOCAB_SIZE = 50_000
STOPWORDS = ["the", "a", "of", "to", "in", "and", "is", "for", "on", "with"]
LANGS = ["en", "ja", "ko", "de"]
SYNONYMS = {f"alias{k}": f"w{k:06d}" for k in range(50)}
LIMITS = (5, 10, 20)
PAGES = (1, 2, 3)

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

# (shape, n_terms, lang filter?) per slot: 1 synonym, 4 lang-filtered,
# 1 phrase among the 5 multi-term slots. Slots 0-4 hold one query of
# each shape, so even a short run measures all five.
QUERY_SLOTS = [
    ("synonym", 1, False),
    ("multi_term", 2, False),
    ("lang", 1, True),
    ("phrase", 2, False),
    ("single_term", 1, False),
    ("lang", 3, True),
    ("lang", 1, True),
    ("multi_term", 2, False),
    ("lang", 4, True),
    ("single_term", 1, False),
]
SHAPES = ("single_term", "multi_term", "synonym", "lang", "phrase")

_VOCAB = np.array([f"w{i:06d}" for i in range(VOCAB_SIZE)])
_P = 1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** 1.07
_ZIPF = _P / _P.sum()


def url_of(i: int) -> str:
    return f"https://site{i // 10}.example/page{i}"


def lang_of(i: int) -> str:
    m = i % 100
    return "en" if m < 70 else "ja" if m < 85 else "ko" if m < 95 else "de"


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = np.clip(
        np.round(rng.lognormal(mean=np.log(120.0), sigma=0.6, size=n)).astype(int), 1, 2000
    )
    total = int(lengths.sum())
    words = _VOCAB[rng.choice(VOCAB_SIZE, size=total, p=_ZIPF)]
    stop = rng.random(total) < 0.35
    flat = np.where(stop, np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), size=total)], words)
    off = np.concatenate(([0], np.cumsum(lengths)))
    return [" ".join(flat[off[k] : off[k + 1]]) for k in range(n)]


def gen_pages(n: int, seed: int, start: int = 0) -> pd.DataFrame:
    """``n`` pages with row indexes ``start .. start+n-1``."""
    rng = np.random.default_rng(seed)
    idx = range(start, start + n)
    texts = _texts(rng, n)
    text_draw = rng.random(n)
    html_draw = rng.random(n)
    text = [
        "" if d < 0.02 else None if d < 0.03 else t for t, d in zip(texts, text_draw)
    ]
    html = [
        None if h < 0.05 else b"<html><body>" + (t or "").encode() + b"</body></html>"
        for t, h in zip(text, html_draw)
    ]
    return pd.DataFrame(
        {
            "url": [url_of(i) for i in idx],
            "warc_ts": pd.Timestamp("2024-01-01") + pd.to_timedelta([i * 37 for i in idx], unit="s"),
            "html": html,
            "text": text,
            "lang": [lang_of(i) for i in idx],
        }
    )


def pages_table(pdf: pd.DataFrame) -> pa.Table:
    return pa.Table.from_pandas(pdf, schema=PAGES_SCHEMA, preserve_index=False)


def text_bytes(pdf: pd.DataFrame) -> int:
    return sum(len(t.encode()) for t in pdf["text"] if isinstance(t, str))


def _phrase_window(rng, texts: list[str], n_terms: int) -> str:
    """``n_terms`` adjacent tokens from a random non-empty document, so a
    phrase query has at least one hit."""
    while True:
        toks = texts[int(rng.integers(0, len(texts)))]
        toks = toks.split() if toks else []
        if len(toks) >= n_terms:
            s = int(rng.integers(0, len(toks) - n_terms + 1))
            return " ".join(toks[s : s + n_terms])


def gen_queries(n: int, seed: int, texts: list[str], first_id: int = 0) -> list[dict]:
    """``n`` query specs (the ``search_batch`` dict shape plus ``shape``)."""
    rng = np.random.default_rng(seed)
    out = []
    for qid in range(first_id, first_id + n):
        shape, n_terms, with_lang = QUERY_SLOTS[qid % len(QUERY_SLOTS)]
        if shape == "synonym":
            text = f"alias{int(rng.integers(0, len(SYNONYMS)))}"
        elif shape == "phrase":
            text = _phrase_window(rng, texts, n_terms)
        else:
            # distinct terms: a repeated term would turn a multi-term
            # slot into a single-term query and change the shape mix
            terms: list[str] = []
            while len(terms) < n_terms:
                t = str(_VOCAB[rng.choice(VOCAB_SIZE, p=_ZIPF)])
                if rng.random() < 0.2:
                    t = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
                if t not in terms:
                    terms.append(t)
            text = " ".join(terms)
        out.append(
            {
                "query_id": qid,
                "query_text": text,
                "lang_filter": LANGS[int(rng.integers(0, 4))] if with_lang else None,
                "limit": LIMITS[qid % 3],
                "page": PAGES[(qid // 3) % 3],
                "shape": shape,
            }
        )
    return out


def gen_delta(pages: pd.DataFrame, seed: int, k: int, next_i: int) -> tuple[pd.DataFrame, str]:
    """Delta ``k`` against the current ``pages``: 50 text rewrites, 40
    new urls (row indexes from ``next_i``) and 10 lang-only rows with
    null text (omit-nil). Every rewritten and new text carries a marker
    token that occurs nowhere else; returns (updates, marker)."""
    rng = np.random.default_rng([seed, k])
    marker = f"fresh{seed}x{k}"
    picked = rng.choice(len(pages), size=60, replace=False)
    rewrite_urls = pages["url"].to_numpy()[picked[:50]]
    lang_rows = pages.iloc[picked[50:]]
    texts = [f"{t} {marker}" for t in _texts(rng, 90)]
    new_idx = range(next_i, next_i + 40)
    rows = {
        "url": list(rewrite_urls) + [url_of(i) for i in new_idx] + list(lang_rows["url"]),
        "text": texts + [None] * 10,
        "lang": [None] * 50
        + [lang_of(i) for i in new_idx]
        + [LANGS[(LANGS.index(l) + 1) % len(LANGS)] for l in lang_rows["lang"]],
    }
    return pd.DataFrame(rows), marker


def merge_omit_nil(pages: pd.DataFrame, updates: pd.DataFrame) -> pd.DataFrame:
    """Expected corpus after an upsert: a null update column keeps the
    old value; unmatched update rows are inserted."""
    cur = pages.set_index("url")
    upd = updates.set_index("url")
    new = upd.index.difference(cur.index)
    add = pd.DataFrame(
        {"warc_ts": pd.NaT, "html": None, "text": upd.loc[new, "text"], "lang": upd.loc[new, "lang"]},
        index=new,
    )
    cur = pd.concat([cur, add[cur.columns]])
    for col in ("text", "lang"):
        vals = upd[col].dropna()
        cur.loc[vals.index, col] = vals
    return cur.rename_axis("url").reset_index()
