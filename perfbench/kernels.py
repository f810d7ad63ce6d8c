"""Spark-free timings of the tokenizer and posting-codec kernels.

Inputs come from the workload's own corpus and, for decode, from the
segment rows the workload's index holds for its query terms. Each
kernel repeats until it has run for ``min_s`` and reports the median
repeat.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from micce_search_engine_spark import BM25_B, BM25_K1
from micce_search_engine_spark.functions.codec import bm25_wf, decode_postings, encode_many
from micce_search_engine_spark.functions.tokenize import tokenize_text

SAMPLE_DOCS = 2000
_BLOBS = ("doc_blob", "tf_blob", "dl_blob", "lang_blob", "pos_blob")


def _median_time(fn, min_s: float) -> float:
    times = []
    t_end = time.perf_counter() + min_s
    while not times or time.perf_counter() < t_end or len(times) < 3:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _postings(token_lists: list[list[str]], langs: list[int]):
    """Per-term posting arrays (term-major, doc ids ascending) with
    positions, in the ``encode_many`` layout of a positional build."""
    pairs = pd.DataFrame(
        {
            "doc": np.repeat(np.arange(len(token_lists)), [len(t) for t in token_lists]),
            "term": [t for toks in token_lists for t in toks],
            "pos": [i for toks in token_lists for i in range(len(toks))],
        }
    ).sort_values(["term", "doc", "pos"], kind="stable")
    tf = pairs.groupby(["term", "doc"], sort=True).size().reset_index(name="tf")
    dls = np.array([len(t) for t in token_lists], dtype=np.int64)
    docs = tf["doc"].to_numpy(np.int64)
    tfs = tf["tf"].to_numpy(np.int64)
    dl = dls[docs]
    wf = bm25_wf(tfs, dl, float(dls.mean()), BM25_K1, BM25_B)
    bounds = np.flatnonzero(np.r_[True, tf["term"].to_numpy()[1:] != tf["term"].to_numpy()[:-1]])
    ends = np.r_[bounds[1:], len(docs)]
    lang = np.asarray(langs, dtype=np.int64)[docs]
    return bounds, ends, docs, tfs, dl, wf, lang, pairs["pos"].to_numpy(np.int64)


def kernel_metrics(texts: list[str], lang_ids: list[int], segments_dir: str, terms, min_s=0.3):
    sample = texts[:SAMPLE_DOCS]
    toks = [tokenize_text(t) for t in sample]
    n_tok = sum(len(t) for t in toks)
    tok_s = _median_time(lambda: [tokenize_text(t) for t in sample], min_s)

    args = _postings(toks, lang_ids[:SAMPLE_DOCS])
    n_post = len(args[2])
    enc_s = _median_time(lambda: encode_many(*args), min_s)
    rows = encode_many(*args)
    enc_bytes = sum(len(r[b]) for r in rows for b in _BLOBS)

    seg = pq.read_table(segments_dir, filters=[("term", "in", sorted(set(terms)))]).to_pylist()
    n_dec = sum(sum(r["block_n"]) for r in seg)
    dec_s = _median_time(lambda: [decode_postings(r, want_lang=True) for r in seg], min_s)
    return {
        "tokenize.ns_per_token": tok_s / n_tok * 1e9,
        "codec.encode_ns_per_posting": enc_s / n_post * 1e9,
        "codec.bytes_per_posting": enc_bytes / n_post,
        "codec.decode_ns_per_posting": dec_s / max(n_dec, 1) * 1e9,
    }
