"""Kernel-level regression tests for the round-6 grouped boundary
shapes: the JVM-grouped posting encoder (_make_grouped_encoder must be
bit-identical to per-group encode_postings) and the batch driver-merge
pager (_paged_pdf must reproduce the per-Row sort/slice loop it
replaced). Pure-python — no SparkSession."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from micce_search_engine_spark import BM25_B, BM25_K1
from micce_search_engine_spark.functions.codec import bm25_wf, encode_postings
from micce_search_engine_spark.operators.batch_query import _paged_pdf
from micce_search_engine_spark.operators.index_build import (
    _make_grouped_encoder,
    bucket_of,
)

AVGDL = 97.5
N_BUCKETS = 8


def _mk_groups(rng, n_groups, with_positions, big_group_rows=0):
    """Random (term, salt) groups with doc_id-ascending arrays — the
    _grouped_postings row contract. One optional large 'salted' group
    mimics a Zipf-head sub-list."""
    groups = []
    for gi in range(n_groups):
        n = int(rng.integers(1, 40))
        if big_group_rows and gi == 0:
            n = big_group_rows
        docs = np.sort(rng.choice(10**6, size=n, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 6, size=n).astype(np.int64)
        dls = rng.integers(1, 300, size=n).astype(np.int64)
        langs = rng.integers(0, 4, size=n).astype(np.int64)
        g = {
            "term": f"t{gi:04d}",
            "salt": int(rng.integers(0, 3)),
            "docs": docs,
            "tfs": tfs,
            "dls": dls,
            "langs": langs,
        }
        if with_positions:
            # exactly tf ascending positions per posting
            g["poss"] = [
                np.sort(rng.choice(500, size=int(t), replace=False)).astype(np.int64)
                for t in tfs
            ]
        groups.append(g)
    return groups


def _to_batch(groups, with_positions):
    cols = {
        "term": pa.array([g["term"] for g in groups], type=pa.string()),
        "salt": pa.array([g["salt"] for g in groups], type=pa.int32()),
        "docs": pa.array([g["docs"].tolist() for g in groups], type=pa.list_(pa.int64())),
        "tfs": pa.array([g["tfs"].tolist() for g in groups], type=pa.list_(pa.int64())),
        "dls": pa.array([g["dls"].tolist() for g in groups], type=pa.list_(pa.int64())),
        "langs": pa.array([g["langs"].tolist() for g in groups], type=pa.list_(pa.int64())),
    }
    if with_positions:
        cols["poss"] = pa.array(
            [[p.tolist() for p in g["poss"]] for g in groups],
            type=pa.list_(pa.list_(pa.int32())),
        )
    return pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols.keys()))


@pytest.mark.parametrize("with_positions", [False, True])
def test_grouped_encoder_matches_encode_postings(with_positions):
    rng = np.random.default_rng(7)
    groups = _mk_groups(rng, 25, with_positions, big_group_rows=700)
    batch = _to_batch(groups, with_positions)
    enc = _make_grouped_encoder(AVGDL, N_BUCKETS, with_positions)
    out = list(enc(iter([batch])))
    assert len(out) == 1
    rows = out[0].to_pylist()
    assert len(rows) == len(groups)
    for g, row in zip(groups, rows):
        wf = bm25_wf(g["tfs"], g["dls"], AVGDL, BM25_K1, BM25_B)
        exp = encode_postings(
            g["docs"],
            g["tfs"],
            wf,
            dls=g["dls"],
            langs=g["langs"],
            positions=(list(g["poss"]) if with_positions else None),
        )
        assert row["term"] == g["term"]
        assert row["salt"] == g["salt"]
        assert row["bucket"] == bucket_of(g["term"], N_BUCKETS)
        for k, v in exp.items():
            got = row[k]
            got = bytes(got) if isinstance(v, bytes) else got
            assert got == v, f"field {k} differs for {g['term']}"


def test_grouped_encoder_skips_empty_batches():
    enc = _make_grouped_encoder(AVGDL, N_BUCKETS, False)
    empty = _to_batch(_mk_groups(np.random.default_rng(1), 1, False), False).slice(0, 0)
    assert list(enc(iter([empty]))) == []


def _loop_paged(pdf, queries, totals):
    """The pre-round-6 per-Row reference implementation."""
    rows = list(pdf.itertuples())
    by_q = {}
    for r in rows:
        by_q.setdefault(int(r.query_id), []).append(r)
    out = []
    for q in queries:
        qid = int(q["query_id"])
        limit, page = int(q["limit"]), int(q["page"])
        sub = sorted(by_q.get(qid, []), key=lambda r: (-r.score, r.doc_id))
        lo = limit * (page - 1)
        for rk, r in enumerate(sub[lo : limit * page], start=1):
            rec = (qid, int(r.doc_id), float(r.score), rk)
            if totals is not None:
                total = int(totals.get(qid, 0))
                rec = rec + (total, total - limit * page <= 0)
            out.append(rec)
    return out


@pytest.mark.parametrize("with_totals", [False, True])
def test_paged_pdf_matches_loop(with_totals):
    rng = np.random.default_rng(11)
    n = 5000
    pdf = pd.DataFrame(
        {
            "query_id": rng.integers(0, 12, size=n).astype(np.int64),
            "doc_id": rng.choice(10**6, size=n, replace=False).astype(np.int64),
            # duplicate score values across docs exercise the doc_id
            # tie-break
            "score": rng.integers(0, 50, size=n).astype(np.float64) / 7.0,
        }
    )
    queries = [
        {"query_id": qid, "limit": int(rng.integers(1, 8)), "page": int(rng.integers(1, 4))}
        for qid in range(14)  # 12-13 have no candidate rows
    ]
    totals = {qid: int(rng.integers(0, 900)) for qid in range(12)} if with_totals else None
    got = _paged_pdf(pdf, queries, totals=totals)
    exp = _loop_paged(pdf, queries, totals)
    got_rows = [tuple(r) for r in got.itertuples(index=False)]
    exp_rows = [
        (r[0], r[1], r[2], r[3]) + ((r[4], bool(r[5])) if with_totals else ())
        for r in exp
    ]
    assert len(got_rows) == len(exp_rows)
    for a, b in zip(got_rows, exp_rows):
        assert int(a[0]) == b[0] and int(a[1]) == b[1] and a[2] == b[2] and int(a[3]) == b[3]
        if with_totals:
            assert int(a[4]) == b[4] and bool(a[5]) == b[5]


def test_paged_pdf_window_stays_inside_its_query():
    """ADVICE #1: page=0 put lo = left - limit, so query 2's window
    reached back into query 1's rows (docs 11 and 12 under id 2)."""
    pdf = pd.DataFrame(
        {"query_id": [1, 1, 2], "doc_id": [11, 12, 21], "score": [2.0, 1.0, 3.0]}
    )
    queries = [
        {"query_id": 1, "limit": 2, "page": 1},
        {"query_id": 2, "limit": 2, "page": 0},
    ]
    got = _paged_pdf(pdf, queries, totals=None)
    assert list(zip(got["query_id"], got["doc_id"])) == [(1, 11), (1, 12)]
    assert [tuple(r) for r in _loop_paged(pdf, queries, None)] == [
        (1, 11, 2.0, 1),
        (1, 12, 1.0, 2),
    ]
