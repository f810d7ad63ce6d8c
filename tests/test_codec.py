"""Property tests for the posting codec (SURVEY.md §5 item 1)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from micce_search_engine_spark.functions.codec import (
    decode_postings,
    encode_many,
    encode_postings,
    merge_encoded,
    varbyte_decode,
    varbyte_encode,
)


@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500)
)
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(arr)), arr)


@given(
    st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=1000),
    st.randoms(use_true_random=False),
)
@settings(max_examples=100, deadline=None)
def test_postings_roundtrip(docset, rng):
    docs = np.array(sorted(docset), dtype=np.int64)
    tfs = np.array([rng.randint(1, 50) for _ in docs], dtype=np.int64)
    wf = tfs * 2.2 / (tfs + 1.0)
    enc = encode_postings(docs, tfs, wf)
    d, t, dl = decode_postings(enc)
    assert np.array_equal(d, docs)
    assert np.array_equal(t, tfs)
    assert np.array_equal(dl, np.zeros_like(tfs))
    assert enc["df"] == len(docs)
    assert enc["cf"] == int(tfs.sum())


def test_block_subset_decode():
    docs = np.arange(0, 1000, 3, dtype=np.int64)  # 334 docs -> 3 blocks
    tfs = (docs % 7 + 1).astype(np.int64)
    enc = encode_postings(docs, tfs, tfs.astype(float), docs + 1)
    n_blocks = len(enc["block_first_doc"])
    assert n_blocks == 3
    mask = np.zeros(n_blocks, dtype=bool)
    mask[1] = True
    d, t, _ = decode_postings(enc, mask)
    assert np.array_equal(d, docs[128:256])
    assert np.array_equal(t, tfs[128:256])


@given(st.integers(min_value=1, max_value=1200), st.randoms(use_true_random=False))
@settings(max_examples=60, deadline=None)
def test_masked_decode_is_filtered_full_decode(n, rng):
    """A masked decode equals the full decode filtered to the selected
    blocks, on every stream (doc, tf, dl, lang, positions): for the
    empty, first, last, non-contiguous and all-blocks masks, and a
    random one."""
    docs = np.array(sorted(rng.sample(range(10 * n), n)), dtype=np.int64)
    tfs = np.array([rng.randint(1, 6) for _ in docs], dtype=np.int64)
    dls = np.array([rng.randint(1, 900) for _ in docs], dtype=np.int64)
    langs = np.array([rng.randint(0, 200) for _ in docs], dtype=np.int64)
    positions = [np.array(sorted(rng.sample(range(3000), int(t))), dtype=np.int64) for t in tfs]
    enc = encode_postings(docs, tfs, tfs * 1.0, dls, langs, positions)
    full = decode_postings(enc, want_lang=True, want_positions=True)
    n_blocks = len(enc["block_first_doc"])
    blk = np.arange(n) // 128  # block of each posting
    pos_blk = np.repeat(blk, tfs)  # block of each position value
    masks = [np.zeros(n_blocks, dtype=bool) for _ in range(5)]
    masks[1][0] = True
    masks[2][-1] = True
    masks[3][::2] = True
    masks[4][:] = True
    masks.append(np.array([rng.random() < 0.5 for _ in range(n_blocks)]))
    for mask in masks:
        got = decode_postings(enc, mask, want_lang=True, want_positions=True)
        keep = mask[blk]
        want = [a[keep] for a in full[:4]] + [full[4][mask[pos_blk]]]
        for g, w in zip(got, want):
            assert g.dtype == np.int64 and np.array_equal(g, w), mask


def test_blockmax_is_true_upper_bound():
    rng = np.random.default_rng(42)
    docs = np.sort(rng.choice(10**6, size=5000, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 100, size=5000).astype(np.int64)
    wf = tfs * 2.2 / (tfs + 0.7)
    enc = encode_postings(docs, tfs, wf)
    starts = np.arange(0, 5000, 128)
    for bi, s in enumerate(starts):
        e = min(s + 128, 5000)
        assert enc["block_max_wf"][bi] >= wf[s:e].max() - 1e-15
        assert enc["block_max_tf"][bi] == tfs[s:e].max()
        assert enc["block_first_doc"][bi] == docs[s]
        assert enc["block_last_doc"][bi] == docs[e - 1]


def test_merge_encoded_equals_single_encode():
    rng = np.random.default_rng(7)
    docs = np.sort(rng.choice(10**5, size=1000, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 9, size=1000).astype(np.int64)
    wf = tfs.astype(float)
    cut = 517
    merged = merge_encoded(
        [
            encode_postings(docs[cut:], tfs[cut:], wf[cut:], docs[cut:] * 2),
            encode_postings(docs[:cut], tfs[:cut], wf[:cut], docs[:cut] * 2),
        ]
    )
    d, t, dl = decode_postings(merged)
    assert np.array_equal(d, docs)
    assert np.array_equal(t, tfs)
    assert np.array_equal(dl, docs * 2)
    assert merged["df"] == 1000
    assert merged["max_tf"] == int(tfs.max())


def test_encode_many_matches_per_group():
    """encode_many must be bit-identical to per-group encode_postings."""
    rng = np.random.default_rng(11)
    groups = []
    for _ in range(200):
        size = int(rng.zipf(1.4))
        size = min(size, 5000)
        docs = np.sort(rng.choice(10**7, size=size, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 30, size=size).astype(np.int64)
        dls = rng.integers(1, 2000, size=size).astype(np.int64)
        wf = tfs * 2.2 / (tfs + 0.3 * dls)
        groups.append((docs, tfs, dls, wf))
    starts, ends, off = [], [], 0
    for docs, *_ in groups:
        starts.append(off)
        off += docs.size
        ends.append(off)
    cat = lambda i: np.concatenate([g[i] for g in groups])  # noqa: E731
    # encode_many takes (starts, ends, docs, tfs, dls, wf)
    many = encode_many(
        np.array(starts), np.array(ends), cat(0), cat(1), cat(2), cat(3)
    )
    assert len(many) == len(groups)
    for enc, (docs, tfs, dls, wf) in zip(many, groups):
        single = encode_postings(docs, tfs, wf, dls)
        for k in single:
            got, exp = enc[k], single[k]
            if isinstance(exp, bytes):
                assert bytes(got) == exp, k
            elif isinstance(exp, float):
                assert abs(got - exp) < 1e-15, k
            else:
                assert got == exp, k
        d, t, l = decode_postings(enc)
        assert np.array_equal(d, docs)
        assert np.array_equal(t, tfs)
        assert np.array_equal(l, dls)


def test_empty_varbyte():
    assert varbyte_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0


def test_lang_stream_roundtrip():
    """The per-posting lang-id attribute stream survives encode/decode,
    encode_many, and salted-sublist merge."""
    rng = np.random.default_rng(5)
    docs = np.sort(rng.choice(10**6, size=700, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 20, size=700).astype(np.int64)
    dls = rng.integers(1, 400, size=700).astype(np.int64)
    langs = rng.integers(0, 6, size=700).astype(np.int64)
    enc = encode_postings(docs, tfs, tfs * 1.0, dls, langs)
    d, t, l, g = decode_postings(enc, want_lang=True)
    assert np.array_equal(g, langs) and np.array_equal(d, docs)
    cut = 411
    merged = merge_encoded(
        [
            encode_postings(docs[cut:], tfs[cut:], tfs[cut:] * 1.0, dls[cut:], langs[cut:]),
            encode_postings(docs[:cut], tfs[:cut], tfs[:cut] * 1.0, dls[:cut], langs[:cut]),
        ]
    )
    assert np.array_equal(decode_postings(merged, want_lang=True)[3], langs)
    many = encode_many(
        np.array([0, 300]), np.array([300, 700]), docs, tfs, dls, tfs * 1.0, langs
    )
    assert np.array_equal(decode_postings(many[0], want_lang=True)[3], langs[:300])
    assert np.array_equal(decode_postings(many[1], want_lang=True)[3], langs[300:])
    # block-subset decode keeps streams aligned
    mask = np.zeros(len(enc["block_first_doc"]), dtype=bool)
    mask[1] = True
    d, t, l, g = decode_postings(enc, mask, want_lang=True)
    assert np.array_equal(g, langs[128:256])


def test_crc32_bucket_parity_with_spark(spark):
    """upsert computes affected buckets with F.crc32 (_crc_bucket) —
    must equal bucket_of (zlib.crc32)."""
    import zlib

    from micce_search_engine_spark.operators.index_build import _crc_bucket, bucket_of

    terms = ["the", "w000001", "日本語テスト", "naïve", "", "a" * 300]
    rows = (
        spark.createDataFrame([(t,) for t in terms], "term string")
        .select("term", _crc_bucket("term", 16).alias("b"))
        .collect()
    )
    for r in rows:
        assert r["b"] == bucket_of(r["term"], 16), r["term"]
        assert bucket_of(r["term"], 16) == zlib.crc32(r["term"].encode()) % 16


def test_positions_roundtrip_and_equivalence():
    """Round-4 optional 5th stream: per-posting position deltas.
    encode_postings/decode_postings roundtrip, encode_many equivalence,
    merge_encoded concatenation, block-subset alignment."""
    import numpy as np

    from micce_search_engine_spark.functions.codec import (
        bm25_wf,
        decode_postings,
        encode_many,
        encode_postings,
        merge_encoded,
    )

    rng = np.random.default_rng(7)
    n = 300
    docs = np.sort(rng.choice(10_000, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 5, size=n).astype(np.int64)
    dls = rng.integers(5, 50, size=n).astype(np.int64)
    positions = [
        np.sort(rng.choice(2000, size=int(t), replace=False)).astype(np.int64)
        for t in tfs
    ]
    wf = bm25_wf(tfs, dls, 30.0, 1.2, 0.75)
    langs = rng.integers(0, 4, size=n).astype(np.int64)
    flat = np.concatenate(positions)

    enc = encode_postings(docs, tfs, wf, dls, langs, positions)
    d, t, l, g, p = decode_postings(enc, want_lang=True, want_positions=True)
    assert np.array_equal(d, docs) and np.array_equal(p, flat)

    # block subset keeps the position stream aligned
    mask = np.zeros(len(enc["block_first_doc"]), dtype=bool)
    mask[1] = True
    d2, t2, l2, p2 = decode_postings(enc, mask, want_positions=True)
    tc = np.concatenate(([0], np.cumsum(tfs)))
    assert np.array_equal(d2, docs[128:256])
    assert np.array_equal(p2, flat[tc[128] : tc[256]])

    # encode_many == per-group encode_postings, field by field
    starts, ends = np.array([0, 100, 250]), np.array([100, 250, 300])
    rows = encode_many(starts, ends, docs, tfs, dls, wf, langs, flat)
    for gi, (s, e) in enumerate(zip(starts, ends)):
        ref = encode_postings(
            docs[s:e], tfs[s:e], wf[s:e], dls[s:e], langs[s:e], positions[s:e]
        )
        for k in ref:
            assert rows[gi][k] == ref[k], (gi, k)

    # merge (the hot-term salted concat path) preserves positions
    m = merge_encoded(rows)
    dm, _, _, pm = decode_postings(m, want_positions=True)
    assert np.array_equal(dm, docs) and np.array_equal(pm, flat)

    # rows encoded WITHOUT positions refuse positional decode
    enc2 = encode_postings(docs, tfs, wf, dls, langs)
    try:
        decode_postings(enc2, want_positions=True)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass
