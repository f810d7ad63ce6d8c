"""Posting-list codec: docID-delta + varbyte, with per-block max metadata.

This is the explicit realization of what the reference only *declares*:
``indexing: index`` + ``index: enable-bm25`` on the searchable fields
(/root/reference/search-engine/schemas/spot.sd:10-11,15-16) — Vespa
builds compressed posting lists with interleaved BM25 features
internally; here they are real, inspectable artifacts.

Layout (per term):
  * postings are sorted by doc_id and cut into blocks of
    ``BLOCK_SIZE`` (=128) docs;
  * each block stores its first doc_id absolutely in ``block_first_doc``
    so blocks decode independently and salted sub-lists concatenate
    without re-encoding (doc-range salting, see index_build.py);
  * within a block, doc_ids after the first are delta-encoded
    (delta >= 1, unique docs) and varbyte-compressed; tfs are
    varbyte-compressed as-is;
  * ``block_max_wf`` holds the block max of the idf-free BM25 weight
    ``tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl))`` — multiply by idf(term) at
    query time to get a true per-block score upper bound (block-max
    WAND metadata).

All encode/decode is vectorized numpy — no per-row Python.
"""

from __future__ import annotations

import numpy as np

from micce_search_engine_spark import BLOCK_SIZE


def bm25_wf(tfs: np.ndarray, dls: np.ndarray, avgdl: float, k1: float, b: float) -> np.ndarray:
    """The idf-free BM25 weight, ONE canonical evaluation-order for the
    whole engine (encode-time block maxima AND query-time scoring use
    this exact expression; the DuckDB oracle mirrors the same
    parenthesization, so IEEE-754 doubles match bit-for-bit)."""
    return tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))


def _varbyte_encode_with_sizes(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized varbyte encode returning (byte stream, bytes-per-value)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # bytes needed per value: ceil(bitlen/7), min 1
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp >>= np.uint64(7)
    nbits = np.maximum(nbits, 1)
    total = int(nbits.sum())
    out = np.empty(total, dtype=np.uint8)
    ends = np.cumsum(nbits)
    starts = ends - nbits
    # position of each output byte within its value
    idx = np.arange(total, dtype=np.int64)
    owner = np.repeat(np.arange(v.size, dtype=np.int64), nbits)
    pos = idx - starts[owner]
    chunk = (v[owner] >> (pos.astype(np.uint64) * np.uint64(7))) & np.uint64(0x7F)
    out[:] = chunk.astype(np.uint8)
    # continuation bit on every byte except the last of each value
    is_last = idx == (ends[owner] - 1)
    out[~is_last] |= 0x80
    return out, nbits


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized LEB128-style varbyte: 7 data bits/byte, MSB=continuation."""
    return _varbyte_encode_with_sizes(values)[0].tobytes()


def varbyte_decode(buf: bytes | np.ndarray) -> np.ndarray:
    """Inverse of varbyte_encode. Returns uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    n_vals = int(is_last.sum())
    owner = np.zeros(b.size, dtype=np.int64)
    owner[1:] = np.cumsum(is_last[:-1])
    starts = np.zeros(n_vals, dtype=np.int64)
    last_idx = np.flatnonzero(is_last)
    starts[1:] = last_idx[:-1] + 1
    pos = np.arange(b.size, dtype=np.int64) - starts[owner]
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (
        pos.astype(np.uint64) * np.uint64(7)
    )
    out = np.zeros(n_vals, dtype=np.uint64)
    np.add.at(out, owner, contrib)
    return out


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    wf: np.ndarray,
    dls: np.ndarray | None = None,
    langs: np.ndarray | None = None,
    positions: list | None = None,
) -> dict:
    """Encode one term's postings (pre-sorted unique doc_ids) into blocks.

    ``wf`` is the idf-free BM25 weight per posting (same order).
    ``dls`` (doc lengths) and ``langs`` (dictionary-encoded language ids,
    see index meta ``langs``) are stored interleaved like Vespa's BM25
    features + attributes (spot.sd:11 ``enable-bm25``, :24-28
    ``attribute``/``fast-search``) so query-time scoring AND the exact
    lang filter need no join against a doc table — at 10^12 docs that
    join is a full shuffle per query batch.

    ``positions`` (optional, round-4): per-posting ascending token
    positions — exactly ``tf`` values per posting. Stored as a 5th
    varbyte stream (first position absolute, rest deltas) so Vespa's
    phrase semantics for ``field contains "multi word"``
    (/root/reference/search-api/internal/repository/query/whereQuery.go:43-57)
    can be matched exactly; like Lucene's omit-positions option it is
    opt-in because it roughly doubles posting bytes.
    Returns a dict of plain-python/bytes values matching the segment
    table schema in index_build.py.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    wf = np.asarray(wf, dtype=np.float64)
    if dls is None:
        dls = np.zeros_like(tfs)
    dls = np.asarray(dls, dtype=np.int64)
    if langs is None:
        langs = np.zeros_like(tfs)
    langs = np.asarray(langs, dtype=np.int64)
    n = doc_ids.size
    assert n > 0
    n_blocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    bounds = np.minimum(np.arange(1, n_blocks + 1) * BLOCK_SIZE, n)
    starts = np.concatenate(([0], bounds[:-1]))

    block_first = doc_ids[starts]
    block_last = doc_ids[bounds - 1]
    block_n = (bounds - starts).astype(np.int32)
    # per-block maxes via reduceat (bounds are block starts)
    block_max_tf = np.maximum.reduceat(tfs, starts).astype(np.int32)
    block_max_wf = np.maximum.reduceat(wf, starts)

    # deltas: within each block, doc[i] - doc[i-1]; block-first excluded
    deltas = np.diff(doc_ids)
    keep = np.ones(max(n - 1, 0), dtype=bool)
    keep[starts[1:] - 1] = False  # drop the cross-block delta
    pos_deltas = None
    tcum = None
    if positions is not None:
        assert len(positions) == n
        pos_flat = (
            np.concatenate([np.asarray(p, dtype=np.int64) for p in positions])
            if n
            else np.empty(0, dtype=np.int64)
        )
        tcum = np.concatenate(([0], np.cumsum(tfs)))
        assert pos_flat.size == tcum[-1], "positions per posting must equal tf"
        # delta within each posting, first value absolute
        pos_deltas = np.empty(pos_flat.size, dtype=np.int64)
        if pos_flat.size:
            pos_deltas[0] = pos_flat[0]
            pos_deltas[1:] = pos_flat[1:] - pos_flat[:-1]
            pos_deltas[tcum[:-1]] = pos_flat[tcum[:-1]]  # posting-firsts absolute

    doc_parts = []
    tf_parts = []
    dl_parts = []
    lang_parts = []
    pos_parts = []
    doc_off = [0]
    tf_off = [0]
    dl_off = [0]
    lang_off = [0]
    pos_off = [0]
    for bi in range(n_blocks):
        s, e = starts[bi], bounds[bi]
        d = deltas[s : e - 1] if e - s > 1 else np.empty(0, dtype=np.int64)
        doc_parts.append(varbyte_encode(d.astype(np.uint64)))
        tf_parts.append(varbyte_encode(tfs[s:e].astype(np.uint64)))
        dl_parts.append(varbyte_encode(dls[s:e].astype(np.uint64)))
        lang_parts.append(varbyte_encode(langs[s:e].astype(np.uint64)))
        doc_off.append(doc_off[-1] + len(doc_parts[-1]))
        tf_off.append(tf_off[-1] + len(tf_parts[-1]))
        dl_off.append(dl_off[-1] + len(dl_parts[-1]))
        lang_off.append(lang_off[-1] + len(lang_parts[-1]))
        if pos_deltas is not None:
            pos_parts.append(
                varbyte_encode(pos_deltas[tcum[s] : tcum[e]].astype(np.uint64))
            )
            pos_off.append(pos_off[-1] + len(pos_parts[-1]))

    out = {
        "df": int(n),
        "cf": int(tfs.sum()),
        "max_tf": int(tfs.max()),
        "max_wf": float(wf.max()),
        "block_first_doc": block_first.tolist(),
        "block_last_doc": block_last.tolist(),
        "block_n": block_n.tolist(),
        "block_max_tf": block_max_tf.tolist(),
        "block_max_wf": block_max_wf.tolist(),
        "block_doc_off": [int(x) for x in doc_off],  # len n_blocks+1
        "block_tf_off": [int(x) for x in tf_off],
        "block_dl_off": [int(x) for x in dl_off],
        "block_lang_off": [int(x) for x in lang_off],
        "doc_blob": b"".join(doc_parts),
        "tf_blob": b"".join(tf_parts),
        "dl_blob": b"".join(dl_parts),
        "lang_blob": b"".join(lang_parts),
    }
    if pos_deltas is not None:
        out["block_pos_off"] = [int(x) for x in pos_off]
        out["pos_blob"] = b"".join(pos_parts)
    return out


def decode_postings(
    row: dict,
    block_mask: np.ndarray | None = None,
    want_lang: bool = False,
    want_positions: bool = False,
) -> tuple[np.ndarray, ...]:
    """Decode (optionally a subset of blocks of) one term's postings.

    ``row`` is a dict-like with the encode_postings fields.
    ``block_mask`` is a boolean array over blocks; None decodes all.
    Returns (doc_ids int64, tfs int64, dls int64) — plus langs int64
    when ``want_lang`` (older rows without a lang stream yield zeros),
    plus a FLAT positions int64 array when ``want_positions`` (exactly
    ``tf`` values per posting, in posting order — split with
    ``np.cumsum(tfs)``; requires a row encoded with positions).
    """
    first = np.asarray(row["block_first_doc"], dtype=np.int64)
    block_n = np.asarray(row["block_n"], dtype=np.int64)
    has_lang = want_lang and row.get("lang_blob") is not None
    if want_positions and row.get("pos_blob") is None:
        raise ValueError(
            "decode_postings: positions requested but this segment row "
            "has no position stream (index built without positions)"
        )
    streams = ["doc", "tf", "dl"] + (["lang"] if has_lang else []) + (
        ["pos"] if want_positions else []
    )
    blobs = {k: np.frombuffer(bytes(row[f"{k}_blob"]), dtype=np.uint8) for k in streams}
    if block_mask is not None:
        # a masked decode is the whole-stream decode over the selected
        # blocks: gather each stream's selected byte ranges (one index
        # build per stream) and subset the block metadata
        sel = np.flatnonzero(block_mask)
        for k in streams:
            off = np.asarray(row[f"block_{k}_off"], dtype=np.int64)
            lo, n_b = off[sel], off[sel + 1] - off[sel]
            idx = np.arange(int(n_b.sum()), dtype=np.int64) + np.repeat(
                lo - (np.cumsum(n_b) - n_b), n_b
            )
            blobs[k] = blobs[k][idx]
        first, block_n = first[sel], block_n[sel]
    # each stream is decoded with ONE varbyte call over its whole blob
    # (round-6: one call per block dominated the decode of hot terms).
    # Doc ids are rebuilt from the global delta cumsum with a per-block
    # base correction (v is 0 at block-first positions, so cs[start_b]
    # is the sum of deltas before block b and ids = cs + (first_b -
    # cs[start_b]) restarts each block at its absolute first doc).
    n = int(block_n.sum())
    starts = np.concatenate(([0], np.cumsum(block_n)))[:-1].astype(np.int64)
    blk_of = np.repeat(np.arange(first.size, dtype=np.int64), block_n)
    v = np.zeros(n, dtype=np.int64)
    isfirst = np.zeros(n, dtype=bool)
    isfirst[starts] = True
    v[~isfirst] = varbyte_decode(blobs["doc"]).astype(np.int64)
    cs = np.cumsum(v)
    docs = cs + (first - cs[starts])[blk_of]
    tfs = varbyte_decode(blobs["tf"]).astype(np.int64)
    out = (docs, tfs, varbyte_decode(blobs["dl"]).astype(np.int64))
    if want_lang:
        langs = varbyte_decode(blobs["lang"]) if has_lang else np.zeros_like(docs)
        out = out + (langs.astype(np.int64),)
    if want_positions:
        # undo within-posting deltas: a running cumsum, restarted at
        # each posting's first (stored absolute) value
        pd_ = varbyte_decode(blobs["pos"]).astype(np.int64)
        firsts = np.concatenate(([0], np.cumsum(tfs)))[:-1]
        run = np.cumsum(pd_)
        base = np.zeros(pd_.size, dtype=np.int64)
        base[firsts] = run[firsts] - pd_[firsts]
        np.maximum.accumulate(base, out=base)
        out = out + (run - base,)
    return out


def encode_many(
    starts: np.ndarray,
    ends: np.ndarray,
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    wf: np.ndarray,
    langs: np.ndarray | None = None,
    pos_flat: np.ndarray | None = None,
) -> list[dict]:
    """Batch-vectorized encode of MANY terms' postings at once.

    ``starts``/``ends`` delimit each group (term,salt) within the
    concatenated, per-group-doc_id-sorted arrays. Semantically identical
    to calling :func:`encode_postings` per group (tested), but performs
    O(1) varbyte calls per batch instead of O(groups) — this is the hot
    path of the whole index build (tens of thousands of Zipf-tail terms
    per shuffle partition).

    ``pos_flat`` (optional): ALL postings' positions concatenated in
    posting order (exactly ``tf`` values per posting) — encoded as the
    optional 5th stream (see encode_postings).
    """
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    docs = np.asarray(docs, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    wf = np.asarray(wf, dtype=np.float64)
    if langs is None:
        langs = np.zeros_like(tfs)
    langs = np.asarray(langs, dtype=np.int64)
    n = docs.size
    g = starts.size
    if n == 0:
        return []
    sizes = ends - starts
    owner = np.repeat(np.arange(g, dtype=np.int64), sizes)
    ix = np.arange(n, dtype=np.int64) - np.repeat(starts, sizes)
    bf = (ix % BLOCK_SIZE) == 0  # block-first positions (group starts included)

    bstarts = np.flatnonzero(bf)
    bends = np.append(bstarts[1:], n)
    block_group = owner[bstarts]
    block_n = (bends - bstarts).astype(np.int32)
    block_first = docs[bstarts]
    block_last = docs[bends - 1]
    block_max_tf = np.maximum.reduceat(tfs, bstarts).astype(np.int32)
    block_max_wf = np.maximum.reduceat(wf, bstarts)

    # --- doc-id delta stream (block-first values excluded) ------------
    diffs = np.empty(n, dtype=np.int64)
    diffs[0] = 0
    diffs[1:] = docs[1:] - docs[:-1]
    keep = ~bf
    doc_stream, doc_sizes = _varbyte_encode_with_sizes(diffs[keep].astype(np.uint64))
    blen = np.zeros(n, dtype=np.int64)
    blen[keep] = doc_sizes
    byte_end = np.cumsum(blen)
    byte_start = byte_end - blen
    # byte range of each block within the global stream: the block-first
    # position contributes 0 bytes, so byte_start at bstarts is exactly
    # where this block's delta bytes begin
    blk_doc_s = byte_start[bstarts]
    blk_doc_e = byte_end[bends - 1]

    def _streams(vals: np.ndarray):
        stream, vsizes = _varbyte_encode_with_sizes(vals.astype(np.uint64))
        e = np.cumsum(vsizes)
        s = e - vsizes
        return stream, s[bstarts], e[bends - 1]

    tf_stream, blk_tf_s, blk_tf_e = _streams(tfs)
    dl_stream, blk_dl_s, blk_dl_e = _streams(dls)
    lang_stream, blk_lang_s, blk_lang_e = _streams(langs)

    # --- optional position stream (per-posting delta, first absolute) -
    has_pos = pos_flat is not None
    if has_pos:
        pos_flat = np.asarray(pos_flat, dtype=np.int64)
        tcum = np.concatenate(([0], np.cumsum(tfs)))
        assert pos_flat.size == tcum[-1], "pos_flat must hold tf values/posting"
        pos_deltas = np.empty(pos_flat.size, dtype=np.int64)
        if pos_flat.size:
            pos_deltas[0] = pos_flat[0]
            pos_deltas[1:] = pos_flat[1:] - pos_flat[:-1]
            pos_deltas[tcum[:-1]] = pos_flat[tcum[:-1]]  # posting-firsts absolute
        pos_stream, psizes = _varbyte_encode_with_sizes(pos_deltas.astype(np.uint64))
        pe = np.cumsum(psizes)
        ps = pe - psizes
        # block byte range in value space: values tcum[bstart]..tcum[bend];
        # every block holds >= 1 posting with tf >= 1, so both index
        # expressions are always in range
        vstart = tcum[bstarts]
        vend = tcum[bends]
        blk_pos_s = ps[vstart]
        blk_pos_e = pe[vend - 1]
        pos_bytes = pos_stream.tobytes()

    # --- per-group reductions ------------------------------------------
    grp_cf = np.add.reduceat(tfs, starts)
    grp_max_tf = np.maximum.reduceat(tfs, starts)
    grp_max_wf = np.maximum.reduceat(wf, starts)
    gb_bounds = np.searchsorted(block_group, np.arange(g + 1))

    doc_bytes = doc_stream.tobytes()
    tf_bytes = tf_stream.tobytes()
    dl_bytes = dl_stream.tobytes()
    lang_bytes = lang_stream.tobytes()

    out = []
    for gi in range(g):
        b0, b1 = gb_bounds[gi], gb_bounds[gi + 1]
        # within a group, block byte ranges are contiguous (block-first
        # values contribute 0 bytes), so the group's blob starts at its
        # first block's start
        gds = int(blk_doc_s[b0])
        gts = int(blk_tf_s[b0])
        gls = int(blk_dl_s[b0])
        ggs = int(blk_lang_s[b0])
        if has_pos:
            gps = int(blk_pos_s[b0])
        out.append(
            {
                "df": int(sizes[gi]),
                "cf": int(grp_cf[gi]),
                "max_tf": int(grp_max_tf[gi]),
                "max_wf": float(grp_max_wf[gi]),
                "block_first_doc": block_first[b0:b1].tolist(),
                "block_last_doc": block_last[b0:b1].tolist(),
                "block_n": block_n[b0:b1].tolist(),
                "block_max_tf": block_max_tf[b0:b1].tolist(),
                "block_max_wf": block_max_wf[b0:b1].tolist(),
                "block_doc_off": (
                    np.append(blk_doc_s[b0:b1], blk_doc_e[b1 - 1]) - gds
                ).tolist(),
                "block_tf_off": (
                    np.append(blk_tf_s[b0:b1], blk_tf_e[b1 - 1]) - gts
                ).tolist(),
                "block_dl_off": (
                    np.append(blk_dl_s[b0:b1], blk_dl_e[b1 - 1]) - gls
                ).tolist(),
                "block_lang_off": (
                    np.append(blk_lang_s[b0:b1], blk_lang_e[b1 - 1]) - ggs
                ).tolist(),
                "doc_blob": doc_bytes[gds : int(blk_doc_e[b1 - 1])],
                "tf_blob": tf_bytes[gts : int(blk_tf_e[b1 - 1])],
                "dl_blob": dl_bytes[gls : int(blk_dl_e[b1 - 1])],
                "lang_blob": lang_bytes[ggs : int(blk_lang_e[b1 - 1])],
            }
        )
        if has_pos:
            out[-1]["block_pos_off"] = (
                np.append(blk_pos_s[b0:b1], blk_pos_e[b1 - 1]) - gps
            ).tolist()
            out[-1]["pos_blob"] = pos_bytes[gps : int(blk_pos_e[b1 - 1])]
    return out


def merge_encoded(parts: list[dict]) -> dict:
    """Merge doc-range-salted sub-lists of one term (non-overlapping,
    already ordered by doc range) into one encoded row by blob
    concatenation — possible because every block stores its first doc_id
    absolutely. Used by the hierarchical hot-term merge
    (SURVEY.md §4.2 item 3)."""
    parts = sorted(parts, key=lambda p: p["block_first_doc"][0])
    has_pos = all(p.get("pos_blob") is not None for p in parts)
    doc_off = [0]
    tf_off = [0]
    dl_off = [0]
    lang_off = [0]
    pos_off = [0]
    for p in parts:
        base_d, base_t, base_l = doc_off[-1], tf_off[-1], dl_off[-1]
        base_g = lang_off[-1]
        doc_off.extend(base_d + o for o in p["block_doc_off"][1:])
        tf_off.extend(base_t + o for o in p["block_tf_off"][1:])
        dl_off.extend(base_l + o for o in p["block_dl_off"][1:])
        lang_off.extend(base_g + o for o in p["block_lang_off"][1:])
        if has_pos:
            base_p = pos_off[-1]
            pos_off.extend(base_p + o for o in p["block_pos_off"][1:])
    extra = (
        {
            "block_pos_off": pos_off,
            "pos_blob": b"".join(bytes(p["pos_blob"]) for p in parts),
        }
        if has_pos
        else {}
    )
    return {
        **extra,
        "df": sum(p["df"] for p in parts),
        "cf": sum(p["cf"] for p in parts),
        "max_tf": max(p["max_tf"] for p in parts),
        "max_wf": max(p["max_wf"] for p in parts),
        "block_first_doc": [x for p in parts for x in p["block_first_doc"]],
        "block_last_doc": [x for p in parts for x in p["block_last_doc"]],
        "block_n": [x for p in parts for x in p["block_n"]],
        "block_max_tf": [x for p in parts for x in p["block_max_tf"]],
        "block_max_wf": [x for p in parts for x in p["block_max_wf"]],
        "block_doc_off": doc_off,
        "block_tf_off": tf_off,
        "block_dl_off": dl_off,
        "block_lang_off": lang_off,
        "doc_blob": b"".join(bytes(p["doc_blob"]) for p in parts),
        "tf_blob": b"".join(bytes(p["tf_blob"]) for p in parts),
        "dl_blob": b"".join(bytes(p["dl_blob"]) for p in parts),
        "lang_blob": b"".join(bytes(p["lang_blob"]) for p in parts),
    }
