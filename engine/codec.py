"""Posting-list codec: delta-gap + varint compression with skip blocks.

Implements the structures BASELINE.json:6 mandates — "delta-gap +
varint-compressed posting lists with per-partition skip blocks and block-max
metadata" — following the published Lucene postings format family (ascending
docIDs, gap encoding, variable-byte integers, 128-doc blocks with skip/impact
metadata; [public: Lucene index format; Ding & Suel 2011, "Faster top-k
document retrieval using block-max indexes"]).

Everything here is pure NumPy (no Spark imports) so it is unit-testable and
runs vectorized inside Arrow-batched UDFs. No per-element or per-row Python
in the hot paths: varint encode/decode loop over *byte positions* (≤10) not
over values, and `encode_lists` / `decode_rows` take a whole Arrow batch of
posting lists per call (one varint pass per stream for the batch), so the
Zipf tail of 1-posting lists costs a slice each, not a codec call each.
`encode_postings` / `decode_postings` are the same core on a batch of one.
"""

from __future__ import annotations

import numpy as np

from . import BLOCK_SIZE, BM25_B, BM25_K1

_U7 = np.uint64(7)
_U0x7F = np.uint64(0x7F)


def _varint_encode_offsets(
    values: np.ndarray, boundaries: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """LEB128-style variable-byte encode of a uint64 array (vectorized),
    plus the byte offset of each requested value index.

    Because each value's encoding is independent, the whole-stream encode is
    byte-identical to concatenating per-block encodes — so one call replaces
    a per-block Python loop and `boundaries` yields the skip byte offsets."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b"", np.zeros(len(boundaries), dtype=np.int64)
    # bytes needed per value
    nb = np.ones(n, dtype=np.int64)
    tmp = v >> _U7
    while tmp.any():
        nb += tmp > 0
        tmp = tmp >> _U7
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(nb, out=offs[1:])
    out = np.zeros(offs[-1], dtype=np.uint8)
    for j in range(int(nb.max())):
        mask = nb > j
        idx = offs[:-1][mask] + j
        byte = ((v[mask] >> np.uint64(7 * j)) & _U0x7F).astype(np.uint8)
        cont = (nb[mask] - 1 > j).astype(np.uint8) << 7
        out[idx] = byte | cont
    bo = offs[boundaries] if len(boundaries) else np.empty(0, dtype=np.int64)
    return out.tobytes(), bo


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-style variable-byte encode of a uint64 array (vectorized)."""
    return _varint_encode_offsets(values, np.empty(0, dtype=np.int64))[0]


def _varint_decode_starts(
    buf: bytes | bytearray | memoryview,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode a varint byte stream → (uint64 values, start byte of each value)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    ends = np.flatnonzero((b & 0x80) == 0)  # last byte of each value
    n = len(ends)
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    nb = ends - starts + 1
    vals = np.zeros(n, dtype=np.uint64)
    for j in range(int(nb.max())):
        mask = nb > j
        vals[mask] |= (b[starts[mask] + j].astype(np.uint64) & _U0x7F) << np.uint64(
            7 * j
        )
    return vals, starts


def varint_decode(buf: bytes | bytearray | memoryview) -> np.ndarray:
    """Decode a varint byte stream back to a uint64 array (vectorized)."""
    return _varint_decode_starts(buf)[0]


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Ascending int array → first value + gaps (gap-1 for strictly asc ids)."""
    ids = np.ascontiguousarray(sorted_ids, dtype=np.int64)
    if len(ids) == 0:
        return ids.astype(np.uint64)
    gaps = np.empty(len(ids), dtype=np.uint64)
    gaps[0] = np.uint64(ids[0])
    if len(ids) > 1:
        d = np.diff(ids)
        if (d <= 0).any():
            raise ValueError("doc_ids must be strictly ascending")
        gaps[1:] = d.astype(np.uint64)
    return gaps


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(gaps.astype(np.int64))


def _bit_length(v: np.ndarray) -> np.ndarray:
    """Exact vectorized integer bit length for non-negative int64 (0 → 0).
    float64 log2 is NOT exact near powers of two for v ≥ ~2^49 (2^k − 1 can
    round up to k.0 — ADVICE r04), so the log2 estimate is corrected with
    two integer shift checks, which are exact for the full int64 range."""
    nb = np.zeros(len(v), dtype=np.int64)
    pos = v > 0
    if pos.any():
        vv = v[pos].astype(np.uint64)  # uint64: 1 << 63 must not overflow
        est = np.floor(np.log2(vv.astype(np.float64))).astype(np.int64) + 1
        # log2 rounded down near 2^k → estimate one short
        est = np.where(vv >> np.minimum(est, 63).astype(np.uint64) > 0, est + 1, est)
        # log2 rounded up at 2^k − 1 → estimate one long
        low = np.uint64(1) << np.minimum(np.maximum(est - 1, 0), 63).astype(np.uint64)
        est = np.where(vv < low, est - 1, est)
        nb[pos] = est
    return nb


def int_to_byte4(values: np.ndarray) -> np.ndarray:
    """Lucene SmallFloat.intToByte4 [public: Lucene SmallFloat.java]: the
    1-byte norm encoding BM25Similarity stores per doc. Values 0..7 encode
    as themselves ("subnormal", exponent field 0); larger values keep the
    top 4 significant bits — 3 stored (the leading 1 is implicit) plus
    exponent shift+1: byte = ((v >>> shift) & 7) | ((shift + 1) << 3) with
    shift = bitlength(v) − 4. Monotone, so norm ORDER is preserved.
    Vectorized; exact for the full non-negative int64 range (integer
    bit-length, no float rounding)."""
    v = np.asarray(values, dtype=np.int64)
    if (v < 0).any():
        raise ValueError("norms must be non-negative")
    numbits = _bit_length(v)
    shift = np.maximum(numbits - 4, 0)
    enc_norm = ((v >> shift) & 0x07) | ((shift + 1) << 3)
    return np.where(numbits < 4, v, enc_norm).astype(np.uint8)


def byte4_to_int(b: np.ndarray) -> np.ndarray:
    """Lucene SmallFloat.byte4ToInt inverse [public]: byte → the quantized
    norm value (the value BM25 scoring actually uses)."""
    bb = np.asarray(b).astype(np.int64) & 0xFF
    bits = bb & 0x07
    shift = (bb >> 3) - 1
    return np.where(shift < 0, bits, (bits | 0x08) << np.maximum(shift, 0))


def quantize_norm(dls: np.ndarray) -> np.ndarray:
    """Lossy doc-length (norm) quantization — VALUE-IDENTICAL to Lucene's
    1-byte SmallFloat norm table: quantize_norm(v) ==
    byte4_to_int(int_to_byte4(v)) for every v (property-tested exhaustively
    in tests/test_norms.py), computed directly on int64 without the byte
    round-trip. Keeps the top 4 significant bits (identity below 16, which
    covers Lucene's subnormal 0..7 and the shift-0 band 8..15). Monotone
    (order of doc lengths is preserved), idempotent, relative error < 1/8.
    Default OFF so scores match the exact NumPy/DuckDB oracles unless a
    caller opts into ES-style emulation."""
    dl = np.asarray(dls, dtype=np.int64)
    out = dl.copy()
    mask = dl >= 16
    if mask.any():
        v = dl[mask]
        # number of bits − 4 = shift that keeps the top 4 significant bits
        shift = _bit_length(v) - 4
        out[mask] = (v >> shift) << shift
    return out


def bm25_impact(
    tfs: np.ndarray, dls: np.ndarray, avgdl: float, k1: float = BM25_K1, b: float = BM25_B
) -> np.ndarray:
    """Per-posting BM25 impact (the idf-free factor):
    tf / (tf + k1*(1 - b + b*dl/avgdl)).  Monotone in tf, bounded by 1.
    [public: Lucene BM25Similarity, LUCENE-8563 (k1+1 factor dropped)]."""
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    return tf / (tf + k1 * (1.0 - b + b * dl / float(avgdl)))


def _f32_ceil(x: np.ndarray) -> np.ndarray:
    """Smallest float32 array >= x (elementwise): the safe direction for
    impact UPPER bounds that will be stored as parquet FloatType."""
    f = x.astype(np.float32)
    low = f.astype(np.float64) < x
    if low.any():
        f[low] = np.nextafter(f[low], np.float32(np.inf))
    return f


def _restart_gaps(ids: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Gap stream of `ids` (int64) that restarts with the ABSOLUTE id at every
    index in `starts`, so each block (or run) decodes on its own. Gaps across
    a restart may be negative; their wrapped values are overwritten."""
    gaps = np.empty(len(ids), dtype=np.uint64)
    if len(ids):
        gaps[0] = np.uint64(ids[0])
        gaps[1:] = np.diff(ids).astype(np.uint64)
        gaps[starts] = ids[starts].astype(np.uint64)
    return gaps


def encode_lists(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    list_ids: np.ndarray,
    n_lists: int,
    avgdl: float,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Encode many posting lists in one pass: the batched codec core.

    `list_ids[i]` (0..n_lists-1) names the list posting i belongs to. Postings
    are stable-sorted by (list id, doc_id) — already-sorted input skips the
    sort — then every stream of the whole batch is varint-encoded once, and
    block/list maxima come from `np.maximum.reduceat`. The per-list work is
    a bytes/list slice. Returns one column per field, entry j for list j:

      doc_ids_enc: list[bytes]  delta-gap + varint of ascending doc_ids, the
                                gaps restarting absolute at each block
      tfs_enc:     list[bytes]  varint of term frequencies (aligned)
      dls_enc:     list[bytes]  varint of doc lengths (the norm stream —
                                baked in so shards are self-contained for
                                scoring + merge, the analog of Lucene's
                                per-segment norms [public])
      skips:       list[list[(first_doc, doc_off, tf_off, dl_off, max_impact)]]
      block_max:   float32 array  max impact over each list (0 when empty)
      df, cf:      int64 arrays

    Block offsets are *byte* offsets into the list's own streams, so a reader
    can seek a block without decoding prior blocks (skip data per Lucene's
    skip lists [public]). Because each value's varint is independent, the
    batch encode is byte-identical to encoding every list on its own."""
    ids = np.asarray(doc_ids, dtype=np.int64)
    tf = np.asarray(tfs, dtype=np.int64)
    dl = np.asarray(dls, dtype=np.int64)
    lid = np.asarray(list_ids, dtype=np.int64)
    if len(ids) > 1:
        dlid = np.diff(lid)
        if not ((dlid > 0) | ((dlid == 0) & (np.diff(ids) >= 0))).all():
            order = np.lexsort((ids, lid))  # stable: ties keep input order
            ids, tf, dl, lid = ids[order], tf[order], dl[order], lid[order]
    n = len(ids)
    df = np.bincount(lid, minlength=n_lists).astype(np.int64)
    lstart = np.zeros(n_lists + 1, dtype=np.int64)
    np.cumsum(df, out=lstart[1:])
    # block starts: every block_size-th posting of each list (so every
    # non-empty list's first posting starts a block)
    pos = np.arange(n, dtype=np.int64) - np.repeat(lstart[:-1], df)
    starts = np.flatnonzero(pos % block_size == 0)
    nb = len(starts)
    gaps = _restart_gaps(ids, starts)
    at = np.concatenate([starts, lstart])
    doc_enc, d_offs = _varint_encode_offsets(gaps, at)
    tf_enc, t_offs = _varint_encode_offsets(tf.astype(np.uint64), at)
    dl_enc, l_offs = _varint_encode_offsets(dl.astype(np.uint64), at)

    nonempty = df > 0
    block_max = np.zeros(n_lists, dtype=np.float32)
    cf = np.zeros(n_lists, dtype=np.int64)
    blk_list = lid[starts]
    if n:
        impacts = bm25_impact(tf, dl, avgdl)
        raw_max = np.maximum.reduceat(impacts, starts)
        fb = np.searchsorted(blk_list, np.flatnonzero(nonempty))  # first block per list
        # UPPER bounds must survive the float32 parquet round-trip
        # (SKIP_STRUCT stores FloatType): cast-to-nearest can round BELOW
        # the true float64 impact, which would make WAND's block skip
        # unsound. Round up to the next float32 wherever the cast decreased
        # the value.
        block_max[nonempty] = _f32_ceil(np.maximum.reduceat(raw_max, fb))
        cf[nonempty] = np.add.reduceat(tf, lstart[:-1][nonempty])
        skip_rows = list(
            zip(
                ids[starts].tolist(),
                (d_offs[:nb] - d_offs[nb:][blk_list]).tolist(),
                (t_offs[:nb] - t_offs[nb:][blk_list]).tolist(),
                (l_offs[:nb] - l_offs[nb:][blk_list]).tolist(),
                _f32_ceil(raw_max).tolist(),
            )
        )
    else:
        skip_rows = []
    bstart = np.zeros(n_lists + 1, dtype=np.int64)
    np.cumsum(np.bincount(blk_list, minlength=n_lists), out=bstart[1:])

    def cut(buf, offs):
        b = offs.tolist()
        return [buf[b[j]:b[j + 1]] for j in range(n_lists)]

    return {
        "doc_ids_enc": cut(doc_enc, d_offs[nb:]),
        "tfs_enc": cut(tf_enc, t_offs[nb:]),
        "dls_enc": cut(dl_enc, l_offs[nb:]),
        "skips": cut(skip_rows, bstart),
        "block_max": block_max,
        "df": df,
        "cf": cf,
    }


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Encode one term's posting list — `encode_lists` on a batch of one.
    Returns {doc_ids_enc, tfs_enc, dls_enc: bytes, skips: list of tuples,
    block_max: float, df: int, cf: int} (fields as in encode_lists)."""
    enc = encode_lists(
        doc_ids, tfs, dls, np.zeros(len(doc_ids), dtype=np.int64), 1, avgdl,
        block_size,
    )
    out = {c: enc[c][0] for c in ("doc_ids_enc", "tfs_enc", "dls_enc", "skips")}
    out.update(
        block_max=float(enc["block_max"][0]), df=int(enc["df"][0]), cf=int(enc["cf"][0])
    )
    return out


def _doc_off(s) -> int:
    """A skip entry's doc byte offset: entries may be tuples, Spark Rows, or
    Arrow-struct dicts."""
    return s["doc_off"] if isinstance(s, dict) else s[1]


def decode_rows(doc_bufs, skips, tf_bufs=None, dl_bufs=None):
    """Decode many posting rows with one varint pass per stream → (doc_ids,
    tfs, dls, counts): int64 arrays concatenated in row order, and each row's
    posting count. tfs/dls are None when their buffers are not given (match-
    only consumers skip two of the three decodes).

    The rows' doc blobs are joined into one stream; the naive cumsum carries
    every earlier block's sum into each delta restart, and one correction per
    restart is subtracted with `np.repeat`. A restart sits at each row's byte
    base and, for multi-block rows, at base + each later block's skip
    `doc_off`. skips=None: every row is a single delta run (the index
    build's map-side partials)."""
    n_rows = len(doc_bufs)
    base = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, doc_bufs), dtype=np.int64, count=n_rows), out=base[1:])
    gaps, vstarts = _varint_decode_starts(b"".join(doc_bufs))
    restarts = base[:-1]
    if skips is not None:
        nblk = np.fromiter(
            (0 if s is None else len(s) for s in skips), dtype=np.int64, count=n_rows
        )
        multi = np.flatnonzero(nblk > 1)
        if len(multi):
            offs = np.fromiter(
                (_doc_off(s) for r in multi.tolist() for s in skips[r][1:]),
                dtype=np.int64,
            )
            inner = np.repeat(base[multi], nblk[multi] - 1) + offs
            restarts = np.sort(np.concatenate([restarts, inner]))
    ids = np.cumsum(gaps.astype(np.int64))
    if len(ids):
        # int64 overflow in the running sum wraps, and the subtraction
        # wraps back: the corrected ids are exact either way
        at = np.searchsorted(vstarts, restarts)
        corr = np.where(at > 0, ids[np.maximum(at - 1, 0)], 0)
        ids = ids - np.repeat(corr, np.diff(np.append(at, len(ids))))
    counts = np.diff(np.searchsorted(vstarts, base))

    def plain(bufs):
        if bufs is None:
            return None
        return varint_decode(b"".join(bufs)).astype(np.int64)

    return ids, plain(tf_bufs), plain(dl_bufs), counts


def decode_postings(
    doc_ids_enc: bytes, tfs_enc: bytes, dls_enc: bytes, skips
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one full posting list → (doc_ids asc, tfs, dls) int64 arrays
    (`decode_rows` on a batch of one)."""
    if skips is None or len(skips) == 0:  # len(): skips may be a numpy array
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    ids, tfs, dls, _ = decode_rows([doc_ids_enc], [skips], [tfs_enc], [dls_enc])
    return ids, tfs, dls


def decode_block(
    doc_ids_enc: bytes, tfs_enc: bytes, dls_enc: bytes, skips, i: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode only block i — the skip-pointer seek path used by WAND."""
    n_blocks = len(skips)
    d0 = skips[i][1]
    d1 = skips[i + 1][1] if i + 1 < n_blocks else len(doc_ids_enc)
    t0 = skips[i][2]
    t1 = skips[i + 1][2] if i + 1 < n_blocks else len(tfs_enc)
    l0 = skips[i][3]
    l1 = skips[i + 1][3] if i + 1 < n_blocks else len(dls_enc)
    ids = np.cumsum(varint_decode(doc_ids_enc[d0:d1]).astype(np.int64))
    tfs = varint_decode(tfs_enc[t0:t1]).astype(np.int64)
    dls = varint_decode(dls_enc[l0:l1]).astype(np.int64)
    return ids, tfs, dls
