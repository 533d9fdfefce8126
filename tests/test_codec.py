"""Property tests for the posting codec (SURVEY.md §5.4)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from engine.codec import (
    decode_block,
    decode_postings,
    delta_decode,
    delta_encode,
    encode_postings,
    varint_decode,
    varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


def test_varint_known_bytes():
    # 0→00, 127→7f, 128→80 01, 300→ac 02 (LEB128)
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"


@given(
    st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=300, unique=True)
)
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(ids):
    arr = np.sort(np.array(ids, dtype=np.int64))
    assert np.array_equal(delta_decode(delta_encode(arr)), arr)


def test_delta_rejects_duplicates():
    with pytest.raises(ValueError):
        delta_encode(np.array([1, 1, 2]))


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**9),  # doc_id
            st.integers(min_value=1, max_value=1000),  # tf
            st.integers(min_value=1, max_value=5000),  # dl
        ),
        min_size=1,
        max_size=1000,
    )
)
@settings(max_examples=100, deadline=None)
def test_postings_roundtrip(rows):
    # unique doc_ids
    seen, uniq = set(), []
    for d, tf, dl in rows:
        if d not in seen:
            seen.add(d)
            uniq.append((d, tf, dl))
    doc_ids = np.array([r[0] for r in uniq])
    tfs = np.array([r[1] for r in uniq])
    dls = np.array([r[2] for r in uniq])
    enc = encode_postings(doc_ids, tfs, dls, avgdl=100.0, block_size=16)
    ids2, tfs2, dls2 = decode_postings(
        enc["doc_ids_enc"], enc["tfs_enc"], enc["dls_enc"], enc["skips"]
    )
    order = np.argsort(doc_ids, kind="stable")
    assert np.array_equal(ids2, doc_ids[order])
    assert np.array_equal(tfs2, tfs[order])
    assert np.array_equal(dls2, dls[order])
    assert enc["df"] == len(uniq)
    assert enc["cf"] == int(tfs.sum())
    # skip metadata: first_doc per block, block_max = max block impact
    assert enc["skips"][0][0] == int(doc_ids[order][0])
    assert enc["block_max"] == pytest.approx(max(s[4] for s in enc["skips"]))


def test_block_seek_decode():
    n = 1000
    rng = np.random.default_rng(7)
    doc_ids = np.sort(rng.choice(10**7, size=n, replace=False))
    tfs = rng.integers(1, 50, size=n)
    dls = rng.integers(20, 500, size=n)
    enc = encode_postings(doc_ids, tfs, dls, avgdl=250.0, block_size=128)
    # decoding block i alone must match the corresponding slice
    for i in range(len(enc["skips"])):
        ids_b, tfs_b, dls_b = decode_block(
            enc["doc_ids_enc"], enc["tfs_enc"], enc["dls_enc"], enc["skips"], i
        )
        s, e = i * 128, min((i + 1) * 128, n)
        assert np.array_equal(ids_b, doc_ids[s:e])
        assert np.array_equal(tfs_b, tfs[s:e])
        assert np.array_equal(dls_b, dls[s:e])


def test_compression_is_effective():
    # dense ascending ids ⇒ gaps are tiny ⇒ ~1 byte per doc
    doc_ids = np.arange(0, 100_000, dtype=np.int64)
    tfs = np.ones(100_000, dtype=np.int64)
    dls = np.full(100_000, 100)
    enc = encode_postings(doc_ids, tfs, dls, avgdl=100.0)
    assert len(enc["doc_ids_enc"]) < 110_000  # ≈1.0–1.1 B/doc vs 8 B raw


@given(
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=300, unique=True),
)
@settings(max_examples=30, deadline=None)
def test_block_max_is_float32_safe_upper_bound(ids):
    """Stored impact bounds must remain UPPER bounds after the float32
    parquet round-trip: for every block, float32(stored) >= max exact
    float64 impact of the block (cast-to-nearest could round below, making
    WAND's block skip unsound)."""
    import numpy as np

    from engine.codec import bm25_impact, encode_postings

    ids = np.sort(np.asarray(ids, dtype=np.int64))
    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 50, len(ids)).astype(np.int64)
    dls = rng.integers(5, 500, len(ids)).astype(np.int64)
    avgdl = 100.0
    enc = encode_postings(ids, tfs, dls, avgdl, block_size=32)
    impacts = bm25_impact(tfs, dls, avgdl)
    bounds = np.append(np.arange(0, len(ids), 32), len(ids))
    for bi, s in enumerate(enc["skips"]):
        true_max = float(impacts[bounds[bi]:bounds[bi + 1]].max())
        stored_f32 = np.float32(s[4])
        assert float(stored_f32) >= true_max
    assert float(np.float32(enc["block_max"])) >= float(impacts.max())


# ---------------------------------------------------------------------------
# batching boundaries: the batched core (encode_lists / decode_rows) must be
# byte-identical to running it on a batch of one, list by list


_SKIP_FIELDS = ("first_doc", "doc_off", "tf_off", "dl_off", "max_impact")


@st.composite
def _posting_batches(draw):
    """(block_size, lists, seed): lists of unique doc ids with tf/dl values,
    lengths straddling the block boundaries, values up to 2^40 (multi-byte
    varints in all three streams)."""
    bs = draw(st.sampled_from([1, 2, 4, 16, 128]))
    length = st.sampled_from([1, bs, bs + 1, 2 * bs + 3]) | st.integers(1, 300)
    lens = draw(st.lists(length, min_size=1, max_size=8))
    big = draw(st.sampled_from([2**7, 2**14, 2**40]))
    seed = draw(st.integers(0, 2**32 - 1))
    rng = np.random.default_rng(seed)
    lists = []
    for n in lens:
        ids = np.cumsum(rng.integers(1, big, n)) + int(rng.integers(0, big))
        lists.append((rng.permutation(ids), rng.integers(1, big, n), rng.integers(1, big, n)))
    return bs, lists, seed


def _leb128(v: int) -> bytes:
    out = bytearray()
    while True:
        byte, v = v & 0x7F, v >> 7
        out.append(byte | (0x80 if v else 0))
        if not v:
            return bytes(out)


def _reference_encode(ids, tfs, dls, avgdl, bs):
    """Per-value Python loop reference for one list: block-restarted gaps,
    LEB128 bytes, skip byte offsets, float32-rounded-up impact maxima per
    block and for the whole list."""
    from engine.codec import _f32_ceil, bm25_impact

    order = np.argsort(ids, kind="stable")
    ids, tfs, dls = ids[order].tolist(), tfs[order].tolist(), dls[order].tolist()
    imp = bm25_impact(np.array(tfs), np.array(dls), avgdl)
    streams, skips = [b"", b"", b""], []
    for s in range(0, len(ids), bs):
        skips.append((ids[s], *(len(x) for x in streams),
                      float(_f32_ceil(imp[s:s + bs].max(keepdims=True))[0])))
        for i in range(s, min(s + bs, len(ids))):
            gap = ids[i] - (ids[i - 1] if i > s else 0)
            for k, v in enumerate((gap, tfs[i], dls[i])):
                streams[k] += _leb128(v)
    return streams, skips, float(_f32_ceil(imp.max(keepdims=True))[0])


@given(_posting_batches())
@settings(max_examples=80, deadline=None)
def test_batch_encode_decode_equals_batch_of_one(batch):
    from engine.codec import decode_rows, encode_lists

    bs, lists, seed = batch
    avgdl = 57.5
    lid = np.concatenate([np.full(len(ids), j) for j, (ids, _, _) in enumerate(lists)])
    ids, tfs, dls = (np.concatenate([lst[k] for lst in lists]) for k in range(3))
    perm = np.random.default_rng(seed).permutation(len(ids))  # interleave lists
    enc = encode_lists(ids[perm], tfs[perm], dls[perm], lid[perm], len(lists), avgdl, bs)
    ones = [encode_postings(i, t, d, avgdl, bs) for i, t, d in lists]
    for one, (i, t, d) in zip(ones, lists):
        streams, skips, list_max = _reference_encode(i, t, d, avgdl, bs)
        assert [one["doc_ids_enc"], one["tfs_enc"], one["dls_enc"]] == streams
        assert one["skips"] == skips and one["block_max"] == list_max
    for j, one in enumerate(ones):
        for c in ("doc_ids_enc", "tfs_enc", "dls_enc", "skips"):
            assert enc[c][j] == one[c], (j, c)
        assert float(enc["block_max"][j]) == one["block_max"]
        assert int(enc["df"][j]) == one["df"] and int(enc["cf"][j]) == one["cf"]

    # decode the concatenated rows at once; skip entries as tuples on even
    # rows and as Arrow-struct dicts on odd rows (both reach the decoder)
    skips = [
        sk if j % 2 == 0 else [dict(zip(_SKIP_FIELDS, s)) for s in sk]
        for j, sk in enumerate(enc["skips"])
    ]
    got_ids, got_tfs, got_dls, counts = decode_rows(
        enc["doc_ids_enc"], skips, enc["tfs_enc"], enc["dls_enc"]
    )
    assert counts.tolist() == [len(i) for i, _, _ in lists]
    only_ids = decode_rows(enc["doc_ids_enc"], skips)
    assert only_ids[1] is None and np.array_equal(only_ids[0], got_ids)
    at = np.concatenate([[0], np.cumsum(counts)])
    for j, one in enumerate(ones):
        want = decode_postings(one["doc_ids_enc"], one["tfs_enc"], one["dls_enc"], one["skips"])
        s, e = at[j], at[j + 1]
        for got, w in zip((got_ids[s:e], got_tfs[s:e], got_dls[s:e]), want):
            assert np.array_equal(got, w), j
        order = np.argsort(lists[j][0])
        assert np.array_equal(want[0], lists[j][0][order])


@given(_posting_batches())
@settings(max_examples=40, deadline=None)
def test_expunge_batch_equals_per_row_reencode(batch):
    """The expunge kernel rewrites a whole batch of posting rows at once:
    every surviving row equals a batch-of-one re-encode of its live postings
    under the new avgdl, and a row that loses every posting to the drop set
    disappears."""
    import pandas as pd

    from engine.index import POSTINGS_SCHEMA
    from engine.mutate import _expunge_pdf

    bs, lists, seed = batch
    rng = np.random.default_rng(seed)
    rows, drop = [], [lists[0][0]]  # row 0 loses every posting
    for j, (ids, tfs, dls) in enumerate(lists):
        e = encode_postings(ids, tfs, dls, 40.0, bs)
        rows.append((j, j % 3, 0, 1, 0, e["df"], e["cf"], e["doc_ids_enc"],
                     e["tfs_enc"], e["dls_enc"], e["skips"], e["block_max"]))
        drop.append(ids[rng.random(len(ids)) < 0.3])
    drop = np.unique(np.concatenate(drop))
    pdf = pd.DataFrame(rows, columns=[f.name for f in POSTINGS_SCHEMA.fields])
    out = _expunge_pdf(pdf, drop, 33.25, bs)

    want = {}
    for j, (ids, tfs, dls) in enumerate(lists):
        live = ~np.isin(ids, drop)
        if live.any():
            want[j] = encode_postings(ids[live], tfs[live], dls[live], 33.25, bs)
    assert 0 not in want and out["tid"].tolist() == sorted(want)
    for r in out.itertuples(index=False):
        w = want[r.tid]
        assert (r.bucket, r.shard, r.seg_id, r.part) == (r.tid % 3, 0, 1, 0)
        assert (r.doc_ids_enc, r.tfs_enc, r.dls_enc) == (
            w["doc_ids_enc"], w["tfs_enc"], w["dls_enc"])
        assert list(r.skips) == w["skips"]
        assert (float(r.block_max), r.df, r.cf) == (w["block_max"], w["df"], w["cf"])
