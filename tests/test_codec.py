"""Codec round-trip tests (reference analog: DiffByteUtilsTest.java)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gazetteer_spark.index.codec import (
    BLOCK,
    _varbyte_decode,
    _varbyte_decode_grouped,
    _varbyte_encode,
    decode_block_meta,
    decode_blocks,
    decode_positions,
    decode_positions_grouped,
    decode_postings,
    decode_postings_grouped,
    encode_blocks_grouped,
    encode_positions_grouped,
    encode_postings,
)

CASES = [
    ([5], [1]),                                           # single posting
    (list(range(1000)), [1] * 1000),                      # dense delta=1, 8 blocks
    ([0, 2**40, 2**62, 2**62 + 1], [1, 2, 3, 2**31 - 1]),  # sparse 64-bit gaps
    ([-(2**62), -5, 0, 7], [1, 1, 1, 1]),                 # negative docids (xxhash64)
    ([-(2**63), 2**63 - 1], [1, 1]),                      # extreme range
    (list(range(0, 2**40, 2**33))[:300], [7] * 128),      # multi-block big gaps
]
CASES[-1] = (CASES[-1][0][:128], [7] * 128)  # exactly one full block


@pytest.mark.parametrize("docids,tfs", CASES)
def test_roundtrip(docids, tfs):
    tfs = tfs[: len(docids)]
    buf, meta = encode_postings(np.array(docids), np.array(tfs))
    d, t = decode_postings(buf)
    assert d.tolist() == docids
    assert t.tolist() == tfs


def test_empty():
    buf, meta = encode_postings(np.array([], dtype=np.int64), np.array([]))
    assert buf == b"" and meta == b""
    d, t = decode_postings(b"")
    assert len(d) == 0 and len(t) == 0


def test_rejects_unsorted():
    with pytest.raises(ValueError):
        encode_postings(np.array([3, 1]), np.array([1, 1]))


def test_compression_beats_naive():
    docids = np.arange(10_000, dtype=np.int64) * 3 + 1_000_000
    tfs = np.ones(10_000, dtype=np.int64)
    buf, meta = encode_postings(docids, tfs)
    assert len(buf) + len(meta) < 10_000 * 12  # naive = 8B docid + 4B tf


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1, max_size=400, unique=True,
    ),
    st.data(),
)
def test_roundtrip_property(docids, data):
    docids = sorted(docids)
    tfs = [data.draw(st.integers(min_value=1, max_value=2**31 - 1)) for _ in docids]
    buf, meta = encode_postings(np.array(docids, dtype=np.int64), np.array(tfs))
    d, t = decode_postings(buf)
    assert d.tolist() == docids
    assert t.tolist() == tfs


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=200))
def test_varbyte_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert _varbyte_decode(_varbyte_encode(arr)).tolist() == vals


def test_block_meta_and_selective_decode():
    n = BLOCK * 2 + 10
    docids = np.arange(n, dtype=np.int64) * 5
    tfs = np.arange(1, n + 1, dtype=np.int64)
    dls = np.arange(100, 100 + n, dtype=np.int64)
    buf, meta = encode_postings(docids, tfs, dls)
    last, max_tf, min_dl, ends = decode_block_meta(meta)
    assert last.tolist() == [(BLOCK - 1) * 5, (2 * BLOCK - 1) * 5, (n - 1) * 5]
    assert max_tf.tolist() == [BLOCK, 2 * BLOCK, n]
    assert min_dl.tolist() == [100, 100 + BLOCK, 100 + 2 * BLOCK]
    assert ends[-1] == len(buf)
    # decode only block 1
    d, t = decode_blocks(buf, ends, np.array([1]))
    assert d.tolist() == docids[BLOCK : 2 * BLOCK].tolist()
    assert t.tolist() == tfs[BLOCK : 2 * BLOCK].tolist()
    # blocks 0 and 2
    d, t = decode_blocks(buf, ends, np.array([0, 2]))
    expect = np.concatenate([docids[:BLOCK], docids[2 * BLOCK :]])
    assert d.tolist() == expect.tolist()


def test_grouped_encode_equals_per_list():
    rng = np.random.RandomState(7)
    lists = []
    for ln in (1, 3, 130, 256, 300, 77):
        pool = np.unique(rng.randint(0, 10**9, size=ln * 3).astype(np.int64))
        ids = np.sort(rng.permutation(pool)[:ln])
        tfs = rng.randint(1, 50, size=ln).astype(np.int64)
        dls = rng.randint(10, 500, size=ln).astype(np.int64)
        lists.append((ids, tfs, dls))
    cat_ids = np.concatenate([x[0] for x in lists])
    cat_tfs = np.concatenate([x[1] for x in lists])
    cat_dls = np.concatenate([x[2] for x in lists])
    lens = np.array([len(x[0]) for x in lists])
    ends = np.cumsum(lens)
    starts = ends - lens
    posts, metas = encode_blocks_grouped(cat_ids, cat_tfs, cat_dls, starts, ends)
    for (ids, tfs, dls), p, m in zip(lists, posts, metas):
        p1, m1 = encode_postings(ids, tfs, dls)
        assert p == p1 and m == m1
        d, t = decode_postings(p)
        assert d.tolist() == ids.tolist() and t.tolist() == tfs.tolist()


def test_positions_encode_rejects_maxpos_overflow():
    """A document with ≥ 2^21 analyzed tokens must be rejected at positional
    encode time — silently encoding it would alias the packed
    rank*MAXPOS+pos keys the phrase/NEAR executors rely on."""
    from gazetteer_spark.index.codec import MAXPOS, encode_positions_grouped

    positions = np.array([0, 5, MAXPOS], dtype=np.int64)  # one run of 3
    tfs = np.array([3], dtype=np.int64)
    with pytest.raises(ValueError, match="MAXPOS"):
        encode_positions_grouped(
            positions, tfs, np.array([0], np.int64), np.array([1], np.int64)
        )
    # one below the cap encodes fine
    ok = encode_positions_grouped(
        np.array([0, 5, MAXPOS - 1], dtype=np.int64), tfs,
        np.array([0], np.int64), np.array([1], np.int64)
    )
    assert len(ok) == 1 and len(ok[0]) > 0


def test_delindex_merges_duplicate_generations():
    """One generation may contribute MULTIPLE dels buffers (per-shard dels
    rows replicated into a term-layout bucket) — they merge instead of
    falling into ambiguous ndarray comparison on the gen tie."""
    from gazetteer_spark.index.codec import DelIndex

    b1, _ = encode_postings(np.array([3, 7]), np.array([1, 1]))
    b2, _ = encode_postings(np.array([5, 7]), np.array([1, 1]))
    b3, _ = encode_postings(np.array([9]), np.array([1]))
    d = DelIndex([(2, b1), (2, b2), (4, b3)])
    assert d.mask_for(1).tolist() == [3, 5, 7, 9]   # both gen-2 + gen-4
    assert d.mask_for(3).tolist() == [9]            # only newer gen masks
    keep = d.keep_mask(1, np.array([1, 3, 5, 8, 9]))
    assert keep.tolist() == [True, False, False, True, False]


# ---- grouped decoders: each equals its per-blob counterpart -------------

# list sizes straddling the 128-posting block boundary, plus small ones
_SIZES = st.one_of(st.sampled_from([0, 1, 128, 129, 257]),
                   st.integers(min_value=0, max_value=20))


@st.composite
def _posting_lists(draw, min_lists=0):
    """[(docids, tfs)]: sorted unique docids (some ≥ 2^35, some negative
    for the zigzag first value), tfs ≥ 1; empty lists included."""
    lists = []
    for _ in range(draw(st.integers(min_value=min_lists, max_value=6))):
        n = draw(_SIZES)
        rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
        base = draw(st.sampled_from([0, 2**35, 2**40 + 3, -(2**62)]))
        ids = base + np.cumsum(rng.integers(1, 2**36, size=n))
        lists.append((ids.astype(np.int64), rng.integers(1, 6, size=n)))
    return lists


def _positions_blob(ids, tfs, seed):
    """A positions blob for one posting list → (blob, flat positions)."""
    rng = np.random.default_rng(seed)
    runs = [np.sort(rng.choice(4000, size=int(t), replace=False))
            for t in tfs]
    flat = np.concatenate(runs) if runs else np.zeros(0, np.int64)
    blob = encode_positions_grouped(
        flat, tfs, np.array([0], np.int64), np.array([len(ids)], np.int64))[0]
    return blob, flat


@settings(max_examples=40, deadline=None)
@given(st.lists(st.lists(st.integers(min_value=0, max_value=2**64 - 1),
                         max_size=40), max_size=8))
def test_varbyte_decode_grouped_equals_per_buffer(groups):
    bufs = [_varbyte_encode(np.array(g, dtype=np.uint64)) for g in groups]
    vals, counts = _varbyte_decode_grouped(bufs + [None])
    assert vals.tolist() == [v for b in bufs for v in _varbyte_decode(b).tolist()]
    assert counts.tolist() == [len(g) for g in groups] + [0]


@settings(max_examples=40, deadline=None)
@given(_posting_lists())
def test_decode_postings_grouped_equals_per_blob(lists):
    bufs = [encode_postings(ids, tfs)[0] for ids, tfs in lists]
    docids, tfs, counts = decode_postings_grouped(bufs)
    want = [decode_postings(b) for b in bufs]
    assert docids.tolist() == [d for w in want for d in w[0].tolist()]
    assert tfs.tolist() == [t for w in want for t in w[1].tolist()]
    assert counts.tolist() == [len(ids) for ids, _ in lists]


@settings(max_examples=40, deadline=None)
@given(_posting_lists(), st.integers(0, 2**32 - 1))
def test_decode_positions_grouped_equals_per_blob(lists, seed):
    blobs = [_positions_blob(ids, tfs, seed + i)[0]
             for i, (ids, tfs) in enumerate(lists)]
    all_tfs = np.concatenate([t for _, t in lists] + [np.zeros(0, np.int64)])
    counts = np.array([len(ids) for ids, _ in lists], np.int64)
    got = decode_positions_grouped(blobs, all_tfs, counts)
    want = [p for b, (_, t) in zip(blobs, lists)
            for p in decode_positions(b, t).tolist()]
    assert got.tolist() == want


@settings(max_examples=30, deadline=None)
@given(_posting_lists(min_lists=2), st.integers(0, 2**32 - 1), st.data())
def test_decode_positions_grouped_rejects_row_tf_mismatch(lists, seed, data):
    """A row whose stream length differs from its tf sum raises, even when
    another row's opposite error keeps the bucket's total equal."""
    lists = [(ids, tfs) for ids, tfs in lists if len(ids)]
    if len(lists) < 2:
        lists = [(np.array([2**35, 2**35 + 9]), np.array([2, 1])),
                 (np.array([5]), np.array([3]))]
    blobs = [_positions_blob(ids, tfs, seed + i)[0]
             for i, (ids, tfs) in enumerate(lists)]
    a, b = data.draw(st.sampled_from([(0, 1), (1, 0)]))
    bad = [t.copy() for _, t in lists]
    bad[a][0] += 1
    bad[b][0] += 1 if bad[b][0] == 1 else -1  # total off by 0 or 2
    counts = np.array([len(ids) for ids, _ in lists], np.int64)
    with pytest.raises(ValueError, match="tf sum"):
        decode_positions_grouped(blobs, np.concatenate(bad), counts)
    with pytest.raises(ValueError, match="tf sum"):
        decode_positions(blobs[a], bad[a])


def test_grouped_decoders_empty_input():
    d, t, c = decode_postings_grouped([])
    assert len(d) == len(t) == len(c) == 0
    v, c = _varbyte_decode_grouped([b"", None])
    assert len(v) == 0 and c.tolist() == [0, 0]
    assert len(decode_positions_grouped([b"", None], np.zeros(0, np.int64),
                                        np.zeros(2, np.int64))) == 0
    with pytest.raises(ValueError, match="tf sum"):  # tfs but no stream
        decode_positions_grouped([b""], np.array([2]), np.array([1]))


def test_varbyte_decode_grouped_rejects_split_value():
    """A buffer ending on a continuation byte would leak into the next
    buffer's first value — refused, never silently re-framed."""
    whole = _varbyte_encode(np.array([300], dtype=np.uint64))  # 2 bytes
    with pytest.raises(ValueError, match="inside a value"):
        _varbyte_decode_grouped([whole[:1], whole[1:]])
