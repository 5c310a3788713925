"""Delta + varbyte posting-list codec with independently-decodable blocks.

Reference parity: gazetteer's compact bit-packed ID codec with
length-prefixed structure (`diff/indx/ByteUtils.java:155-218` encode,
`292-315` dictionary tails) — ours is the classic IR posting codec.

Layout: postings are split into BLOCKS of 128 entries. Each block is its
own varbyte stream ``[zigzag(first_docid), deltas…, tfs…]`` so the query
executor can decode a single block without touching the rest (true
block-max WAND skipping). Block metadata rows carry
``(last_docid, max_tf, min_dl, byte_end)``:

- ``max_tf``/``min_dl`` give the exact-safe per-block BM25 upper bound
  (tfnorm is monotone ↑tf, ↓dl — the bound is evaluated at query time with
  the same float ops as scoring);
- ``byte_end`` is the block's end offset inside the postings buffer, so
  ``buf[end[i-1]:end[i]]`` is block i.

Everything is numpy array-at-a-time — no per-element Python in encode or
decode; whole shards encode in ONE vectorized pass
(:func:`encode_blocks_grouped`, :func:`encode_positions_grouped`).

Grouped decoders are the merge-side twins: they take MANY buffers (one
per segment row) and decode them in one pass over their concatenation,
returning flat columns plus per-buffer counts —

- :func:`_varbyte_decode_grouped` → (values, values per buffer);
- :func:`decode_postings_grouped` → (docids, tfs, postings per buffer);
- :func:`decode_positions_grouped` → flat positions, stripping each
  blob's block header and checking each row's length against its tf sum.

Each equals its per-buffer counterpart (:func:`_varbyte_decode`,
:func:`decode_postings`, :func:`decode_positions`) on every buffer.
"""

from __future__ import annotations

import numpy as np

BLOCK = 128

# positions are in-document token indexes; 2^21 (2M tokens/doc) leaves 2^42
# doc ranks per shard in the ``rank*MAXPOS + pos`` packed keys of the
# positional kernel (positional.py) — both far beyond any real segment.
# Enforced at encode time: a position ≥ MAXPOS would silently alias packed
# keys.
MAXPOS = 1 << 21

_THRESHOLDS = [np.uint64(1) << np.uint64(7 * i) for i in range(1, 10)]

_BLOCK_DT = np.dtype(
    [("last", "<i8"), ("max_tf", "<i4"), ("min_dl", "<i4"), ("end", "<i8")]
)


def _varbyte_encode_offsets(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """values: uint64 array → (uint8 byte array, per-value END byte offsets)."""
    v = values.astype(np.uint64, copy=False)
    n = len(v)
    if n == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    nbytes = np.ones(n, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += (v >= t).astype(np.int64)
    ends = np.cumsum(nbytes)
    total = int(ends[-1])
    starts = ends - nbytes
    out = np.zeros(total, dtype=np.uint8)
    for j in range(10):
        mask = nbytes > j
        if not mask.any():
            break
        pos = starts[mask] + j
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1 > j).astype(np.uint8) << 7
        out[pos] = chunk.astype(np.uint8) | cont
    return out, ends


def _varbyte_encode(values: np.ndarray) -> bytes:
    out, _ = _varbyte_encode_offsets(values)
    return out.tobytes()


def _varbyte_decode(buf) -> np.ndarray:
    """varbyte bytes → uint64 array (vectorized segmented shift-or)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    vid = np.zeros(len(b), dtype=np.int64)
    vid[1:] = np.cumsum(is_last[:-1])
    nvals = int(vid[-1]) + 1
    starts = np.zeros(nvals, dtype=np.int64)
    starts[1:] = np.nonzero(is_last[:-1])[0] + 1
    bytepos = np.arange(len(b), dtype=np.int64) - starts[vid]
    out = np.zeros(nvals, dtype=np.uint64)
    np.bitwise_or.at(
        out, vid, (b & np.uint8(0x7F)).astype(np.uint64) << (7 * bytepos).astype(np.uint64)
    )
    return out


def _varbyte_decode_joined(b: np.ndarray, lens: np.ndarray):
    """Concatenated varbyte buffers (uint8 ``b``, byte length per buffer
    ``lens``) → (uint64 values, values per buffer). Every buffer must end
    on a value's last byte, so no value straddles two buffers."""
    ends = np.cumsum(lens)
    is_last = (b & 0x80) == 0
    full = lens > 0
    if not is_last[ends[full] - 1].all():
        raise ValueError("varbyte buffer ends inside a value")
    nlast = np.concatenate([[0], np.cumsum(is_last)])
    counts = nlast[ends] - nlast[ends - lens]
    if len(b) == 0:
        return np.zeros(0, dtype=np.uint64), counts
    opens = np.concatenate([[True], is_last[:-1]])  # a value's first byte
    first = np.flatnonzero(opens)
    vid = np.cumsum(opens) - 1
    bytepos = np.arange(len(b), dtype=np.int64) - first[vid]
    chunks = (b & np.uint8(0x7F)).astype(np.uint64) << (7 * bytepos).astype(np.uint64)
    return np.bitwise_or.reduceat(chunks, first), counts


def _join(bufs) -> tuple[np.ndarray, np.ndarray]:
    """Buffers (None = empty) → (one uint8 array, byte length per buffer)."""
    bufs = [b"" if x is None else x for x in bufs]
    lens = np.fromiter(map(len, bufs), dtype=np.int64, count=len(bufs))
    return np.frombuffer(b"".join(bufs), dtype=np.uint8), lens


def _varbyte_decode_grouped(bufs) -> tuple[np.ndarray, np.ndarray]:
    """Many varbyte buffers → (flat uint64 values, values per buffer)."""
    return _varbyte_decode_joined(*_join(bufs))


def _zigzag_vec(d: np.ndarray) -> np.ndarray:
    u = d.astype(np.uint64)
    return (u << np.uint64(1)) ^ (d >> 63).astype(np.uint64)


def _unzigzag_vec(u: np.ndarray) -> np.ndarray:
    return ((u >> np.uint64(1)) ^ (np.uint64(0) - (u & np.uint64(1)))).astype(np.int64)


def _block_bounds(starts: np.ndarray, ends: np.ndarray):
    """Split each list range into BLOCK-sized chunks, fully vectorized.

    Returns (b_starts, b_ends, nblocks_per_list)."""
    lens = ends - starts
    nblocks = np.maximum((lens + BLOCK - 1) // BLOCK, 0).astype(np.int64)
    total = int(nblocks.sum())
    if total == 0:
        return (np.zeros(0, np.int64), np.zeros(0, np.int64), nblocks)
    list_of_block = np.repeat(np.arange(len(starts)), nblocks)
    first_block = np.concatenate([[0], np.cumsum(nblocks)[:-1]])
    intra = np.arange(total, dtype=np.int64) - first_block[list_of_block]
    b_starts = starts[list_of_block] + intra * BLOCK
    b_ends = np.minimum(b_starts + BLOCK, ends[list_of_block])
    return b_starts, b_ends, nblocks


def encode_blocks_grouped(
    docids: np.ndarray, tfs: np.ndarray, doclens: np.ndarray,
    starts: np.ndarray, ends: np.ndarray,
) -> tuple[list[bytes], list[bytes]]:
    """Encode MANY posting lists (concatenated, each sorted ascending) in one
    vectorized pass → ([postings bytes per list], [block meta per list])."""
    nlists = len(starts)
    if len(docids) == 0:
        return [b""] * nlists, [b""] * nlists
    d = docids.astype(np.int64, copy=False)
    t = tfs.astype(np.uint64, copy=False)

    b_starts, b_ends, nblocks = _block_bounds(
        np.asarray(starts, np.int64), np.asarray(ends, np.int64)
    )
    n = len(d)
    deltas = np.empty(n, dtype=np.uint64)
    deltas[1:] = d[1:].astype(np.uint64) - d[:-1].astype(np.uint64)  # wraps ok
    deltas[b_starts] = _zigzag_vec(d[b_starts])

    # value stream: per block, its deltas then its tfs
    blens = b_ends - b_starts
    s_row = np.repeat(b_starts, blens)
    e_row = np.repeat(b_ends, blens)
    idx = np.arange(n, dtype=np.int64)
    vals = np.empty(2 * n, dtype=np.uint64)
    vals[idx + s_row] = deltas
    vals[idx + e_row] = t
    buf, vends = _varbyte_encode_offsets(vals)
    vstarts = np.concatenate([[0], vends])
    raw = buf.tobytes()
    mv = memoryview(raw)

    # per-block byte ranges (blocks are consecutive per list)
    blk_byte_start = vstarts[2 * b_starts]
    blk_byte_end = vstarts[2 * b_ends]  # == vstarts[2*b_start + 2*blen]

    # per-block metadata
    meta = np.empty(len(b_starts), dtype=_BLOCK_DT)
    meta["last"] = d[b_ends - 1]
    if len(b_starts):
        meta["max_tf"] = np.maximum.reduceat(tfs, b_starts)
        meta["min_dl"] = np.minimum.reduceat(doclens, b_starts)
    meta_raw = meta.tobytes()  # "end" filled per list below
    isz = _BLOCK_DT.itemsize

    posts_out: list[bytes] = []
    meta_out: list[bytes] = []
    first_block = np.concatenate([[0], np.cumsum(nblocks)[:-1]])
    for li in range(nlists):
        fb = int(first_block[li])
        nb = int(nblocks[li])
        if nb == 0:
            posts_out.append(b"")
            meta_out.append(b"")
            continue
        base = int(blk_byte_start[fb])
        posts_out.append(bytes(mv[base : int(blk_byte_end[fb + nb - 1])]))
        m = np.frombuffer(meta_raw[fb * isz : (fb + nb) * isz], dtype=_BLOCK_DT).copy()
        m["end"] = blk_byte_end[fb : fb + nb] - base
        meta_out.append(m.tobytes())
    return posts_out, meta_out


def encode_postings(docids: np.ndarray, tfs: np.ndarray,
                    doclens: np.ndarray | None = None) -> tuple[bytes, bytes]:
    """Single-list convenience wrapper → (postings bytes, blockmeta bytes)."""
    d = np.asarray(docids, dtype=np.int64)
    t = np.asarray(tfs, dtype=np.int64)
    if len(d) == 0:
        return b"", b""
    if len(d) > 1 and not (d[1:] > d[:-1]).all():
        raise ValueError("docids must be strictly increasing")
    dl = np.asarray(doclens, dtype=np.int64) if doclens is not None else np.ones_like(d)
    p, m = encode_blocks_grouped(
        d, t, dl, np.array([0], np.int64), np.array([len(d)], np.int64)
    )
    return p[0], m[0]


def encode_positions_grouped(
    positions: np.ndarray, tfs: np.ndarray,
    starts: np.ndarray, ends: np.ndarray,
) -> list[bytes]:
    """Encode the optional POSITIONS stream (layout v2) for many posting
    lists in one vectorized pass.

    ``positions`` is the flat concatenation of every posting's in-document
    token positions (strictly increasing per posting), aligned with the
    (term, docid)-sorted posting order; ``tfs`` gives each posting's run
    length; ``starts``/``ends`` are per-term POSTING ranges (same arrays as
    :func:`encode_blocks_grouped`). Per-posting delta coding: first position
    raw, then gaps (≥1) — plain varbyte, no zigzag needed.

    Blob layout (self-contained, BLOCK-aligned with the postings stream):
    ``uint32 n_blocks | int64[n_blocks] block byte-ends | varbyte stream``.
    Block b's bytes are ``stream[end[b-1]:end[b]]`` and are independently
    decodable (every posting's run starts with a raw value and a posting
    never crosses a block) — so phrase/NEAR executors can decode ONLY the
    blocks holding candidate docs (:func:`decode_positions_blocks`), the
    positional analog of block-max skipping."""
    nlists = len(starts)
    n = len(positions)
    s_arr = np.asarray(starts, np.int64)
    e_arr = np.asarray(ends, np.int64)
    if n == 0:
        return [b""] * nlists
    p = positions.astype(np.uint64, copy=False)
    pmax = int(p.max())
    if pmax >= MAXPOS:
        raise ValueError(
            f"token position {pmax} >= MAXPOS ({MAXPOS}): a document has "
            "≥ 2^21 analyzed tokens, which would alias the packed "
            "rank*MAXPOS+pos keys at query time — split oversized "
            "documents before positional indexing"
        )
    t = np.asarray(tfs, np.int64)
    deltas = np.empty(n, dtype=np.uint64)
    deltas[1:] = p[1:] - p[:-1]  # wraps at run boundaries, overwritten next
    run_starts = np.concatenate([[0], np.cumsum(t)[:-1]])
    deltas[run_starts] = p[run_starts]
    buf, vends = _varbyte_encode_offsets(deltas)
    vstarts = np.concatenate([[0], vends])
    cum = np.concatenate([[0], np.cumsum(t)])
    raw = buf.tobytes()
    mv = memoryview(raw)
    b_starts, b_ends, nblocks = _block_bounds(s_arr, e_arr)
    first_block = np.concatenate([[0], np.cumsum(nblocks)[:-1]])
    out: list[bytes] = []
    for li in range(nlists):
        s, e = int(s_arr[li]), int(e_arr[li])
        nb = int(nblocks[li])
        base = vstarts[cum[s]]
        stream = bytes(mv[base : vstarts[cum[e]]])
        fb = int(first_block[li])
        blk_ends = (
            vstarts[cum[b_ends[fb : fb + nb]]] - base
        ).astype("<i8") if nb else np.zeros(0, "<i8")
        out.append(
            np.uint32(nb).tobytes() + blk_ends.tobytes() + stream
        )
    return out


def _split_positions_blob(buf: bytes):
    """blob → (block byte-ends int64[], stream memoryview)."""
    nb = int(np.frombuffer(buf[:4], dtype="<u4")[0])
    head = 4 + 8 * nb
    ends = np.frombuffer(buf[4:head], dtype="<i8")
    return ends, memoryview(buf)[head:]


def decode_positions(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Positions blob + per-posting tfs → flat int64 positions (aligned with
    the posting order the blob was encoded in). Segmented prefix-sum with a
    reset at every posting's first value — all numpy, no Python loop."""
    t = np.asarray(tfs, np.int64)
    if len(buf) == 0:
        if int(t.sum()) if len(t) else 0:
            raise ValueError("positions stream length does not match tf sum")
        return np.zeros(0, dtype=np.int64)
    _, stream = _split_positions_blob(buf)
    vals = _varbyte_decode(np.frombuffer(stream, dtype=np.uint8)).astype(np.int64)
    if len(vals) != int(t.sum()):
        raise ValueError("positions stream length does not match tf sum")
    return _undelta_runs(vals, t)


def _undelta_runs(vals: np.ndarray, t: np.ndarray) -> np.ndarray:
    """Per-posting delta values (runs of ``t`` values each) → positions:
    a segmented prefix sum that resets at every run's first value."""
    if len(vals) == 0:
        return np.zeros(0, dtype=np.int64)
    cum = np.cumsum(vals)
    run_starts = np.concatenate([[0], np.cumsum(t)[:-1]])
    corr = cum[run_starts] - vals[run_starts]
    return cum - np.repeat(corr, t)


def decode_positions_grouped(bufs, tfs: np.ndarray,
                             counts: np.ndarray) -> np.ndarray:
    """Many positions blobs (one per posting row) → flat int64 positions
    in one pass. ``tfs`` is the rows' concatenated per-posting tfs and
    ``counts`` the postings per row (as :func:`decode_postings_grouped`
    returns them). Each blob's block header is stripped, every row's
    stream must hold exactly its tf sum of values, and the result equals
    concatenating :func:`decode_positions` over the rows."""
    t = np.asarray(tfs, np.int64)
    counts = np.asarray(counts, np.int64)
    raw, lens = _join(bufs)
    full = np.flatnonzero(lens)
    offs = np.cumsum(lens) - lens
    if (lens[full] < 4).any():
        raise ValueError("positions blob shorter than its header")
    nb = raw[offs[full, None] + np.arange(4)].view("<u4").ravel()
    head = 4 + 8 * nb.astype(np.int64)
    if (head > lens[full]).any():
        raise ValueError("positions blob shorter than its header")
    seg = np.empty(2 * len(full), dtype=np.int64)
    seg[0::2] = head
    seg[1::2] = lens[full] - head
    in_stream = np.repeat(np.tile([False, True], len(full)), seg)
    stream_lens = np.zeros(len(lens), dtype=np.int64)
    stream_lens[full] = lens[full] - head
    vals, got = _varbyte_decode_joined(raw[in_stream], stream_lens)
    tf_cum = np.concatenate([[0], np.cumsum(t)])
    row_ends = np.cumsum(counts)
    if not np.array_equal(got, tf_cum[row_ends] - tf_cum[row_ends - counts]):
        raise ValueError("positions stream length does not match tf sum")
    return _undelta_runs(vals.astype(np.int64), t)


def decode_positions_blocks(
    buf: bytes, block_idx: np.ndarray, tfs_sel: np.ndarray
) -> np.ndarray:
    """Selective positions decode: only ``block_idx`` (sorted unique)
    blocks' bytes are touched. ``tfs_sel`` is the per-posting tf array of
    exactly those blocks' postings (as returned by
    :func:`decode_blocks` with the same ``block_idx``)."""
    t = np.asarray(tfs_sel, np.int64)
    if len(block_idx) == 0 or len(buf) == 0:
        return np.zeros(0, dtype=np.int64)
    ends, stream = _split_positions_blob(buf)
    bstarts = np.concatenate([[0], ends[:-1]])
    parts = [stream[bstarts[i] : ends[i]] for i in block_idx]
    joined = b"".join(bytes(p) for p in parts)
    vals = _varbyte_decode(np.frombuffer(joined, dtype=np.uint8)).astype(np.int64)
    if len(vals) != int(t.sum()):
        raise ValueError("selected positions do not match tf sum")
    return _undelta_runs(vals, t)


def gather_runs(flat: np.ndarray, tfs: np.ndarray, order: np.ndarray) -> np.ndarray:
    """Reorder variable-length runs: ``flat`` holds len(tfs) runs of sizes
    ``tfs``; return the runs concatenated in ``order``. Vectorized gather —
    used when merging generations' posting lists into docid order."""
    t = np.asarray(tfs, np.int64)
    if len(flat) == 0 or len(order) == 0:
        return flat[:0]
    run_starts = np.concatenate([[0], np.cumsum(t)[:-1]])
    sel_starts = run_starts[order]
    sel_lens = t[order]
    total = int(sel_lens.sum())
    out_starts = np.concatenate([[0], np.cumsum(sel_lens)[:-1]])
    idx = np.arange(total, dtype=np.int64) - np.repeat(out_starts, sel_lens) + np.repeat(
        sel_starts, sel_lens
    )
    return flat[idx]


def decode_block_meta(buf: bytes):
    """→ (last_docid[], max_tf[], min_dl[], byte_end[])."""
    arr = np.frombuffer(buf, dtype=_BLOCK_DT)
    return (
        arr["last"].copy(), arr["max_tf"].copy(),
        arr["min_dl"].copy(), arr["end"].copy(),
    )


def _decode_blocks_at(stream: np.ndarray, starts: np.ndarray,
                      ends: np.ndarray):
    """Decode consecutive posting blocks ``[starts[b], ends[b])`` (global
    posting indexes, covering 0..n) of a value stream → (docids, tfs).

    A block's values are its deltas then its tfs, so with global posting
    index j, block [s, e)'s delta sits at value s + j and its tf at e + j
    (every list's values start at twice its first posting index)."""
    n = int(ends[-1]) if len(ends) else 0
    if n == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int32)
    blens = ends - starts
    idx = np.arange(n, dtype=np.int64)
    s_row = np.repeat(starts, blens)
    e_row = np.repeat(ends, blens)
    deltas = stream[idx + s_row]
    tfs = stream[idx + e_row]
    gaps = deltas.astype(np.int64)
    firsts = _unzigzag_vec(deltas[starts])
    gaps[starts] = firsts
    csum = np.cumsum(gaps)
    # segmented cumsum: subtract the running total at each block start,
    # then re-add the block's true first docid
    base_correction = csum[starts] - firsts
    docids = csum - np.repeat(base_correction, blens)
    return docids.astype(np.int64), tfs.astype(np.int32)


def _decode_stream(stream: np.ndarray):
    """Decode one posting list's value stream → (docids, tfs). Block
    sizes are implied: every block holds BLOCK postings except the final
    one; the stream holds 2 values per posting."""
    starts = np.arange(0, len(stream) // 2, BLOCK, dtype=np.int64)
    return _decode_blocks_at(stream, starts,
                             np.minimum(starts + BLOCK, len(stream) // 2))


def decode_postings(buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Full-list decode → (docids int64 sorted, tfs int32)."""
    return _decode_stream(_varbyte_decode(buf))


def decode_postings_grouped(bufs) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Many posting buffers (None = empty) → (docids, tfs, postings per
    buffer), decoded in one pass; equals concatenating
    :func:`decode_postings` over the buffers."""
    vals, nvals = _varbyte_decode_grouped(bufs)
    if (nvals & 1).any():
        raise ValueError("posting buffer holds an odd number of values")
    counts = nvals // 2
    ends = np.cumsum(counts)
    starts, ends, _ = _block_bounds(ends - counts, ends)
    docids, tfs = _decode_blocks_at(vals, starts, ends)
    return docids, tfs, counts


def decode_blocks(buf: bytes, byte_ends: np.ndarray,
                  block_idx: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Selective decode of ``block_idx`` (sorted unique) → (docids, tfs).

    Only the chosen blocks' bytes are touched — the block-max WAND skip."""
    if len(block_idx) == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int32)
    b = np.frombuffer(buf, dtype=np.uint8)
    bstarts = np.concatenate([[0], byte_ends[:-1]])
    out_d, out_t = [], []
    for i in block_idx:
        stream = _varbyte_decode(b[bstarts[i] : byte_ends[i]])
        d, t = _decode_stream(stream)
        out_d.append(d)
        out_t.append(t)
    return np.concatenate(out_d), np.concatenate(out_t)


class DelIndex:
    """Generation-ordered tombstones.

    A 'dels' row committed at generation g masks docids only in OLDER
    generations (< g): deleting then re-adding a docid in a later generation
    makes the new document visible again, and a remove recorded at gen g
    never touches an add from gen ≥ g. This is the reference's latest-wins
    timestamp semantics (`sortupdate/SortAndUpdateTask.java:36-85`) with the
    generation number as the timestamp.

    Built per shard/bucket inside applyInPandas workers from the committed
    'dels' segment rows; ``mask_for(gen)`` returns the sorted unique docids
    a posting row of that generation must drop (cached per distinct gen).
    """

    __slots__ = ("_gens", "_ids", "_cache")

    def __init__(self, gens_and_bufs):
        """``gens_and_bufs``: iterable of (generation, postings_bytes).
        A generation may appear MULTIPLE times (e.g. one dels row per
        shard of the same delete, replicated into a term-layout bucket) —
        same-gen buffers are merged, never compared (a bare sort would
        tie on gen and fall into ambiguous ndarray comparison)."""
        pairs = list(gens_and_bufs)
        ids, _, counts = decode_postings_grouped([b for _, b in pairs])
        by_gen: dict[int, list[np.ndarray]] = {}
        for (g, _), part in zip(pairs, np.split(ids, np.cumsum(counts)[:-1])):
            by_gen.setdefault(int(g), []).append(part)
        gens = sorted(by_gen)
        self._gens = np.array(gens, dtype=np.int64)
        self._ids = [
            (np.unique(np.concatenate(by_gen[g])) if len(by_gen[g]) > 1
             else by_gen[g][0])
            for g in gens
        ]
        self._cache: dict[int, np.ndarray] = {}

    @classmethod
    def from_pdf(cls, pdf) -> "DelIndex":
        """From a segment-row pandas frame holding kind=='dels' rows with
        their ``gen`` partition column."""
        dels = pdf[pdf["kind"] == "dels"]
        return cls(zip(dels["gen"].astype(int), dels["postings"]))

    def __bool__(self) -> bool:
        return len(self._gens) > 0

    def mask_for(self, gen: int) -> np.ndarray:
        """Sorted unique docids deleted by generations NEWER than ``gen``."""
        gen = int(gen)
        if gen not in self._cache:
            parts = [ids for g, ids in zip(self._gens, self._ids) if g > gen]
            self._cache[gen] = (
                np.unique(np.concatenate(parts)) if parts
                else np.zeros(0, np.int64)
            )
        return self._cache[gen]

    def keep_mask(self, gen: int, ids: np.ndarray) -> np.ndarray:
        """Boolean mask over ``ids`` (sorted or not): True = doc survives."""
        dels = self.mask_for(gen)
        if len(dels) == 0 or len(ids) == 0:
            return np.ones(len(ids), dtype=bool)
        pos = np.searchsorted(dels, ids)
        hit = (pos < len(dels)) & (dels[np.minimum(pos, len(dels) - 1)] == ids)
        return ~hit
