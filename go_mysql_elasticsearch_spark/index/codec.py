"""Varbyte (LEB128) + delta posting-block codec, numpy-vectorized.

The reference ships its index layout to Elasticsearch/Lucene (outside
the Go repo); this module is our own physical layout (SURVEY.md §4
custom-work item 1): per-(term, shard) posting lists packed into
fixed-size blocks of ``(doc_id delta-varbyte, tf varbyte, dl varbyte)``
with per-block ``(first_doc_id, last_doc_id, n, max_tf, min_dl)``
metadata. ``(max_tf, min_dl)`` gives a BM25 upper bound for block-max
WAND that stays valid when global ``avgdl`` drifts after incremental
updates (score is increasing in tf, decreasing in dl).

Encode/decode are numpy-vectorized: loops run over byte-width (≤10
iterations), never over postings.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # postings per block


def vb_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Varbyte-encode non-negative int64/uint64 values (LEB128,
    little-endian 7-bit groups, high bit = continuation).

    Also returns the per-value byte length, which lets callers encode a
    whole posting list in ONE call and slice per-block byte ranges from
    the cumulative offsets (varbyte is per-value independent, so the
    concatenation of slices is identical to per-block encoding).
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    nb = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nb += (tmp > 0).astype(np.int64)
        tmp = tmp >> np.uint64(7)
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.empty(int(ends[-1]), dtype=np.uint8)
    for g in range(int(nb.max())):
        mask = nb > g
        idx = starts[mask] + g
        byte = ((v[mask] >> np.uint64(7 * g)) & np.uint64(0x7F)).astype(np.uint8)
        cont = ((nb[mask] - 1 > g).astype(np.uint8)) << np.uint8(7)
        out[idx] = byte | cont
    return out.tobytes(), nb


def vb_encode(values: np.ndarray) -> bytes:
    return vb_encode_with_lengths(values)[0]


def vb_decode(buf: bytes) -> np.ndarray:
    """Inverse of :func:`vb_encode`; returns uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    lens = np.diff(np.concatenate(([np.int64(-1)], ends)))
    starts = ends - lens + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for g in range(int(lens.max())):
        mask = lens > g
        idx = starts[mask] + g
        vals[mask] |= (b[idx] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(7 * g)
    return vals


def vb_decode_concat(
    b: np.ndarray, byte_lens: np.ndarray, counts: bool = True
) -> tuple[np.ndarray, np.ndarray | None]:
    """Decode a CONCATENATION of varbyte streams in one vectorized pass.

    Varbyte values are self-delimiting, so the concatenation of N
    streams decodes to the concatenation of their values; ``byte_lens``
    (each stream's byte length) recovers the per-stream value counts by
    counting terminal bytes up to each stream boundary. This is the
    batch fast path for query-time block decode: one numpy pass over a
    whole (term, shard) sub-list instead of one ``vb_decode`` call per
    128-posting block (per-call numpy overhead on tiny arrays dominated
    the driver-path scorer at ~50 us x 30k blocks; see BENCH r4 notes).

    Returns ``(values uint64, values_per_stream int64)``; the second
    element is None when ``counts=False`` (r6: callers that ignore the
    per-stream counts — the tf/dl decodes — skip two full passes).
    """
    byte_lens = np.asarray(byte_lens, dtype=np.int64)
    if b.size == 0:
        z = np.zeros(byte_lens.size, dtype=np.int64) if counts else None
        return np.empty(0, dtype=np.uint64), z
    is_last = (b & 0x80) == 0
    if is_last.all():
        # fast path: every value fits 7 bits (common for tf columns) —
        # the byte stream IS the value stream
        return b.astype(np.uint64), (byte_lens.copy() if counts else None)
    ends = np.flatnonzero(is_last)
    lens = np.diff(np.concatenate(([np.int64(-1)], ends)))
    starts = ends - lens + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for g in range(int(lens.max())):
        mask = lens > g
        idx = starts[mask] + g
        vals[mask] |= (b[idx] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(7 * g)
    if not counts:
        return vals, None
    cum = np.concatenate(([0], np.cumsum(is_last, dtype=np.int64)))
    vcounts = np.diff(np.concatenate(([0], cum[np.cumsum(byte_lens)])))
    return vals, vcounts


def _concat_bufs(bufs) -> tuple[np.ndarray, np.ndarray]:
    """(concatenated bytes, per-buffer lengths) of a sequence of byte
    buffers; a null-free pyarrow binary array is viewed in place, its
    data buffer already being the concatenation."""
    if hasattr(bufs, "buffers"):
        _, offsets, data = bufs.buffers()
        offs = np.frombuffer(offsets, np.int32)[bufs.offset:bufs.offset + len(bufs) + 1]
        data = np.frombuffer(data, np.uint8) if data is not None else np.empty(0, np.uint8)
        return data[offs[0]:offs[-1]], np.diff(offs).astype(np.int64)
    joined = b"".join(bufs)
    lens = np.fromiter((len(x) for x in bufs), dtype=np.int64, count=len(bufs))
    return np.frombuffer(joined, dtype=np.uint8), lens


def unpack_blocks_batch(
    doc_bufs, tf_bufs, dl_bufs
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode a whole sub-list's blocks (given in doc-sorted block
    order) in three vectorized passes. Equivalent to concatenating
    per-block :func:`unpack_block` outputs (property-tested).

    Returns ``(doc_ids, tfs, dls, postings_per_block)``.
    """
    bd, ld = _concat_bufs(doc_bufs)
    deltas, nper = vb_decode_concat(bd, ld)
    doc_ids = delta_decode_segmented(deltas, nper)
    tfs, _ = vb_decode_concat(*_concat_bufs(tf_bufs), counts=False)
    dls, _ = vb_decode_concat(*_concat_bufs(dl_bufs), counts=False)
    return doc_ids, tfs, dls, nper


def unpack_positions_batch(pos_bufs, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Batch twin of :func:`unpack_positions` over a whole sub-list:
    ``pos_bufs`` in the same block order as ``tfs``'s postings (deltas
    reset at every posting, so block boundaries need no special
    handling). Returns (flat positions, per-posting start offsets)."""
    bp, lp = _concat_bufs(pos_bufs)
    deltas, _ = vb_decode_concat(bp, lp, counts=False)
    flat = delta_decode_segmented(deltas, tfs)
    ends = np.cumsum(tfs.astype(np.int64))
    return flat, ends - tfs.astype(np.int64)


def delta_encode(sorted_vals: np.ndarray) -> np.ndarray:
    """Strictly-increasing int array → gaps (first value kept as-is),
    so decode is a plain cumsum."""
    v = np.ascontiguousarray(sorted_vals, dtype=np.uint64)
    out = v.copy()
    out[1:] = v[1:] - v[:-1]
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(deltas.astype(np.uint64), dtype=np.uint64)


def pack_block(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> tuple[bytes, bytes, bytes]:
    """Pack one block (doc_ids strictly increasing)."""
    return (
        vb_encode(delta_encode(doc_ids)),
        vb_encode(tfs),
        vb_encode(dls),
    )


def unpack_block(doc_b: bytes, tf_b: bytes, dl_b: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    doc_ids = delta_decode(vb_decode(doc_b))
    return doc_ids, vb_decode(tf_b), vb_decode(dl_b)


# ---------------------------------------------------------------------------
# Positional payloads. Each posting's occurrence positions are stored
# delta-encoded (first position absolute, reset at every posting), so a
# block's position stream can be sliced at posting boundaries and the
# per-posting slice lengths are exactly the tfs — no extra length column.
# ---------------------------------------------------------------------------

def delta_encode_segmented(flat: np.ndarray, seg_lens: np.ndarray) -> np.ndarray:
    """Delta-encode a concatenation of sorted runs; deltas reset at the
    start of every run (the run's first value stays absolute)."""
    v = np.ascontiguousarray(flat, dtype=np.uint64)
    if v.size == 0:
        return v
    out = v.copy()
    out[1:] = v[1:] - v[:-1]
    starts = np.cumsum(seg_lens) - seg_lens
    out[starts] = v[starts]
    return out


def delta_decode_segmented(deltas: np.ndarray, seg_lens: np.ndarray) -> np.ndarray:
    """Inverse of :func:`delta_encode_segmented` — segmented cumsum."""
    d = deltas.astype(np.uint64)
    if d.size == 0:
        return d
    c = np.cumsum(d)
    ends = np.cumsum(seg_lens.astype(np.int64))
    starts = ends - seg_lens
    base = np.zeros(len(seg_lens), dtype=np.uint64)
    base[1:] = c[starts[1:] - 1]
    return c - np.repeat(base, seg_lens)


def unpack_positions(pos_b: bytes, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Decode one block's position payload.

    Returns (flat absolute positions, posting-start offsets); posting i
    owns ``flat[offsets[i] : offsets[i] + tfs[i]]``."""
    flat = delta_decode_segmented(vb_decode(pos_b), tfs)
    ends = np.cumsum(tfs.astype(np.int64))
    return flat, ends - tfs.astype(np.int64)
