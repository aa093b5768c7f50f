"""Posting-list compression codecs — numpy-vectorized varint (LEB128),
PForDelta-family 128-block bit-packing, and delta (gap) encoding of sorted
docID arrays.

The reference stores raw 8-byte [docCRC:u32][tf:u32] postings
(SearchEngine File Structures/reverse_index.bin, Indexer/Program.cs:583-761).
We instead store delta-encoded docID gaps + tfs, each compressed
(~2-4 bytes/posting for dense corpora), per the segment format in SURVEY.md
§2.8. All codecs are pure numpy so they run vectorized inside Arrow UDFs.

Two interchangeable integer codecs (segment rows carry which one):

- ``varint``  — LEB128, byte-aligned, good general default;
- ``pack128`` — frame-of-reference binary packing: blocks of 128 values,
  each stored at the block's max bit-width (1 header byte + packed bits,
  little-endian). This is the PForDelta family (Zukowski et al. 2006;
  Lemire & Boytsov 2014): the per-128 width bound plays the role of
  exception patching — an outlier only inflates its OWN block to its
  width instead of the whole list. Gap distributions from range-sharded
  dense docIDs are tight, so typical widths are 1-8 bits (~0.1-1
  byte/gap) and decode is pure bit-shift vector math.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "varint_encode",
    "varint_decode",
    "pack128_encode",
    "pack128_decode",
    "pack128_decode_rows",
    "delta_encode",
    "delta_decode",
    "encode_postings",
    "decode_postings",
    "CODECS",
]

PACK_BLOCK = 128


def varint_encode_with_offsets(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode an array (vectorized); also return the per-value byte
    START offsets (length n+1), so callers can slice the blob into
    sub-ranges of values without re-encoding (segment batch encoder)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b"", np.zeros(1, np.int64)
    # bytes needed per value
    nbytes = np.ones(n, np.int64)
    t = v >> np.uint64(7)
    while t.any():
        nbytes += (t != 0).astype(np.int64)
        t >>= np.uint64(7)
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    out = np.zeros(offsets[-1], np.uint8)
    pos = offsets[:-1].copy()
    t = v.copy()
    live = np.arange(n)
    while live.size:
        byte = (t[live] & np.uint64(0x7F)).astype(np.uint8)
        t[live] >>= np.uint64(7)
        more = t[live] != 0
        out[pos[live]] = byte | (more.astype(np.uint8) << np.uint8(7))
        pos[live] += 1
        live = live[more]
    return out.tobytes(), offsets


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints (vectorized)."""
    return varint_encode_with_offsets(values)[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes -> uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, np.uint64)
    ends = np.nonzero((b & 0x80) == 0)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    out = np.zeros(ends.size, np.uint64)
    maxlen = int((ends - starts).max()) + 1
    for k in range(maxlen):
        idx = starts + k
        valid = idx <= ends
        vals = (b[idx[valid]] & np.uint8(0x7F)).astype(np.uint64)
        out[valid] |= vals << np.uint64(7 * k)
    return out


def pack128_encode(values: np.ndarray) -> bytes:
    """Frame-of-reference binary packing: uvarint count, then per-128
    block [width:1B][ceil(m*width/8) packed bytes, little-endian]."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    parts = [varint_encode(np.array([n], np.uint64))]
    for s in range(0, n, PACK_BLOCK):
        blk = v[s:s + PACK_BLOCK]
        mx = int(blk.max())
        w = mx.bit_length()
        parts.append(bytes([w]))
        if w:
            bits = (
                (blk[:, None] >> np.arange(w, dtype=np.uint64))
                & np.uint64(1)
            ).astype(np.uint8)
            parts.append(np.packbits(bits.ravel(), bitorder="little").tobytes())
    return b"".join(parts)


def pack128_decode(buf: bytes) -> np.ndarray:
    """Inverse of pack128_encode -> uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    return pack128_decode_rows(b, np.zeros(1, np.int64),
                               np.full(1, b.size, np.int64))


#: blocks unpacked together at most, so a decode's temporaries stay
#: bounded (at width w, 128 * w bytes of bits per block)
_UNPACK_BLOCKS = 256


def pack128_decode_rows(data: np.ndarray, begins: np.ndarray,
                        ends: np.ndarray) -> np.ndarray:
    """Many pack128 buffers at once, buffer i being the uint8 bytes
    ``data[begins[i]:ends[i]]`` -> their values concatenated (uint64).

    One pass over the headers reads each block's width and payload
    offset (a count, then per block a width byte and ``ceil(m * width /
    8)`` packed bytes); then the blocks of each width, across buffers,
    decode together: one ``np.unpackbits`` over their payloads, read as
    whole 128-value blocks (the bits past a short last block are
    dropped), and their bit rows, padded to whole bytes, packed back
    into little-endian words."""
    mv = memoryview(np.ascontiguousarray(data, np.uint8))
    widths, payloads, outs, lens = [], [], [], []
    total = 0
    for pos, end in zip(begins.tolist(), ends.tolist()):
        if pos == end:
            continue
        n = shift = 0
        while True:
            byte = mv[pos]
            pos += 1
            n |= (byte & 0x7F) << shift
            shift += 7
            if byte < 0x80:
                break
        for s in range(0, n, PACK_BLOCK):
            m, w = min(PACK_BLOCK, n - s), mv[pos]
            widths.append(w)
            payloads.append(pos + 1)
            outs.append(total + s)
            lens.append(m)
            pos += 1 + (m * w + 7) // 8
        total += n
    out = np.zeros(total, np.uint64)
    widths, payloads, outs, lens = (np.array(x, np.int64) for x in (
        widths, payloads, outs, lens))
    slot = np.arange(PACK_BLOCK)
    for w in np.unique(widths).tolist():
        if w == 0:
            continue
        nb = (w + 7) // 8               # whole bytes per value
        blocks = np.flatnonzero(widths == w)
        for g in np.array_split(blocks, range(
                _UNPACK_BLOCKS, len(blocks), _UNPACK_BLOCKS)):
            at = payloads[g][:, None] + np.arange(PACK_BLOCK * w // 8)
            bits = np.unpackbits(data[np.minimum(at, len(data) - 1)],
                                 axis=1, bitorder="little")
            wide = np.zeros((len(g) * PACK_BLOCK, 8 * nb), np.uint8)
            wide[:, :w] = bits.reshape(-1, w)
            packed = np.packbits(wide, axis=1, bitorder="little")
            if nb not in (1, 2, 4, 8):
                packed = np.concatenate(
                    (packed, np.zeros((len(packed), 8 - nb), np.uint8)), 1)
            vals = packed.view(f"<u{packed.shape[1]}").reshape(len(g), -1)
            keep = slot < lens[g][:, None]
            out[(outs[g][:, None] + slot)[keep]] = vals[keep]
    return out


# codec registry: segment rows carry the codec name (segments.py)
CODECS = {
    "varint": (varint_encode, varint_decode),
    "pack128": (pack128_encode, pack128_decode),
}


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing int array -> gaps (first element kept as-is)."""
    a = np.ascontiguousarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0]
    np.subtract(a[1:], a[:-1], out=out[1:])
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    """Inverse of delta_encode."""
    return np.cumsum(np.ascontiguousarray(gaps, dtype=np.uint64), dtype=np.uint64)


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    """(sorted unique doc_ids, aligned tfs) -> (gap varint bytes, tf varint bytes)."""
    return varint_encode(delta_encode(doc_ids)), varint_encode(tfs)


def decode_postings(doc_gaps: bytes, tfs: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_postings -> (doc_ids uint64, tfs uint64)."""
    return delta_decode(varint_decode(doc_gaps)), varint_decode(tfs)
