"""Varint + delta codec roundtrips (property-based, SURVEY.md §5.1)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.functions.codec import (
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
    assert varint_decode(varint_encode(arr)).tolist() == vals


@given(st.sets(st.integers(min_value=0, max_value=2**40), max_size=300))
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.uint64)
    assert delta_decode(delta_encode(arr)).tolist() == sorted(ids)


@given(
    st.sets(st.integers(min_value=0, max_value=10**9), min_size=0, max_size=200),
    st.data(),
)
@settings(max_examples=100, deadline=None)
def test_postings_roundtrip(ids, data):
    docs = np.array(sorted(ids), dtype=np.uint64)
    tfs = np.array(
        [data.draw(st.integers(min_value=1, max_value=1000)) for _ in docs],
        dtype=np.uint64,
    )
    gaps_b, tfs_b = encode_postings(docs, tfs)
    d2, t2 = decode_postings(gaps_b, tfs_b)
    assert d2.tolist() == docs.tolist()
    assert t2.tolist() == tfs.tolist()


def test_compression_wins():
    # dense doc ids should take far less than 8 bytes/posting
    docs = np.arange(0, 100_000, 3, dtype=np.uint64)
    tfs = np.ones(docs.size, dtype=np.uint64)
    gaps_b, tfs_b = encode_postings(docs, tfs)
    assert (len(gaps_b) + len(tfs_b)) / docs.size < 2.5


def test_crc32_reference_compat(spark):
    """SURVEY §2.3 F4: Spark's F.crc32 is bit-identical to the reference's
    table-driven IEEE CRC-32 (and zlib's), so oracle-compat keying needs
    no UDF."""
    import zlib

    from pyspark.sql import functions as F

    from searchengine_spark.functions.hashing import crc32_col, crc32_reference_py

    words = ["hello", "don", "t", "a", "pneumono", "zzz", "Mixed", ""]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r["w"]: r["c"] for r in df.select("w", crc32_col(F.col("w")).alias("c")).collect()}
    for w in words:
        ref = crc32_reference_py(w.encode("utf-8"))
        assert got[w] == ref == zlib.crc32(w.encode("utf-8"))
    assert got["hello"] == 907060870  # SURVEY §1.2 verified constant


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=400))
@settings(max_examples=200, deadline=None)
def test_pack128_roundtrip(vals):
    from searchengine_spark.functions.codec import pack128_decode, pack128_encode

    arr = np.array(vals, dtype=np.uint64)
    assert pack128_decode(pack128_encode(arr)).tolist() == vals


def _pack128_decode_per_block(buf: bytes) -> np.ndarray:
    """The block-at-a-time pack128 decoder the vectorized one replaced,
    kept as its reference."""
    from searchengine_spark.functions.codec import PACK_BLOCK

    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, np.uint64)
    first_end = int(np.nonzero((b & 0x80) == 0)[0][0])
    n = int(varint_decode(bytes(b[:first_end + 1]))[0])
    out = np.empty(n, np.uint64)
    pos = first_end + 1
    got = 0
    while got < n:
        m = min(PACK_BLOCK, n - got)
        w = int(b[pos])
        pos += 1
        if w == 0:
            out[got:got + m] = 0
        else:
            nby = (m * w + 7) // 8
            bits = np.unpackbits(
                b[pos:pos + nby], bitorder="little", count=m * w
            ).reshape(m, w).astype(np.uint64)
            out[got:got + m] = (
                bits << np.arange(w, dtype=np.uint64)
            ).sum(axis=1, dtype=np.uint64)
            pos += nby
        got += m
    return out


@pytest.mark.parametrize("n", [0, 1, 127, 128, 129, 10_000])
def test_pack128_decode_equals_per_block_decoder(n):
    """The vectorized pack128 decoder returns the per-block decoder's
    bytes for every block width 0-64 (one list per width, with values of
    exactly that width, bit 63 set at width 64) and for lists mixing all
    widths, so full and partial blocks of one width decode together."""
    from searchengine_spark.functions.codec import pack128_decode, pack128_encode

    rng = np.random.default_rng(n)
    for w in range(65):
        top = np.uint64((1 << w) - 1) if w else np.uint64(0)
        vals = rng.integers(0, 2**64, n, dtype=np.uint64) & top
        if n and w:
            vals[::97] = top            # every block reaches width w
        buf = pack128_encode(vals)
        got = pack128_decode(buf)
        assert got.dtype == np.uint64
        assert got.tobytes() == _pack128_decode_per_block(buf).tobytes()
        assert got.tobytes() == vals.tobytes()
    masks = np.array([(1 << w) - 1 for w in range(65)], np.uint64)
    block_w = rng.integers(0, 65, -(-n // 128))
    mixed = rng.integers(0, 2**64, n, dtype=np.uint64) \
        & np.repeat(masks[block_w], 128)[:n]
    buf = pack128_encode(mixed)
    assert pack128_decode(buf).tobytes() \
        == _pack128_decode_per_block(buf).tobytes() == mixed.tobytes()


def test_pack128_beats_varint_on_tight_gaps():
    """On dense range-sharded gap distributions (the doc-segment case) the
    FOR packing is strictly smaller than byte-aligned varint."""
    from searchengine_spark.functions.codec import pack128_encode, varint_encode

    rng = np.random.default_rng(1)
    gaps = rng.integers(1, 64, 10_000).astype(np.uint64)  # <=6-bit gaps
    assert len(pack128_encode(gaps)) < len(varint_encode(gaps))


def test_segment_codec_hybrid_selection(spark, small):
    """Long posting lists (>=128) are pack128, short tails varint, and
    both decode to the identical tf table (segments roundtrip already
    asserts set-equality; this pins the codec CHOICE)."""
    from searchengine_spark.build import build_index
    from searchengine_spark.functions.codec import PACK_BLOCK

    idx = build_index(small, num_doc_partitions=3, n_shards=1, layouts=("doc",))
    rows = idx.doc_segments.select("n", "codec").collect()
    assert any(r["codec"] == "pack128" for r in rows), "no long list packed"
    for r in rows:
        assert r["codec"] == ("pack128" if r["n"] >= PACK_BLOCK else "varint")
