"""codecs/fastpath.py — the runtime (pyarrow) codecs must be
format-identical to the pure-Python spec implementations: every stream one
side writes, the other decodes, and the framing layers produce streams the
pure parser accepts bit-for-bit at the layout level."""

from __future__ import annotations

import pytest

from bravo_spark.codecs import fastpath
from bravo_spark.codecs import lz4 as plz4
from bravo_spark.codecs import snappy as psnappy
from bravo_spark.codecs import zstd as pzstd

DATA = [
    b"",
    b"x",
    b"the quick brown fox jumps over the lazy dog " * 200,
    bytes(range(256)) * 128,
    b"\x00" * 70000,  # multi-chunk for the framing layer
]


@pytest.mark.parametrize("data", DATA, ids=range(len(DATA)))
def test_snappy_cross(data):
    fast = fastpath.snappy_compress(data)
    assert psnappy.decompress(fast) == data
    assert fastpath.snappy_decompress(psnappy.compress(data)) == data
    assert fastpath.snappy_decompress(fast) == data


@pytest.mark.parametrize("data", DATA, ids=range(len(DATA)))
def test_lz4_block_cross(data):
    fast = fastpath.lz4_compress_block(data)
    assert plz4.decompress_block(fast, len(data)) == data
    pure = plz4.compress_block(data)
    assert fastpath.lz4_decompress_block(pure, len(data)) == data


@pytest.mark.parametrize("data", DATA, ids=range(len(DATA)))
def test_zstd_cross(data):
    frame = fastpath.zstd_compress(data)
    assert pzstd.decompress(frame) == data  # pure decoder reads native frames
    assert fastpath.zstd_decompress(frame, len(data)) == data
    assert fastpath.zstd_decompress_stream(frame) == data


def test_zstd_stream_without_content_size():
    """Streaming writers omit the frame-header content size — the exact
    shape Spark's zstd state files have; the stream decoder must not need
    a declared size."""
    import pyarrow as pa

    data = b"state bytes " * 5000
    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as s:
        s.write(data)
    frame = bytes(sink.getvalue())
    assert fastpath.zstd_decompress_stream(frame) == data
    assert pzstd.decompress(frame) == data  # pure decoder agrees


@pytest.mark.parametrize("data", DATA, ids=range(len(DATA)))
def test_snappy_framing_cross(data):
    framed_fast = fastpath.frame_compress(data)
    # the pure parser (scalar CRC path) accepts the fast stream, and the
    # fast parser accepts the pure stream
    assert psnappy.frame_decompress(framed_fast) == data
    assert fastpath.frame_decompress(psnappy.frame_compress(data)) == data


def test_snappy_framing_crc_still_verifies():
    framed = bytearray(fastpath.frame_compress(b"payload payload payload"))
    framed[-1] ^= 0xFF  # corrupt the last data byte of the last chunk
    with pytest.raises(ValueError, match="CRC mismatch|corrupt snappy"):
        fastpath.frame_decompress(bytes(framed))


def test_lz4_java_stream_cross():
    for data in DATA:
        framed = fastpath.lz4_java_encode_stream(data)
        # decode via the spark_state parser (the consumer of this framing)
        from bravo_spark.sources import spark_state as ss

        assert ss.decode_stream(framed) == data


def test_corruption_raises_valueerror():
    good = fastpath.snappy_compress(b"abcdef" * 100)
    with pytest.raises(ValueError):
        fastpath.snappy_decompress(good[:3])
    zf = fastpath.zstd_compress(b"qqq" * 100)
    with pytest.raises(ValueError):
        fastpath.zstd_decompress(zf[:5], 300)
    lf = fastpath.lz4_compress_block(b"zzz" * 100)
    with pytest.raises(ValueError):
        fastpath.lz4_decompress_block(lf[: max(1, len(lf) // 2)], 300)


def test_lz4_block_length_must_match():
    """liblz4 reports the decoded length but pyarrow drops it: a block
    that decodes to fewer than the declared bytes must raise, not come
    back zero-padded to the declared length."""
    data = b"state payload " * 300
    block = fastpath.lz4_compress_block(data)
    assert fastpath.lz4_decompress_block(block, len(data)) == data
    for dlen in (len(data) + 1, len(data) + 16, len(data) - 1, 0):
        with pytest.raises(ValueError, match="corrupt lz4 block"):
            fastpath.lz4_decompress_block(block, dlen)
    empty = fastpath.lz4_compress_block(b"")
    assert fastpath.lz4_decompress_block(empty, 0) == b""
    with pytest.raises(ValueError):
        fastpath.lz4_decompress_block(empty, 1)


@pytest.mark.parametrize("stream", [b"", b"\x80", b"\xff\xff"], ids=["empty", "cut1", "cut2"])
def test_truncated_snappy_preamble_raises_valueerror(stream):
    with pytest.raises(ValueError, match="truncated uvarint"):
        fastpath.snappy_decompress(stream)


def test_truncated_snappy_frame_raises_valueerror():
    framed = fastpath.frame_compress(b"section bytes " * 10_000)
    for cut in (3, 11, 12, 14, 20, len(framed) - 1):
        with pytest.raises(ValueError):
            fastpath.frame_decompress(framed[:cut])
        with pytest.raises(ValueError):
            psnappy.frame_decompress(framed[:cut])


def test_sst_zstd_write_roundtrip(tmp_path):
    """SstWriter zstd blocks (libzstd-encoded) round-trip through our
    reader with checksums verified."""
    import struct

    from bravo_spark.sources import sst as sstmod

    path = str(tmp_path / "z.sst")
    entries = [
        (struct.pack(">Q", i), 1, sstmod.TYPE_VALUE, b"v%d" % i * 20)
        for i in range(2000)
    ]
    w = sstmod.SstWriter(
        path, column_family="Z", column_family_id=1,
        compression=sstmod.ZSTD_COMPRESSION,
    )
    for k, s, t, v in entries:
        w.add(k, s, t, v)
    w.finish()
    r = sstmod.SstReader(path, verify_checksums=True)
    got = [(k, s, t, v) for k, s, t, v in r.iter_entries()]
    assert got == entries


# --- property fuzz: fast and pure implementations are interchangeable ---

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _blob = st.binary(min_size=0, max_size=70_000)

    @given(_blob)
    @settings(max_examples=60, deadline=None)
    def test_prop_snappy_interchangeable(data):
        assert psnappy.decompress(fastpath.snappy_compress(data)) == data
        assert fastpath.snappy_decompress(psnappy.compress(data)) == data

    @given(_blob)
    @settings(max_examples=60, deadline=None)
    def test_prop_lz4_interchangeable(data):
        assert (
            plz4.decompress_block(fastpath.lz4_compress_block(data), len(data))
            == data
        )
        assert (
            fastpath.lz4_decompress_block(plz4.compress_block(data), len(data))
            == data
        )

    @given(_blob)
    @settings(max_examples=40, deadline=None)
    def test_prop_zstd_pure_decodes_native(data):
        assert pzstd.decompress(fastpath.zstd_compress(data)) == data

    @given(_blob)
    @settings(max_examples=40, deadline=None)
    def test_prop_snappy_framing_interchangeable(data):
        assert psnappy.frame_decompress(fastpath.frame_compress(data)) == data
        assert fastpath.frame_decompress(psnappy.frame_compress(data)) == data

    @given(st.lists(st.binary(min_size=0, max_size=5000), max_size=40))
    @settings(max_examples=40, deadline=None)
    def test_prop_crc32c_batch_matches_scalar(blobs):
        from bravo_spark.codecs.crc32c import crc32c, crc32c_batch

        assert crc32c_batch(blobs) == [crc32c(b) for b in blobs]

except ImportError:  # hypothesis is baked into this container; belt+braces
    pass
