"""Runtime snappy, lz4 and zstd codecs: pyarrow's bundled libsnappy,
liblz4 and libzstd.

pyarrow is required at runtime (every Arrow-batched map and the shard IO
use it), so this module is the one codec path for SST blocks, savepoint
sections, Spark state files, Avro and WARC. The framing layouts stay in
codecs/snappy.py (snappy framing) and codecs/lz4.py (lz4-java framing);
only the block codec is native here. The pure-Python block codecs in
those modules and codecs/zstd.py are spec references that
tests/test_fastpath.py compares these functions against.
"""

from __future__ import annotations

from functools import cache

from bravo_spark.codecs.varint import read_uvarint

_ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"


@cache
def _codec(name: str):
    """The pyarrow codec, imported on first use: reading an uncompressed
    SST must not pay pyarrow's import cost."""
    import pyarrow as pa

    return pa.Codec(name)


def snappy_compress(data: bytes) -> bytes:
    """Raw-snappy stream (varint length preamble + stream)."""
    return bytes(_codec("snappy").compress(data))


def snappy_decompress(stream: bytes) -> bytes:
    """Decode a raw-snappy stream (the declared size is in its preamble)."""
    size, _pos = read_uvarint(stream, 0)
    try:
        return bytes(_codec("snappy").decompress(stream, size))
    except Exception as e:  # pyarrow raises OSError on corruption
        raise ValueError(f"corrupt snappy: {e}") from e


def lz4_compress_block(data: bytes) -> bytes:
    """Raw LZ4 block (no frame, no length header — RocksDB block shape)."""
    return bytes(_codec("lz4_raw").compress(data))


def lz4_decompress_block(block: bytes, dlen: int) -> bytes:
    """Decode one raw LZ4 block that must inflate to exactly ``dlen``
    bytes. pyarrow drops the decoded length liblz4 reports and zero-pads
    the buffer, so a block that decodes short is caught by a second
    decode into ``dlen - 1`` bytes, which only a short block survives."""
    codec = _codec("lz4_raw")
    try:
        out = bytes(codec.decompress(block, dlen))
    except Exception as e:
        raise ValueError(f"corrupt lz4 block: {e}") from e
    if dlen:  # into 0 bytes liblz4 accepts only the empty block
        try:
            codec.decompress(block, dlen - 1)
        except OSError:  # pyarrow's refusal: the block needs all dlen bytes
            return out
        raise ValueError(f"corrupt lz4 block: decodes to fewer than {dlen} bytes")
    return out


def zstd_compress(data: bytes) -> bytes:
    """Standard zstd frame."""
    return bytes(_codec("zstd").compress(data))


def zstd_decompress(frame: bytes, dlen: int) -> bytes:
    """Decode ONE zstd frame that must inflate to exactly ``dlen`` bytes
    (libzstd refuses both a short and a long frame, but reads an empty
    input as zero frames, hence the magic check)."""
    if frame[:4] != _ZSTD_MAGIC:
        raise ValueError("corrupt zstd frame: bad magic")
    try:
        return bytes(_codec("zstd").decompress(frame, dlen))
    except Exception as e:
        raise ValueError(f"corrupt zstd frame: {e}") from e


def zstd_decompress_stream(frame: bytes, *, max_bytes: int | None = None) -> bytes:
    """Decode a zstd frame whose content size is NOT known in advance
    (streaming writers often omit the header field — e.g. Spark's
    ZSTDCompressionCodec state files).

    ``max_bytes`` bounds the decompressed output: at most
    ``max_bytes + 1`` bytes are read, so a bomb frame never materializes
    past the ceiling, and it refuses with ``ZstdBoundError``."""
    import pyarrow as pa

    from bravo_spark.codecs.zstd import ZstdBoundError

    try:
        with pa.input_stream(pa.BufferReader(frame), compression="zstd") as s:
            if max_bytes is None:
                return s.read()
            chunks: list[bytes] = []
            total = 0
            while True:
                # loop to EOF: a short read must never truncate a LEGAL
                # frame, only the ceiling may stop us
                chunk = s.read(max_bytes + 1 - total)
                if not chunk:
                    break
                chunks.append(bytes(chunk))
                total += len(chunk)
                if total > max_bytes:
                    raise ZstdBoundError(f"zstd frame inflates past {max_bytes} bytes")
    except ZstdBoundError:
        raise
    except Exception as e:
        raise ValueError(f"corrupt zstd frame: {e}") from e
    return b"".join(chunks)


def lz4_java_encode_stream(payload: bytes, block_size: int = 32 * 1024) -> bytes:
    """lz4-java LZ4BlockOutputStream framing (codecs/lz4.py) with liblz4
    blocks."""
    from bravo_spark.codecs import lz4 as plz4

    return plz4.encode_stream(payload, block_size, _compress=lz4_compress_block)


def frame_compress(data: bytes) -> bytes:
    """Snappy FRAMING format (codecs/snappy.py) with libsnappy chunks and
    numpy-batched chunk CRCs."""
    from bravo_spark.codecs import snappy as ps

    return ps.frame_compress(data, _compress=snappy_compress, _crc_batch=_crc_batch)


def frame_decompress(data: bytes) -> bytes:
    from bravo_spark.codecs import snappy as ps

    return ps.frame_decompress(data, _decompress=snappy_decompress, _crc_batch=_crc_batch)


def _crc_batch(chunks: list[bytes]) -> list[int]:
    from bravo_spark.codecs import crc32c

    return crc32c.crc32c_batch(chunks)
