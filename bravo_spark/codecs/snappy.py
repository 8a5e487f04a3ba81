"""Snappy: the raw block format and the official framing format.

The framing layout (stream identifier, chunk headers, masked CRC-32C of
the uncompressed data) is the runtime one: codecs/fastpath.py runs
``frame_compress`` / ``frame_decompress`` with libsnappy chunks for the
savepoint sections. The pure raw-block ``compress`` / ``decompress`` are
spec references that tests compare the native codec against; the
runtime never calls them. The compressor emits literal-only output,
valid Snappy any decoder accepts.

Format: google/snappy format_description.txt and framing_format.txt.
"""

from __future__ import annotations

import struct

from bravo_spark.codecs import crc32c
from bravo_spark.codecs.varint import read_uvarint, write_uvarint

# --- raw block format ---


def decompress(buf: bytes) -> bytes:
    """Raw-Snappy decompress (format_description.txt §2-4)."""
    n, pos = read_uvarint(buf, 0)
    out = bytearray()
    end = len(buf)
    while pos < end:
        tag = buf[pos]
        pos += 1
        kind = tag & 3
        if kind == 0:  # literal
            length = tag >> 2
            if length >= 60:  # 60..63 → 1..4 extra length bytes (LE)
                extra = length - 59
                length = int.from_bytes(buf[pos : pos + extra], "little")
                pos += extra
            length += 1
            out += buf[pos : pos + length]
            pos += length
            continue
        if kind == 1:  # copy, 1-byte offset
            length = ((tag >> 2) & 0x7) + 4
            offset = ((tag & 0xE0) << 3) | buf[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte offset
            length = (tag >> 2) + 1
            offset = int.from_bytes(buf[pos : pos + 2], "little")
            pos += 2
        else:  # copy, 4-byte offset
            length = (tag >> 2) + 1
            offset = int.from_bytes(buf[pos : pos + 4], "little")
            pos += 4
        if offset == 0 or offset > len(out):
            raise ValueError("corrupt snappy: bad copy offset")
        # overlapping copies are legal and meaningful (RLE-style)
        start = len(out) - offset
        for i in range(length):
            out.append(out[start + i])
    if len(out) != n:
        raise ValueError(f"corrupt snappy: length {len(out)} != declared {n}")
    return bytes(out)


def compress(buf: bytes) -> bytes:
    """Literal-only raw Snappy (always valid; no back-references)."""
    out = bytearray(write_uvarint(len(buf)))
    pos = 0
    while pos < len(buf):
        chunk = buf[pos : pos + 65536]
        n = len(chunk)
        if n <= 60:
            out.append((n - 1) << 2)
        elif n <= 0xFF:
            out.append(60 << 2)
            out.append(n - 1)
        else:
            out.append(61 << 2)
            out += (n - 1).to_bytes(2, "little")
        out += chunk
        pos += n
    return bytes(out)


# --- framing format (framing_format.txt) ---

STREAM_IDENTIFIER = b"\xff\x06\x00\x00sNaPpY"
_CHUNK_COMPRESSED = 0x00
_CHUNK_UNCOMPRESSED = 0x01
_MAX_UNCOMPRESSED_CHUNK = 65536


def frame_compress(data: bytes, *, _compress=None, _crc_batch=None) -> bytes:
    """Whole-buffer framed compression (stream identifier + data chunks).

    ``_compress`` / ``_crc_batch`` let codecs/fastpath.py swap in the
    native chunk compressor and the numpy-batched CRC while this module
    keeps sole ownership of the FRAMING layout (the part pinned against
    org.xerial streams in tests/test_snappy.py)."""
    chunk_compress = _compress or compress
    chunks = [
        data[pos : pos + _MAX_UNCOMPRESSED_CHUNK]
        for pos in range(0, len(data), _MAX_UNCOMPRESSED_CHUNK)
    ]
    crcs = (
        _crc_batch(chunks)
        if _crc_batch is not None
        else [crc32c.crc32c(c) for c in chunks]
    )
    out = bytearray(STREAM_IDENTIFIER)
    for chunk, crc in zip(chunks, crcs):
        crc = crc32c.mask(crc)
        comp = chunk_compress(chunk)
        if len(comp) < len(chunk):
            body = struct.pack("<I", crc) + comp
            ctype = _CHUNK_COMPRESSED
        else:
            body = struct.pack("<I", crc) + chunk
            ctype = _CHUNK_UNCOMPRESSED
        out.append(ctype)
        out += len(body).to_bytes(3, "little")
        out += body
    return bytes(out)


def frame_decompress(data: bytes, *, _decompress=None, _crc_batch=None) -> bytes:
    """Whole-buffer framed decompression; verifies chunk CRCs.

    ``_decompress`` / ``_crc_batch`` are fastpath injection points, same
    contract as :func:`frame_compress`. Verification stays INCREMENTAL on
    both paths: the scalar path checks every chunk as it decodes (exactly
    the pre-batching behavior), the batched path flushes a pending window
    of at most ``_CRC_WINDOW`` chunks — and before any parse error — so a
    corrupt early chunk raises "CRC mismatch" without first decoding a
    multi-GB stream, and CRC errors still win over later parse errors."""
    chunk_decompress = _decompress or decompress
    pos = 0
    out: list[bytes] = []
    pending: list[bytes] = []
    pending_crcs: list[int] = []

    def flush_pending() -> None:
        if not pending:
            return
        for stored, a in zip(pending_crcs, _crc_batch(pending)):
            if crc32c.mask(a) != stored:
                raise ValueError("snappy frame CRC mismatch")
        out.extend(pending)
        pending.clear()
        pending_crcs.clear()

    while pos < len(data):
        ctype = data[pos]
        length = int.from_bytes(data[pos + 1 : pos + 4], "little")
        if pos + 4 + length > len(data):
            flush_pending()  # earlier CRC corruption outranks this
            raise ValueError(f"truncated snappy frame chunk at offset {pos}")
        body = data[pos + 4 : pos + 4 + length]
        pos += 4 + length
        if ctype == 0xFF:  # stream identifier
            if body != STREAM_IDENTIFIER[4:]:
                flush_pending()  # earlier CRC corruption outranks this
                raise ValueError("bad snappy stream identifier")
            continue
        if ctype in (_CHUNK_COMPRESSED, _CHUNK_UNCOMPRESSED):
            if length < 4:
                flush_pending()
                raise ValueError("snappy frame chunk shorter than its CRC")
            (crc,) = struct.unpack("<I", body[:4])
            chunk = body[4:]
            if ctype == _CHUNK_COMPRESSED:
                chunk = chunk_decompress(chunk)
            if _crc_batch is None:
                if crc32c.mask(crc32c.crc32c(chunk)) != crc:
                    raise ValueError("snappy frame CRC mismatch")
                out.append(chunk)
            else:
                pending.append(chunk)
                pending_crcs.append(crc)
                if len(pending) >= _CRC_WINDOW:
                    flush_pending()
        elif 0x02 <= ctype <= 0x7F:  # unskippable reserved
            flush_pending()  # earlier CRC corruption outranks this
            raise ValueError(f"unskippable snappy chunk type {ctype:#x}")
        # 0x80..0xFE: skippable — ignore
    flush_pending()
    return b"".join(out)


# batched-CRC verification window for frame_decompress: 64 chunks × 64 KiB
# = 4 MiB of decoded data held back at most before its CRCs are checked
_CRC_WINDOW = 64
