"""Unsigned LEB128 varints: the raw-snappy length preamble and RocksDB's
block handles, entry lengths and size prefixes."""

from __future__ import annotations


def read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    """Decode the varint at ``buf[pos]`` → (value, next position); a
    varint cut off by the end of ``buf`` raises ``ValueError``."""
    result = shift = 0
    try:
        while True:
            b = buf[pos]
            pos += 1
            result |= (b & 0x7F) << shift
            if not b & 0x80:
                return result, pos
            shift += 7
            if shift > 63:
                raise ValueError("uvarint too long")
    except IndexError:
        raise ValueError("truncated uvarint") from None


def write_uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        if v < 0x80:
            out.append(v)
            return bytes(out)
        out.append((v & 0x7F) | 0x80)
        v >>= 7
