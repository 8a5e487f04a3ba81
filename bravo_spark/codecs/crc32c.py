"""CRC-32C (Castagnoli) and the snappy/RocksDB masking, pure Python.

Both the snappy framing format and RocksDB block trailers checksum with
CRC-32C and then apply the same rotation mask (framing_format.txt §3;
rocksdb util/crc32c.h Mask/Unmask). Table-driven byte-at-a-time serves
one-off checksums; bulk writers go through :func:`crc32c_batch`, which
vectorizes the same recurrence across a batch of independent messages
with numpy (~10-30x per block at SST write batch sizes).
"""

from __future__ import annotations

_POLY = 0x82F63B78  # reflected Castagnoli polynomial

_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ _POLY if _c & 1 else _c >> 1
    _TABLE.append(_c)


def crc32c(data: bytes, crc: int = 0) -> int:
    c = crc ^ 0xFFFFFFFF
    for b in data:
        c = _TABLE[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


_TABLE_NP = None  # lazily-built numpy mirror of _TABLE


# blobs longer than this are checksummed scalar even inside a batch: the
# vectorized path pads every message to the longest one (maxlen x n bytes
# of matrix + maxlen loop iterations), so one multi-MB outlier — e.g. the
# monolithic index block an SstWriter flushes at finish() alongside its
# leftover 4 KB data blocks — would cost GBs of padding and run far
# SLOWER than the plain loop. 64 KiB keeps the matrix within a few MB at
# the 1024-block writer batch while covering every realistic data block.
_BATCH_MAX_LEN = 65536


def crc32c_batch(blobs: list[bytes]) -> list[int]:
    """CRC-32C of MANY byte strings at once. The per-byte recurrence is
    sequential WITHIN a message, but independent messages advance in
    lockstep — so the batch axis vectorizes: one numpy table-gather per
    byte POSITION updates every still-active message. ~25-80x the scalar
    loop at realistic SST block batches (perfbench's sst.write_mb_s),
    which turns block-trailer checksumming from ~half of SST write cost
    into noise. Messages are sorted by length descending so finished rows
    simply retire off the active prefix; oversized outliers (see
    ``_BATCH_MAX_LEN``) take the scalar loop so one huge blob can't blow
    up the padded matrix; results return in input order, bit-identical to
    :func:`crc32c`."""
    n = len(blobs)
    if n < 8:  # numpy dispatch overhead beats the win on tiny batches
        return [crc32c(b) for b in blobs]
    if any(len(b) > _BATCH_MAX_LEN for b in blobs):
        small_idx = [i for i, b in enumerate(blobs) if len(b) <= _BATCH_MAX_LEN]
        out = [0] * n
        small_crcs = crc32c_batch([blobs[i] for i in small_idx])
        for i, cv in zip(small_idx, small_crcs):
            out[i] = cv
        for i, b in enumerate(blobs):
            if len(b) > _BATCH_MAX_LEN:
                out[i] = crc32c(b)
        return out
    import numpy as np

    global _TABLE_NP
    if _TABLE_NP is None:
        _TABLE_NP = np.array(_TABLE, dtype=np.uint32)
    table = _TABLE_NP

    lens = np.fromiter((len(b) for b in blobs), np.int64, n)
    order = np.argsort(-lens, kind="stable")
    maxlen = int(lens[order[0]])
    if maxlen == 0:
        return [crc32c(b) for b in blobs]
    # position-major (transposed) layout: the inner loop reads one byte
    # POSITION across all messages — a contiguous row, not a strided column
    padded = np.zeros((maxlen, n), dtype=np.uint8)
    for col, i in enumerate(order):
        b = blobs[i]
        if b:
            padded[: len(b), col] = np.frombuffer(b, dtype=np.uint8)
    # columns are length-descending: the active set at byte position j is
    # the prefix of columns with len > j, precomputed for every j
    asc = np.sort(lens)
    active = n - np.searchsorted(asc, np.arange(maxlen), side="right")
    c = np.full(n, 0xFFFFFFFF, dtype=np.uint32)
    idx = np.empty(n, dtype=np.uint32)
    for j in range(maxlen):
        k = active[j]
        cj = c[:k]
        ij = idx[:k]
        np.bitwise_xor(cj, padded[j, :k], out=ij)
        ij &= 0xFF
        np.right_shift(cj, 8, out=cj)
        cj ^= table[ij]
    c ^= np.uint32(0xFFFFFFFF)
    out = [0] * n
    for col, i in enumerate(order):
        out[i] = int(c[col])
    return out


MASK_DELTA = 0xA282EAD8


def mask(crc: int) -> int:
    """Rotate right 15 bits and add a constant (both snappy framing and
    RocksDB store masked CRCs so checksums of checksums stay well-behaved)."""
    return (((crc >> 15) | (crc << 17)) + MASK_DELTA) & 0xFFFFFFFF


def unmask(masked: int) -> int:
    rot = (masked - MASK_DELTA) & 0xFFFFFFFF
    return ((rot >> 17) | (rot << 15)) & 0xFFFFFFFF
