"""Hypothesis roundtrip fuzz for the container codecs (WARC, Avro OCF,
EXIF, TFRecord, ZIP, WebDataset tar) and the runtime block codecs
(snappy, lz4, zstd and the Spark state-file framings): arbitrary
payloads/values must survive write→read exactly, and truncation or
corruption must raise the codec's named error — never return wrong data
silently.
"""

from __future__ import annotations

import struct

from hypothesis import example, given, settings, strategies as st

from bravo_spark.codecs import fastpath
from bravo_spark.codecs.avro import AvroError, read_ocf, write_ocf
from bravo_spark.codecs.varint import read_uvarint, write_uvarint
from bravo_spark.codecs.warc import WarcError, parse_warc, write_warc
from bravo_spark.sources import spark_state as ss

_HDR_VAL = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1,
    max_size=30,
)


@settings(max_examples=60, deadline=None)
@given(
    recs=st.lists(
        st.tuples(_HDR_VAL, st.binary(max_size=400)), min_size=0, max_size=8
    ),
    gz=st.booleans(),
)
def test_warc_roundtrip_fuzz(recs, gz):
    records = [
        ({"WARC-Type": "conversion", "WARC-Target-URI": f"doc://{u}"}, p)
        for u, p in recs
    ]
    back = list(parse_warc(write_warc(records, gzip_per_record=gz)))
    assert [(h["WARC-Target-URI"], p) for h, p in back] == [
        (h["WARC-Target-URI"], p) for h, p in records
    ]


@settings(max_examples=40, deadline=None)
@given(
    recs=st.lists(
        st.tuples(st.binary(max_size=200)), min_size=1, max_size=6
    ),
    cut=st.integers(min_value=1, max_value=10),
)
def test_warc_truncation_always_raises(recs, cut):
    records = [({"WARC-Type": "resource"}, p) for (p,) in recs]
    blob = write_warc(records, gzip_per_record=False)
    try:
        got = list(parse_warc(blob[:-cut]))
    except WarcError:
        return  # named failure is the contract
    # the only acceptable non-error outcome is LOSING whole tail records,
    # never corrupting payloads of the ones returned
    assert len(got) < len(records)
    for (h, p), (_, orig) in zip(got, records):
        assert p == orig


_AVRO_SCHEMA = {
    "type": "record",
    "name": "F",
    "fields": [
        {"name": "i", "type": "long"},
        {"name": "s", "type": "string"},
        {"name": "b", "type": "bytes"},
        {"name": "d", "type": "double"},
        {"name": "u", "type": ["null", "long"]},
        {"name": "a", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
    ],
}

_AVRO_ROW = st.fixed_dictionaries(
    {
        "i": st.integers(min_value=-(2**63), max_value=2**63 - 1),
        "s": st.text(max_size=40),
        "b": st.binary(max_size=60),
        "d": st.floats(allow_nan=False),
        "u": st.one_of(st.none(), st.integers(-(2**31), 2**31)),
        "a": st.lists(st.integers(-(2**40), 2**40), max_size=6),
        "m": st.dictionaries(st.text(max_size=8), st.text(max_size=12),
                             max_size=4),
    }
)


@settings(max_examples=50, deadline=None)
@given(
    rows=st.lists(_AVRO_ROW, min_size=0, max_size=12),
    codec=st.sampled_from(["null", "deflate", "snappy"]),
    per_block=st.integers(min_value=1, max_value=5),
)
def test_avro_roundtrip_fuzz(rows, codec, per_block):
    blob = write_ocf(_AVRO_SCHEMA, rows, codec=codec,
                     records_per_block=per_block)
    _, recs = read_ocf(blob)
    assert list(recs) == rows


@settings(max_examples=40, deadline=None)
@given(
    pos=st.integers(min_value=4),
    delta=st.integers(min_value=1, max_value=255),
)
def test_avro_bitflip_never_silently_wrong(pos, delta):
    rows = [{"i": i, "s": f"r{i}", "b": b"\x01\x02", "d": 0.5, "u": None,
             "a": [i], "m": {}} for i in range(9)]
    blob = bytearray(write_ocf(_AVRO_SCHEMA, rows, codec="deflate",
                               records_per_block=3))
    # flip only within the BLOCKS region: a flip inside the header's
    # schema JSON can yield a DIFFERENT VALID schema (e.g. a renamed
    # field) — a legitimately different file, not detectable corruption.
    # The first sync marker (16 bytes, derived from the schema by the
    # writer) ends the header.
    import hashlib as _hl
    import json as _json

    sync = _hl.md5(b"bravo-avro:" + _json.dumps(_AVRO_SCHEMA).encode()).digest()
    blocks_start = bytes(blob).index(sync) + 16
    pos = blocks_start + pos % (len(blob) - blocks_start)
    blob[pos] = (blob[pos] + delta) % 256
    try:
        _, recs = read_ocf(bytes(blob))
        got = list(recs)
    except Exception:
        return  # any raised error is acceptable; SILENCE is what we test
    # OCF has no per-block checksum — sync markers + length framing are
    # the only integrity layer — so a single flip may corrupt at most
    # the ONE block it lands in (3 rows here). Rows from every other
    # block must come back byte-identical and in order.
    mutated = [r for r in got if r not in rows]
    assert len(mutated) <= 3, f"flip at {pos} corrupted >1 block"
    survivors = [r for r in got if r in rows]
    expected_order = [r for r in rows if r in survivors]
    assert survivors == expected_order


@settings(max_examples=60, deadline=None)
@given(
    orientation=st.integers(min_value=1, max_value=8),
    lat=st.floats(min_value=-89.999, max_value=89.999),
    lon=st.floats(min_value=-179.999, max_value=179.999),
    with_gps=st.booleans(),
    order=st.sampled_from(["II", "MM"]),
)
def test_exif_roundtrip_fuzz(orientation, lat, lon, with_gps, order):
    from bravo_spark.inventory.exif import (
        build_exif_app1,
        insert_exif,
        parse_exif,
        strip_exif,
    )

    jpeg = b"\xff\xd8\xff\xdb\x00\x05\x00\x00\x00"
    tagged = insert_exif(
        jpeg,
        build_exif_app1(
            orientation=orientation,
            gps=(lat, lon) if with_gps else None,
            byte_order=order,
        ),
    )
    meta = parse_exif(tagged)
    assert meta["orientation"] == orientation
    assert meta["byte_order"] == order
    if with_gps:
        glat, glon = meta["gps"]
        # degree+minute+centisecond rationals: <= 1/360000 deg + rounding
        assert abs(glat - lat) < 1e-4 and abs(glon - lon) < 1e-4
    else:
        assert meta["gps"] is None
    assert parse_exif(strip_exif(tagged)) is None


@given(
    body=st.binary(min_size=0, max_size=400),
    cuts=st.lists(st.integers(min_value=0, max_value=400), max_size=6),
    crlf_bits=st.integers(min_value=0, max_value=(1 << 16) - 1),
)
@settings(max_examples=120, deadline=None)
def test_dechunk_roundtrip_fuzz_mixed_line_endings(body, cuts, crlf_bits):
    """Any chunking of any body, framed with an arbitrary PER-LINE mix
    of CRLF and bare-LF terminators (the CR-less-server tolerance),
    dechunks back to the body exactly."""
    from bravo_spark.codecs.http import dechunk

    bounds = sorted({c for c in cuts if c < len(body)} | {0, len(body)})
    chunks = [body[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    term_i = 0

    def term():
        nonlocal term_i
        t = b"\r\n" if (crlf_bits >> (term_i % 16)) & 1 else b"\n"
        term_i += 1
        return t

    enc = b"".join(
        b"%x" % len(c) + term() + c + term() for c in chunks
    ) + b"0" + term() + term()
    assert dechunk(enc) == body


# --- runtime codec entry points -------------------------------------------
# Each property: the round trip returns the input; every truncation
# raises a ValueError subclass and never another exception type (or, for
# a framing without an end marker, returns a chunk-aligned prefix); a
# wrong declared length always raises. Bit flips inside unchecksummed raw
# blocks are out of scope: they decode to different bytes by design.

# mixes incompressible bytes with repetitive ones, so the encoders emit
# both stored and compressed blocks
_PAYLOAD = st.one_of(
    st.binary(max_size=3000),
    st.builds(
        lambda unit, n: unit * n,
        st.binary(min_size=1, max_size=40),
        st.integers(min_value=1, max_value=2500),
    ),
)
_CUT = st.floats(min_value=0, max_value=1, exclude_max=True)
_DELTA = st.integers(min_value=-64, max_value=64).filter(bool)


def _refused(fn, *args) -> None:
    try:
        fn(*args)
    except ValueError:
        return
    raise AssertionError("corrupt input decoded without an error")


@settings(max_examples=80, deadline=None)
@given(data=_PAYLOAD, cut=_CUT, delta=_DELTA)
def test_snappy_block_truncation_and_length(data, cut, delta):
    stream = fastpath.snappy_compress(data)
    assert fastpath.snappy_decompress(stream) == data
    _refused(fastpath.snappy_decompress, stream[: int(cut * len(stream))])
    n, pos = read_uvarint(stream, 0)
    if n + delta >= 0:
        _refused(fastpath.snappy_decompress, write_uvarint(n + delta) + stream[pos:])


@settings(max_examples=60, deadline=None)
@given(data=_PAYLOAD, cut=_CUT, delta=_DELTA)
def test_snappy_frame_truncation_and_length(data, cut, delta):
    framed = fastpath.frame_compress(data)
    assert fastpath.frame_decompress(framed) == data
    try:
        got = fastpath.frame_decompress(framed[: int(cut * len(framed))])
    except ValueError:
        pass
    else:  # the framing has no end marker: a whole-chunk prefix is legal
        assert len(got) % 65536 == 0 and got == data[: len(got)]
    if data:  # first data chunk's 3-byte length, after the stream identifier
        length = int.from_bytes(framed[11:14], "little") + delta
        if length >= 0:
            _refused(fastpath.frame_decompress, framed[:11] + length.to_bytes(3, "little") + framed[14:])


@settings(max_examples=80, deadline=None)
@given(data=_PAYLOAD, cut=_CUT, delta=_DELTA)
def test_lz4_block_truncation_and_length(data, cut, delta):
    block = fastpath.lz4_compress_block(data)
    assert fastpath.lz4_decompress_block(block, len(data)) == data
    _refused(fastpath.lz4_decompress_block, block[: int(cut * len(block))], len(data))
    if len(data) + delta >= 0:
        _refused(fastpath.lz4_decompress_block, block, len(data) + delta)


@settings(max_examples=60, deadline=None)
@given(data=_PAYLOAD, cut=_CUT, delta=_DELTA)
def test_zstd_truncation_and_length(data, cut, delta):
    frame = fastpath.zstd_compress(data)
    assert fastpath.zstd_decompress(frame, len(data)) == data
    _refused(fastpath.zstd_decompress, frame[: int(cut * len(frame))], len(data))
    if len(data) + delta >= 0:
        _refused(fastpath.zstd_decompress, frame, len(data) + delta)


@settings(max_examples=80, deadline=None)
@given(data=_PAYLOAD, cut=_CUT, delta=_DELTA, block=st.sampled_from([1024, 4096]))
def test_lz4_java_state_stream_truncation_and_length(data, cut, delta, block):
    stream = fastpath.lz4_java_encode_stream(data, block_size=block)
    assert ss.decode_stream(stream) == data
    # no prefix is legal: the stream must end with its empty end block
    _refused(ss.decode_stream, stream[: int(cut * len(stream))])
    (dlen,) = struct.unpack("<i", stream[13:17])  # first block's originalLen
    _refused(ss.decode_stream, stream[:13] + struct.pack("<i", dlen + delta) + stream[17:])


@settings(max_examples=60, deadline=None)
@given(data=_PAYLOAD, cut=_CUT, delta=_DELTA)
def test_xerial_state_stream_truncation_and_length(data, cut, delta):
    stream = ss.encode_stream_snappy(data, block_size=1024)
    assert ss.decode_stream(stream) == data
    try:
        got = ss.decode_stream(stream[: int(cut * len(stream))])
    except ValueError:
        pass
    else:  # xerial framing has no end marker: a whole-block prefix is legal
        assert len(got) % 1024 == 0 and got == data[: len(got)]
    if data:  # first block's big-endian length, after the 16-byte header
        (blen,) = struct.unpack(">I", stream[16:20])
        if blen + delta >= 0:
            _refused(ss.decode_stream, stream[:16] + struct.pack(">I", blen + delta) + stream[20:])


@settings(max_examples=40, deadline=None)
@given(data=_PAYLOAD, cut=_CUT)
def test_zstd_state_stream_truncation(data, cut):
    stream = fastpath.zstd_compress(data)
    assert ss.decode_stream(stream) == data
    _refused(ss.decode_stream, stream[: int(cut * len(stream))])


# ---------------------------------------------------------------------------
# shard containers: truncation and single bit flips. A cut either raises
# the format's named error or yields a prefix of whole records equal to
# the input; a flipped bit either raises or decodes to exactly the input.
# ---------------------------------------------------------------------------

_POS = st.integers(min_value=0)
_BIT = st.integers(min_value=0, max_value=7)


def _flip(blob: bytes, pos: int, bit: int) -> tuple[bytes, int]:
    pos %= len(blob)
    out = bytearray(blob)
    out[pos] ^= 1 << bit
    return bytes(out), pos


def _tfrecord_readers():
    from bravo_spark.codecs.tfrecord import iter_tfrecords, read_all_tfrecords

    return (lambda b: list(iter_tfrecords(b)), read_all_tfrecords)


_TF_RECS = st.lists(_PAYLOAD, min_size=1, max_size=5)


@settings(max_examples=80, deadline=None)
@given(recs=_TF_RECS, cut=_POS)
def test_tfrecord_truncation_yields_whole_prefix(recs, cut):
    from bravo_spark.codecs.tfrecord import TfRecordError, write_tfrecords

    blob = write_tfrecords(recs)
    cut %= len(blob) + 1
    for read in _tfrecord_readers():
        try:
            got = read(blob[:cut])
        except TfRecordError:
            continue
        assert got == recs[:len(got)]
        assert len(got) < len(recs) or cut == len(blob)


@settings(max_examples=120, deadline=None)
@given(recs=_TF_RECS, pos=_POS, bit=_BIT)
def test_tfrecord_bitflip_raises_or_exact(recs, pos, bit):
    from bravo_spark.codecs.tfrecord import TfRecordError, write_tfrecords

    blob, pos = _flip(write_tfrecords(recs), pos, bit)
    for read in _tfrecord_readers():
        try:
            got = read(blob)
        except TfRecordError:
            continue
        assert got == recs, f"flip at byte {pos} decoded silently"


_ZIP_ENTRIES = st.lists(
    st.tuples(
        st.text(min_size=1, max_size=12).filter(lambda n: not n.endswith("/")),
        _PAYLOAD,
    ),
    min_size=1, max_size=4, unique_by=lambda e: e[0],
)


@settings(max_examples=80, deadline=None)
@given(entries=_ZIP_ENTRIES, method=st.sampled_from(["deflate", "stored"]),
       cut=_POS)
def test_zip_truncation_yields_whole_prefix(entries, method, cut):
    from bravo_spark.codecs.zipfmt import ZipError, parse_zip, write_zip

    blob = write_zip(entries, method=method)
    cut %= len(blob) + 1
    try:
        got = parse_zip(blob[:cut])
    except ZipError:
        return
    assert got == entries[:len(got)]
    assert len(got) < len(entries) or cut == len(blob)


@settings(max_examples=150, deadline=None)
@given(entries=_ZIP_ENTRIES, method=st.sampled_from(["deflate", "stored"]),
       pos=_POS, bit=_BIT)
# the central directory's UTF-8 flag bit (byte 50 here): a non-ASCII
# name must not come back silently re-decoded as cp437
@example(entries=[("\u00e9.txt", b"hello")], method="stored", pos=50, bit=3)
def test_zip_bitflip_raises_or_exact(entries, method, pos, bit):
    from bravo_spark.codecs.zipfmt import ZipError, parse_zip, write_zip

    blob, pos = _flip(write_zip(entries, method=method), pos, bit)
    try:
        got = parse_zip(blob)
    except ZipError:
        return
    assert got == entries, f"flip at byte {pos} decoded silently"


_WDS_SAMPLES = st.lists(
    st.tuples(st.text(alphabet="abcdefghij0123456789-_", min_size=1,
                      max_size=20),
              st.binary(max_size=700), st.binary(max_size=700)),
    min_size=1, max_size=4, unique_by=lambda s: s[0],
)


def _wds_tar(samples) -> bytes:
    """The shard bytes write_webdataset_shards emits for ``samples``
    (USTAR, zeroed mtime/owner, mode 0644, sorted extensions)."""
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.USTAR_FORMAT) as tar:
        for key, a, b in samples:
            for ext, data in (("aa", a), ("bb", b)):
                info = tarfile.TarInfo(f"{key}.{ext}")
                info.size, info.mtime, info.mode = len(data), 0, 0o644
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tar.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def _wds_parse(blob: bytes):
    from bravo_spark.sources.webdataset_source import iter_samples

    return [(k, got.get("aa"), got.get("bb"))
            for k, got in iter_samples(blob, "shard.tar")]


@settings(max_examples=80, deadline=None)
@given(samples=_WDS_SAMPLES, cut=_POS)
def test_webdataset_truncation_yields_whole_prefix(samples, cut):
    from bravo_spark.sources.webdataset_source import WebDatasetError

    blob = _wds_tar(samples)
    cut %= len(blob) + 1
    try:
        got = _wds_parse(blob[:cut])
    except WebDatasetError:
        return
    assert got == samples[:len(got)]
    assert len(got) < len(samples) or cut == len(blob) or (
        blob[cut:].count(0) == len(blob) - cut)  # only end padding was cut


@settings(max_examples=150, deadline=None)
@given(samples=_WDS_SAMPLES, pos=_POS, bit=_BIT)
def test_webdataset_bitflip_raises_or_exact(samples, pos, bit):
    """tar carries no payload checksum (its header checksum covers the
    header block only), so a flip inside a member's data must come back
    as exactly that flipped byte and nothing else; a flip anywhere else
    raises or decodes to exactly the input."""
    import io
    import tarfile

    from bravo_spark.sources.webdataset_source import WebDatasetError

    clean = _wds_tar(samples)
    blob, pos = _flip(clean, pos, bit)
    want = [(k, a, b) for k, a, b in samples]
    with tarfile.open(fileobj=io.BytesIO(clean), mode="r:") as tar:
        for i, m in enumerate(tar.getmembers()):
            if m.offset_data <= pos < m.offset_data + m.size:
                k, a, b = want[i // 2]
                part = bytearray(b if i % 2 else a)
                part[pos - m.offset_data] ^= 1 << bit
                want[i // 2] = (k, a, bytes(part)) if i % 2 else (
                    k, bytes(part), b)
    try:
        got = _wds_parse(blob)
    except WebDatasetError:
        return
    assert got == want, f"flip at byte {pos} decoded silently"
