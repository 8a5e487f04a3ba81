"""codecs/zipfmt.py + sources/zip_source.py: ZIP training-shard
container. Both directions validate against stdlib zipfile as the
foreign implementation (the codec deliberately never imports it);
structural refusals are probed by patching real archives field by
field."""

from __future__ import annotations

import io
import os
import random
import struct
import zipfile

import pytest

from bravo_spark.codecs.zipfmt import (
    ZipError,
    iter_zip,
    parse_zip,
    write_zip,
)
from bravo_spark.sources.zip_source import read_zip_shards, write_zip_shards

_ENTRIES = [
    ("0001.txt", b"hello world"),
    ("0002.txt", "unicode é中文".encode("utf-8")),
    ("img/0003.bin", bytes(range(256)) * 500),
    ("empty.txt", b""),
]


def _cd_off(blob: bytes) -> int:
    return blob.find(b"PK\x01\x02")


# ---------------------------------------------------------------------------
# codec: roundtrips + foreign validation
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("method", ["stored", "deflate"])
def test_roundtrip_both_directions_vs_stdlib(method):
    blob = write_zip(_ENTRIES, method=method)
    assert parse_zip(blob) == _ENTRIES

    # ours → stdlib: names, payloads, and CRC check all agree
    zf = zipfile.ZipFile(io.BytesIO(blob))
    assert [(i.filename, zf.read(i)) for i in zf.infolist()] == _ENTRIES
    assert zf.testzip() is None

    # determinism: same input → byte-identical archive
    assert write_zip(_ENTRIES, method=method) == blob


def test_stdlib_written_archive_reads_back():
    """stdlib → ours: mixed methods, a directory entry (skipped, like
    the tar reader's isreg rule), and an archive comment containing the
    EOCD signature bytes (the strict tail-scan must not be fooled)."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("a/b.txt", b"nested", compress_type=zipfile.ZIP_DEFLATED)
        zf.writestr("dir/", b"")
        zf.writestr("plain.txt", b"stored")
        zf.comment = b"comment with PK\x05\x06 inside"
    assert parse_zip(buf.getvalue()) == [
        ("a/b.txt", b"nested"),
        ("plain.txt", b"stored"),
    ]


def test_prepended_junk_concat_adjustment():
    """A self-extracting stub prepends bytes before the first local
    header; recorded offsets shift uniformly and the standard
    concatenation adjustment must recover them."""
    junk = b"#!/bin/sh extraction stub\n" * 8
    assert parse_zip(junk + write_zip(_ENTRIES)) == _ENTRIES


def test_cp437_name_without_utf8_flag():
    """Names without flag bit 11 decode as cp437 (APPNOTE D.1):
    byte 0x9C is the pound sign there, not a UTF-8 fragment."""
    blob = bytearray(write_zip([("X.txt", b"pp")], method="stored"))
    # clear the UTF-8 flag in both headers, swap the name byte for 0x9C
    struct.pack_into("<H", blob, 6, 0)  # local flags
    cd = _cd_off(bytes(blob))
    struct.pack_into("<H", blob, cd + 8, 0)  # central flags
    for pos in range(len(blob)):
        if blob[pos:pos + 5] == b"X.txt":
            blob[pos] = 0x9C
    assert parse_zip(bytes(blob)) == [("£.txt", b"pp")]


def test_data_descriptor_zeroed_local_sizes():
    """Flag bit 3 (streaming writer): local crc/sizes are zero, the
    central directory is authoritative — the reader must slice by the
    directory's values."""
    blob = bytearray(write_zip([("s.txt", b"stream-written payload")],
                               method="stored"))
    struct.pack_into("<H", blob, 6, 0x0808)   # local flags: DD + UTF-8
    struct.pack_into("<III", blob, 14, 0, 0, 0)  # local crc/csize/usize
    cd = _cd_off(bytes(blob))
    struct.pack_into("<H", blob, cd + 8, 0x0808)
    assert parse_zip(bytes(blob)) == [("s.txt", b"stream-written payload")]


def test_empty_archive():
    blob = write_zip([])
    assert blob == write_zip([]) and len(blob) == 22
    assert parse_zip(blob) == []
    assert zipfile.ZipFile(io.BytesIO(blob)).infolist() == []


# ---------------------------------------------------------------------------
# codec: named refusals
# ---------------------------------------------------------------------------


def test_crc_mismatch_refuses():
    blob = bytearray(write_zip([("x.txt", b"payload bytes")],
                               method="stored"))
    blob[blob.index(b"payload")] ^= 0xFF
    with pytest.raises(ZipError, match="CRC-32"):
        parse_zip(bytes(blob))


def test_truncations_refuse_everywhere():
    good = write_zip(_ENTRIES)
    for cut in (5, 21, len(good) // 3, len(good) // 2, len(good) - 3):
        with pytest.raises(ZipError):
            parse_zip(good[:cut])


def test_unknown_method_refuses_by_name():
    blob = bytearray(write_zip([("x.txt", b"abc")], method="stored"))
    struct.pack_into("<H", blob, 8, 12)  # local method → bzip2
    struct.pack_into("<H", blob, _cd_off(bytes(blob)) + 10, 12)
    with pytest.raises(ZipError, match="method 12"):
        parse_zip(bytes(blob))


def test_encrypted_member_refuses_by_name():
    blob = bytearray(write_zip([("x.txt", b"abc")], method="stored"))
    cd = _cd_off(bytes(blob))
    flags = struct.unpack_from("<H", blob, cd + 8)[0]
    struct.pack_into("<H", blob, cd + 8, flags | 1)
    with pytest.raises(ZipError, match="encrypted"):
        parse_zip(bytes(blob))


def test_multi_disk_refuses():
    blob = bytearray(write_zip([("x.txt", b"abc")]))
    eocd = bytes(blob).rfind(b"PK\x05\x06")
    struct.pack_into("<H", blob, eocd + 4, 1)  # disk number
    with pytest.raises(ZipError, match="multi-disk"):
        parse_zip(bytes(blob))


def test_local_name_mismatch_refuses():
    """Directory offsets pointing at the WRONG member (overlap/tamper)
    surface as a local/central name disagreement."""
    blob = bytearray(write_zip(
        [("aaaa.txt", b"one"), ("bbbb.txt", b"two")], method="stored"))
    cd = _cd_off(bytes(blob))
    # second central entry: first is 46+8 bytes after cd
    second = cd + 46 + 8
    assert blob[second:second + 4] == b"PK\x01\x02"
    struct.pack_into("<I", blob, second + 42, 0)  # point at member one
    with pytest.raises(ZipError, match="inconsistent"):
        parse_zip(bytes(blob))


def test_utf8_flag_disagreement_refuses():
    """Each header's name decodes under its own flags: clearing the
    UTF-8 bit in the central directory alone used to return the name
    re-decoded as cp437 ('├⌐.txt' for 'é.txt') without an error."""
    blob = bytearray(write_zip([("é.txt", b"pp")], method="stored"))
    cd = _cd_off(bytes(blob))
    struct.pack_into("<H", blob, cd + 8, 0)  # central flags only
    with pytest.raises(ZipError, match="inconsistent"):
        parse_zip(bytes(blob))


def test_lying_uncompressed_size_refuses_both_ways():
    payload = b"A" * 10_000
    blob = bytearray(write_zip([("x.txt", payload)], method="deflate"))
    cd = _cd_off(bytes(blob))

    # declared smaller than the stream inflates to
    small = bytearray(blob)
    struct.pack_into("<I", small, cd + 24, 100)
    with pytest.raises(ZipError, match="size"):
        parse_zip(bytes(small))

    # declared absurdly large for the compressed size (bomb posture:
    # refused BEFORE inflating, so the huge buffer never materializes)
    big = bytearray(blob)
    struct.pack_into("<I", big, cd + 24, 0xFFFF_0000)
    with pytest.raises(ZipError, match="bomb"):
        parse_zip(bytes(big))


def test_writer_refusals():
    with pytest.raises(ZipError, match="empty or a directory"):
        write_zip([("", b"x")])
    with pytest.raises(ZipError, match="empty or a directory"):
        write_zip([("dir/", b"x")])
    with pytest.raises(ZipError, match="duplicate member"):
        write_zip([("a.txt", b"1"), ("a.txt", b"2")])
    with pytest.raises(ZipError, match="unsupported write method"):
        write_zip([("a.txt", b"1")], method="bzip2")


def test_mutation_fuzz_never_hangs_or_leaks():
    """Any single-byte flip or truncation either still parses or
    raises ZipError — never another exception type, never a hang."""
    base = write_zip(_ENTRIES)
    rng = random.Random(0xC0DEC)
    for _ in range(300):
        blob = bytearray(base)
        if rng.random() < 0.5:
            blob[rng.randrange(len(blob))] ^= 1 << rng.randrange(8)
            data = bytes(blob)
        else:
            data = base[:rng.randrange(len(base))]
        try:
            for _name, _payload in iter_zip(data):
                pass
        except ZipError:
            pass


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def _df(spark, n=12):
    return spark.createDataFrame(
        [(f"{i:06d}.txt", f"document body {i} " * (i + 1)) for i in range(n)],
        "name string, body string",
    ).repartition(3)


def test_shard_write_read_roundtrip(spark, tmp_path):
    """write → read roundtrip through a file:// URI (pyarrow.fs path);
    one shard per non-empty partition; byte-determinism across runs;
    our shards open with plain stdlib zipfile."""
    import hashlib

    df = _df(spark)
    digests = []
    for run in ("w1", "file://" + str(tmp_path / "w2")):
        out = str(tmp_path / run) if "://" not in run else run
        assert write_zip_shards(df, out, "name", "body") == 12
        d = str(tmp_path / run.split("/")[-1])
        names = sorted(os.listdir(d))
        assert len(names) == 3 and all(n.endswith(".zip") for n in names)
        digests.append([hashlib.md5(
            open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in names])
    assert digests[0] == digests[1]

    with zipfile.ZipFile(str(tmp_path / "w1" / names[0])) as zf:
        assert zf.testzip() is None and zf.infolist()

    back = read_zip_shards(spark, str(tmp_path / "w1"))
    rows = {r.name: bytes(r.data).decode() for r in back.collect()}
    assert len(rows) == 12
    assert rows["000007.txt"] == "document body 7 " * 8


def test_empty_partition_writes_no_shard(spark, tmp_path):
    df = spark.createDataFrame(
        [("only.txt", b"x")], "name string, body binary").repartition(4)
    out = str(tmp_path / "sparse")
    assert write_zip_shards(df, out, "name", "body") == 1
    assert len(os.listdir(out)) == 1


def test_null_name_and_payload_refuse(spark, tmp_path):
    bad_name = spark.createDataFrame(
        [(None, b"x")], "name string, body binary")
    with pytest.raises(Exception, match="NULL member name"):
        write_zip_shards(bad_name, str(tmp_path / "n1"), "name", "body")
    bad_body = spark.createDataFrame(
        [("a.txt", None)], "name string, body binary")
    with pytest.raises(Exception, match="NULL payload"):
        write_zip_shards(bad_body, str(tmp_path / "n2"), "name", "body")


def test_torn_shard_refuses_with_archive_path(spark, tmp_path):
    out = str(tmp_path / "torn")
    os.makedirs(out)
    with open(os.path.join(out, "shard_00000.zip"), "wb") as f:
        f.write(write_zip([("a.txt", b"ok")])[:-7])
    with pytest.raises(Exception, match="shard_00000.zip"):
        read_zip_shards(spark, out).collect()


def test_member_count_boundary_write_read_symmetry():
    """65534 members write and read back; 65535 refuses at write time —
    n_total == 0xFFFF is the byte pattern the reader (and zip64-aware
    readers generally) treats as the zip64 marker, so the writer must
    never produce an archive its own read path refuses."""
    entries = ((f"m{i:05d}", b"") for i in range(65534))
    blob = write_zip(entries, method="stored")
    got = parse_zip(blob)
    assert len(got) == 65534 and got[0] == ("m00000", b"")
    with pytest.raises(ZipError, match="zip64 marker"):
        write_zip(((f"m{i:05d}", b"") for i in range(65535)),
                  method="stored")


# ---------------------------------------------------------------------------
# property fuzz: arbitrary member sets roundtrip byte-exactly
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_name_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",),
                           blacklist_characters="/\x00"),
    min_size=1, max_size=40,
).filter(lambda s: not s.endswith("/"))


@settings(max_examples=60, deadline=None)
@given(
    entries=st.lists(
        st.tuples(_name_st, st.binary(max_size=2000)),
        max_size=8,
        unique_by=lambda e: e[0],
    ),
    method=st.sampled_from(["stored", "deflate"]),
)
def test_roundtrip_property(entries, method):
    """write_zip → parse_zip is the identity for any unique-name member
    set (arbitrary unicode names, arbitrary payloads incl. empty and
    high-entropy), under both methods — and stdlib zipfile agrees."""
    blob = write_zip(entries, method=method)
    assert parse_zip(blob) == entries
    zf = zipfile.ZipFile(io.BytesIO(blob))
    assert [(i.filename, zf.read(i)) for i in zf.infolist()] == [
        (n, bytes(d)) for n, d in entries]


def test_streaming_restart_continuation(spark, tmp_path):
    """read_zip_stream: shards landing AFTER the first drain are picked
    up by a restarted query from the same checkpoint, exactly once (the
    warc/avro streaming contract)."""
    from bravo_spark.sources.zip_source import read_zip_stream

    d = str(tmp_path / "drop")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(d)

    def shard(fname, entries):
        with open(os.path.join(d, fname), "wb") as f:
            f.write(write_zip(entries))

    shard("s1.zip", [("a.txt", b"alpha"), ("b.txt", b"beta")])

    def drain():
        q = (
            read_zip_stream(spark, d)
            .select("name", "data")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r.name for r in spark.read.parquet(out).collect()}

    assert drain() == {"a.txt", "b.txt"}
    shard("s2.zip", [("c.txt", b"gamma")])
    assert drain() == {"a.txt", "b.txt", "c.txt"}
    total_before = spark.read.parquet(out).count()
    assert drain() == {"a.txt", "b.txt", "c.txt"}
    assert spark.read.parquet(out).count() == total_before == 3


# ---------------------------------------------------------------------------
# zip64 READ (the writer still refuses zip64 — partition-grain shards
# never need it; foreign training datasets DO arrive as zip64)
# ---------------------------------------------------------------------------


def test_zip64_member_extra_field_resolves_masked_sizes():
    """force_zip64 members carry 0xFFFFFFFF-masked CD sizes resolved
    from the 0x0001 extra field — the shape stdlib writes."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", compression=zipfile.ZIP_DEFLATED) as zf:
        with zf.open("big.bin", "w", force_zip64=True) as f:
            f.write(b"payload " * 1000)
        zf.writestr("small.txt", b"plain")
    got = parse_zip(buf.getvalue())
    assert [(n, len(d)) for n, d in got] == [("big.bin", 8000),
                                             ("small.txt", 5)]
    assert got[0][1] == b"payload " * 1000


def _zip64_many(n=70000):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for i in range(n):
            zf.writestr(f"m{i:05d}", b"")
    return buf.getvalue()


def test_zip64_eocd_chain_reads_past_65535_members():
    """>65535 members (the ImageNet shape): the zip64 EOCD
    locator/record chain carries the real count/offsets — including
    under prepended junk (the chain is verified by the record's own
    size field, so the concat adjustment still applies)."""
    blob = _zip64_many()
    got = parse_zip(blob)
    assert len(got) == 70000 and got[-1] == ("m69999", b"")
    junk = b"#!stub " * 16
    assert len(parse_zip(junk + blob)) == 70000


def test_zip64_torn_chain_refuses_by_name():
    blob = bytearray(_zip64_many())
    p = bytes(blob).rfind(b"PK\x06\x06")
    blob[p] ^= 0xFF  # record signature gone: locator points at nothing
    with pytest.raises(ZipError, match="zip64"):
        parse_zip(bytes(blob))
    blob2 = bytearray(_zip64_many())
    struct.pack_into("<Q", blob2, p + 4, 9999)  # size breaks the chain
    with pytest.raises(ZipError, match="zip64"):
        parse_zip(bytes(blob2))


def test_eocd_markers_without_locator_refuse():
    """0xFFFF/0xFFFFFFFF markers in the EOCD with NO zip64 locator is a
    torn archive, not a silent zero-member read."""
    blob = bytearray(write_zip([("x.txt", b"abc")]))
    eocd = bytes(blob).rfind(b"PK\x05\x06")
    struct.pack_into("<HH", blob, eocd + 8, 0xFFFF, 0xFFFF)
    with pytest.raises(ZipError, match="zip64"):
        parse_zip(bytes(blob))


def test_zip64_masked_eocd_disk_fields_read_fine():
    """APPNOTE 4.4.19/4.4.20: a zip64 writer may 0xFFFF-mask even the
    EOCD disk-number fields, with the real values (0) in the zip64
    record — such single-disk archives must read, not refuse as
    multi-disk."""
    blob = bytearray(_zip64_many(66000))
    eocd = bytes(blob).rfind(b"PK\x05\x06")
    struct.pack_into("<HH", blob, eocd + 4, 0xFFFF, 0xFFFF)
    assert len(parse_zip(bytes(blob))) == 66000
