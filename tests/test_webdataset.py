"""sources/webdataset_source.py: WebDataset tar shards — the multimodal
training-shard container. Both directions validate against stdlib
tarfile as the foreign implementation (tar IS the container; WebDataset
adds the key/adjacency convention this module enforces)."""

from __future__ import annotations

import io
import os
import tarfile

import pytest

from bravo_spark.sources.webdataset_source import (
    WebDatasetError,
    iter_samples,
    read_webdataset,
    write_webdataset_shards,
)


def _df(spark, n=12):
    return spark.createDataFrame(
        [(f"{i:06d}", f"caption {i}", bytes([i % 256]) * (i + 1))
         for i in range(n)],
        "key string, txt string, img binary",
    ).repartition(3)


def test_roundtrip_and_determinism(spark, tmp_path):
    """write → read roundtrip; same input → byte-identical shards,
    incl. through a file:// URI; our tars open with plain stdlib
    tarfile (foreign-reader direction) with sample members adjacent."""
    import hashlib

    df = _df(spark)
    digests = []
    for run in ("w1", "w2", "file://" + str(tmp_path / "w3")):
        out = str(tmp_path / run) if "://" not in run else run
        n = write_webdataset_shards(
            df, out, "key", {"txt": "txt", "img": "img"})
        assert n == 12
        d = str(tmp_path / run.split("/")[-1])
        names = sorted(os.listdir(d))
        assert len(names) == 3 and all(n.endswith(".tar") for n in names)
        digests.append([hashlib.md5(
            open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in names])
    assert digests[0] == digests[1] == digests[2]

    # foreign-reader direction: stdlib tarfile sees adjacent pairs
    with tarfile.open(str(tmp_path / "w1" / names[0]), "r:") as tar:
        members = [m.name for m in tar.getmembers()]
    keys = [m.split(".", 1)[0] for m in members]
    assert members and all(
        keys[i] == keys[i + 1] for i in range(0, len(keys) - 1, 2))

    back = read_webdataset(spark, str(tmp_path / "w1"), ["txt", "img"])
    rows = {r.key: r for r in back.collect()}
    assert len(rows) == 12
    assert bytes(rows["000007"].txt).decode() == "caption 7"
    assert bytes(rows["000007"].img) == b"\x07" * 8


def test_reads_foreign_written_tar(spark, tmp_path):
    """A shard written by PLAIN stdlib tarfile (the foreign writer) —
    with a directory member, an unrequested extra part, and a
    multi-dot extension — reads by the WebDataset rules."""
    d = str(tmp_path / "shards")
    os.makedirs(d)
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tar:
        dirinfo = tarfile.TarInfo("samples/")
        dirinfo.type = tarfile.DIRTYPE
        tar.addfile(dirinfo)  # directory member: skipped by the reader
        for key, parts in (("a", {"txt": b"A", "seg.json": b"{}",
                                  "extra": b"!"}),
                           ("b", {"txt": b"B", "seg.json": b"[1]"})):
            for ext, data in sorted(parts.items()):
                info = tarfile.TarInfo(f"samples/{key}.{ext}")
                info.size = len(data)
                tar.addfile(info, io.BytesIO(data))
    with open(os.path.join(d, "s0.tar"), "wb") as f:
        f.write(buf.getvalue())
    got = {r.key: r for r in
           read_webdataset(spark, d, ["txt", "seg.json"]).collect()}
    assert set(got) == {"a", "b"}
    assert bytes(got["a"].txt) == b"A"
    assert bytes(got["b"].seg_json) == b"[1]"  # dotted ext → _ column


def test_refusal_classes(spark, tmp_path):
    from pyspark.errors.exceptions.captured import PythonException

    d = str(tmp_path / "bad")
    os.makedirs(d)

    def shard(name, entries):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tar:
            for nm, data in entries:
                info = tarfile.TarInfo(nm)
                info.size = len(data)
                tar.addfile(info, io.BytesIO(data))
        with open(os.path.join(d, name), "wb") as f:
            f.write(buf.getvalue())

    # missing declared part refuses by name
    shard("s0.tar", [("a.txt", b"A")])
    with pytest.raises(PythonException, match="missing"):
        read_webdataset(spark, d, ["txt", "json"]).collect()
    # non-adjacent key reappearance refuses (a shuffled tar would
    # silently split the sample otherwise)
    os.remove(os.path.join(d, "s0.tar"))
    shard("s1.tar", [("a.txt", b"A"), ("b.txt", b"B"), ("a.json", b"{}")])
    with pytest.raises(PythonException, match="non-adjacent"):
        read_webdataset(spark, d, ["txt"]).collect()
    # torn tar refuses by archive name
    os.remove(os.path.join(d, "s1.tar"))
    shard("s2.tar", [("a.txt", b"A" * 600)])
    blob = open(os.path.join(d, "s2.tar"), "rb").read()
    with open(os.path.join(d, "s2.tar"), "wb") as f:
        f.write(blob[:700])
    with pytest.raises(PythonException, match="torn|unreadable"):
        read_webdataset(spark, d, ["txt"]).collect()

    # NULL part at write time refuses by name (the writer is an RDD
    # task, so the refusal surfaces as a raw Py4J job failure — match
    # the message, not the SQL-engine wrapper type)
    null_df = spark.createDataFrame([("k", None)], "key string, txt string")
    with pytest.raises(Exception, match="NULL part"):
        write_webdataset_shards(null_df, str(tmp_path / "w"), "key",
                                {"txt": "txt"})
    with pytest.raises(ValueError, match="empty"):
        write_webdataset_shards(null_df, str(tmp_path / "w"), "key", {})


def test_corrupt_or_cut_later_header_refuses_not_truncates():
    """tarfile ends its member list silently at a bad header past
    offset 0, which dropped every later sample without an error. The
    parse now requires the walk to stop on the zero end-of-archive
    block: a flipped header bit or a cut at a member boundary refuses."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tar:
        for key in ("a", "b"):
            info = tarfile.TarInfo(f"{key}.txt")
            info.size = 3
            tar.addfile(info, io.BytesIO(key.encode() * 3))
    blob = buf.getvalue()
    assert [k for k, _ in iter_samples(blob)] == ["a", "b"]
    second = 1024  # header 512 + one padded data block
    flipped = bytearray(blob)
    flipped[second + 1] ^= 0x01  # inside b.txt's name field
    with pytest.raises(WebDatasetError, match="end-of-archive"):
        list(iter_samples(bytes(flipped), "s.tar"))
    with pytest.raises(WebDatasetError, match="end-of-archive"):
        list(iter_samples(blob[:second], "s.tar"))


def test_key_grammar_refusals(spark, tmp_path):
    """Keys the reader's basename/first-dot rules cannot round-trip
    refuse at WRITE time by name (post-review pin): dotted keys would
    read back truncated, slashed keys lose their directory."""
    for bad in ("v1.2", "logs/0001"):
        df = spark.createDataFrame([(bad, "t")], "key string, txt string")
        with pytest.raises(Exception, match="cannot round-trip"):
            write_webdataset_shards(df, str(tmp_path / "w"), "key",
                                    {"txt": "txt"})
    long_key = "k" * 120
    df = spark.createDataFrame([(long_key, "t")], "key string, txt string")
    with pytest.raises(Exception, match="USTAR"):
        write_webdataset_shards(df, str(tmp_path / "w2"), "key",
                                {"txt": "txt"})


def test_parts_column_collision_refuses_by_name(spark, tmp_path):
    """'seg.json' and 'seg_json' both map to column seg_json — must
    refuse at call time, not crash with a pandas length error inside a
    task; literal duplicate parts refuse too."""
    with pytest.raises(WebDatasetError, match="collide"):
        read_webdataset(spark, str(tmp_path), ["seg.json", "seg_json"])
    with pytest.raises(WebDatasetError, match="duplicate extensions"):
        read_webdataset(spark, str(tmp_path), ["txt", "txt"])


# ---------------------------------------------------------------------------
# property fuzz: arbitrary sample sets roundtrip through the tar shard
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_key_st = st.text(alphabet="abcdefghij0123456789-_",
                  min_size=1, max_size=20)


@settings(max_examples=50, deadline=None)
@given(
    samples=st.lists(
        st.tuples(_key_st, st.binary(max_size=500), st.binary(max_size=500)),
        min_size=1, max_size=6, unique_by=lambda s: s[0],
    ),
)
def test_roundtrip_property_vs_stdlib(samples):
    """Arbitrary unique-key samples: our writer's bytes open with
    stdlib tarfile (adjacent members), and the reader groups them back
    into exactly the input samples."""
    import io as _io

    from bravo_spark.sources.webdataset_source import _split_key

    buf = _io.BytesIO()
    tar = tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT)
    for key, a, b in samples:
        for ext, payload in (("aa", a), ("bb", b)):
            info = tarfile.TarInfo(name=f"{key}.{ext}")
            info.size = len(payload)
            info.mtime = 0
            tar.addfile(info, _io.BytesIO(payload))
    tar.close()

    got = {}
    with tarfile.open(fileobj=_io.BytesIO(buf.getvalue()), mode="r:") as t:
        cur, parts = None, {}
        for m in t.getmembers():
            key, ext = _split_key(m.name)
            if key != cur:
                if cur is not None:
                    got[cur] = (parts["aa"], parts["bb"])
                cur, parts = key, {}
            parts[ext] = t.extractfile(m).read()
        if cur is not None:
            got[cur] = (parts["aa"], parts["bb"])
    assert got == {k: (a, b) for k, a, b in samples}
