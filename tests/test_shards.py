"""Shard IO (sources/shards.py): every container sink commits a shard
atomically. A partition whose encoder fails part-way must leave neither
a readable partial shard under a final name nor a temporary behind."""

from __future__ import annotations

import os

import pytest

from bravo_spark.sources.shards import write_shards


def _write_warc(spark, out):
    from bravo_spark.sources.warc_source import write_warc_shards

    rows = [(f"doc://{i}", f"text {i}") for i in range(50)]
    rows.append(("doc://bad\r\nX-Injected: 1", "tail"))
    df = spark.createDataFrame(rows, "uri string, payload string")
    write_warc_shards(df.coalesce(1), out)


def _write_webdataset(spark, out):
    from bravo_spark.sources.webdataset_source import write_webdataset_shards

    rows = [(f"k{i:04d}", f"text {i}") for i in range(50)] + [("v1.2", "x")]
    df = spark.createDataFrame(rows, "key string, txt string")
    write_webdataset_shards(df.coalesce(1), out, "key", {"txt": "txt"})


def _write_zip(spark, out):
    from bravo_spark.sources.zip_source import write_zip_shards

    rows = [(f"m{i}.txt", f"text {i}") for i in range(50)] + [("m.txt", None)]
    df = spark.createDataFrame(rows, "name string, data string")
    write_zip_shards(df.coalesce(1), out, "name", "data")


def _write_avro(spark, out):
    from bravo_spark.sources.avro_source import write_avro

    # 2 500 valid records fill two 1 000-record OCF blocks before the
    # NULL: a writer that streams onto the final name leaves a valid
    # two-block file there
    rows = [(i, b"x" * 8) for i in range(2500)] + [(2500, None)]
    df = spark.createDataFrame(rows, "id long, b binary")
    schema = {"type": "record", "name": "R",
              "fields": [{"name": "id", "type": "long"},
                         {"name": "b", "type": "bytes"}]}
    write_avro(df.coalesce(1), out, schema)


def _write_tfrecord(spark, out):
    # the TFRecord codec refuses nothing, so fail the encoder itself
    # after its first chunk has gone to the output stream
    def encode(rows):
        from bravo_spark.codecs.tfrecord import write_tfrecords

        for r in rows:
            yield write_tfrecords([r["rec"]])
            raise RuntimeError("encoder failed after its first chunk")

    df = spark.createDataFrame([(b"rec%d" % i,) for i in range(50)],
                               "rec binary")
    write_shards(df.coalesce(1), out, "tfrecord", encode)


@pytest.mark.parametrize("write,match", [
    (_write_warc, "CR/LF"),
    (_write_webdataset, "cannot round-trip"),
    (_write_zip, "NULL payload"),
    (_write_avro, "NULL value"),
    (_write_tfrecord, "encoder failed"),
], ids=["warc", "webdataset", "zip", "avro", "tfrecord"])
def test_failed_partition_leaves_no_partial_shard(spark, tmp_path, write,
                                                  match):
    out = str(tmp_path / "shards")
    with pytest.raises(Exception, match=match):
        write(spark, out)
    # no shard under a final name, and no temporary (hidden files too)
    assert os.listdir(out) == []


def test_commit_names_counts_and_skips_empty_partitions(spark, tmp_path):
    """Shard names follow the partition index, empty partitions write no
    file, the count is rows written, and a rewrite replaces shards in
    place without leaving temporaries."""
    from pyspark.sql import functions as F

    df = spark.range(0, 3, 1, numPartitions=3).where("id != 1").select(
        F.col("id").cast("string").cast("binary").alias("rec"))

    def encode(rows):
        for r in rows:
            yield r["rec"]

    out = str(tmp_path / "shards")
    for _ in range(2):
        assert write_shards(df, out, "bin", encode) == 2
        names = sorted(os.listdir(out))
        assert names == ["shard_00000.bin", "shard_00002.bin"]
        assert [open(os.path.join(out, n), "rb").read()
                for n in names] == [b"0", b"2"]


def test_commit_file_keeps_old_file_when_rewrite_fails(tmp_path):
    """A rewrite that fails part-way (e.g. a re-written _MANIFEST.json)
    leaves the previous committed file untouched and no temporary."""
    from pyarrow import fs as pafs

    from bravo_spark.sources.shards import commit_file

    fs, final = pafs.LocalFileSystem(), str(tmp_path / "f.bin")
    commit_file(fs, final, [b"old"], "a1")

    def chunks():
        yield b"new, partial"
        raise RuntimeError("writer died")

    with pytest.raises(RuntimeError, match="writer died"):
        commit_file(fs, final, chunks(), "a2")
    assert os.listdir(tmp_path) == ["f.bin"]
    assert open(final, "rb").read() == b"old"
