"""Avro source/sink over binaryFile (sources/avro_source.py): batch
roundtrip through the distributed writer, streaming restart
continuation, and schema-field validation."""

from __future__ import annotations

import os

import pytest

from bravo_spark.codecs.avro import write_ocf
from bravo_spark.sources.avro_source import (
    read_avro,
    read_avro_stream,
    write_avro,
)

_AVRO_SCHEMA = {
    "type": "record",
    "name": "Row",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "s", "type": "string"},
    ],
}
_DDL = "id long, s string"


def test_write_read_roundtrip(spark, tmp_path):
    out = str(tmp_path / "shards")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(500)], _DDL
    ).repartition(4)
    write_avro(df, out, _AVRO_SCHEMA)
    assert len([f for f in os.listdir(out) if f.endswith(".avro")]) == 4
    back = read_avro(spark, out, _DDL)
    assert back.count() == 500
    assert {r.s for r in back.filter("id < 3").collect()} == {"v0", "v1", "v2"}


def test_write_refuses_missing_fields(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="lacks Avro schema fields"):
        write_avro(df, str(tmp_path / "x"), _AVRO_SCHEMA)


def test_streaming_restart_continuation(spark, tmp_path):
    drop = str(tmp_path / "drop")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(drop)

    def shard(name, lo, hi):
        with open(os.path.join(drop, name), "wb") as f:
            f.write(
                write_ocf(
                    _AVRO_SCHEMA,
                    [{"id": i, "s": f"v{i}"} for i in range(lo, hi)],
                )
            )

    def drain():
        q = (
            read_avro_stream(spark, drop, _DDL)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r.id for r in spark.read.parquet(out).collect()}

    shard("a.avro", 0, 5)
    assert drain() == set(range(5))
    shard("b.avro", 5, 9)
    assert drain() == set(range(9))  # only the new shard processed
    assert spark.read.parquet(out).count() == 9  # no reprocess


def test_ddl_with_parameterized_and_nested_types(spark, tmp_path):
    """Comma-splitting the DDL breaks on decimal(10,2)/struct<> — the
    parse must use a real DDL parser."""
    out = str(tmp_path / "ddl")
    sch = {
        "type": "record", "name": "D",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
        ],
    }
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, [])], "id long, tags array<string>"
    )
    write_avro(df, out, sch)
    back = read_avro(spark, out, "id long, tags array<string>")
    rows = {r.id: list(r.tags) for r in back.collect()}
    assert rows == {1: ["a", "b"], 2: []}


def test_field_named_count_roundtrips(spark, tmp_path):
    """Row subclasses tuple: getattr(row, 'count') is the tuple METHOD —
    the writer must read values by position."""
    out = str(tmp_path / "cnt")
    sch = {
        "type": "record", "name": "C",
        "fields": [
            {"name": "count", "type": "long"},
            {"name": "index", "type": "long"},
        ],
    }
    df = spark.createDataFrame([(5, 7), (8, 9)], "count long, index long")
    write_avro(df, out, sch)
    back = read_avro(spark, out, "count long, index long")
    assert sorted((r["count"], r["index"]) for r in back.collect()) == [
        (5, 7), (8, 9)
    ]


def test_write_avro_file_uri(spark, tmp_path, monkeypatch):
    """write_avro resolves ``path`` through pyarrow.fs like the other
    shard sinks: Hadoop-style file:/ and RFC file:/// targets write the
    same bytes as a plain path and read back. A bare ``open()`` would
    put file:/ output under a relative directory named ``file:``."""
    import hashlib

    monkeypatch.chdir(tmp_path)  # a stray relative ``file:`` dir lands here
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(8)], _DDL).repartition(2)
    plain = str(tmp_path / "plain")
    counts = [write_avro(df, p, _AVRO_SCHEMA) for p in (
        plain, "file:" + str(tmp_path / "h1"),
        "file://" + str(tmp_path / "h2"))]
    assert not os.path.exists(tmp_path / "file:")

    def tree_md5(d):
        names = sorted(os.listdir(d))
        assert names, f"no shards under {d}"
        return [
            (n, hashlib.md5(open(os.path.join(d, n), "rb").read())
             .hexdigest())
            for n in names
        ]

    assert tree_md5(plain) == tree_md5(str(tmp_path / "h1")) \
        == tree_md5(str(tmp_path / "h2"))
    assert all(n.startswith("shard_") for n, _ in tree_md5(plain))
    assert counts == [8, 8, 8]
    back = read_avro(spark, "file://" + str(tmp_path / "h1"), _DDL)
    assert sorted(r.s for r in back.collect()) == sorted(
        f"v{i}" for i in range(8))
