"""Shard IO shared by every container format (WARC, TFRecord,
WebDataset tar, ZIP, Avro OCF); a format module supplies only codec glue.

- :func:`write_shards` takes an ``encode(rows) -> byte chunks`` function
  and writes each partition as ``shard_{pid:05d}.{suffix}`` (no file for
  an empty partition), through :func:`commit_file`: the chunks stream
  into a hidden temporary, ``.{shard name}.{task attempt id}.tmp``,
  which is moved onto the final name only after the encoder finishes
  and deleted on any failure. No reader ever sees a partial shard under
  a final name, and Spark's file listing skips the dot-file.
- :func:`read_shards` runs a ``mapInPandas`` ``parse`` over the
  ``(path, content)`` rows of a batch or streaming ``binaryFile`` scan.

Paths are plain paths or filesystem URIs resolved by ``pyarrow.fs`` on
the executor, so tasks reach object storage, not executor-local disks.
"""

from __future__ import annotations

import io
import os
import re
import uuid
from typing import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession

_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def _resolve_fs(path: str):
    """``(pyarrow FileSystem, fs-internal path)`` for a plain path or a
    filesystem URI (``file:/...``, ``file:///...``, ``s3://...``, ...).
    Executor-safe: a task has no py4j gateway to the JVM Hadoop FS API,
    but ``pyarrow.fs`` resolves the same schemes in-process."""
    from pyarrow import fs as pafs

    if path.startswith("file:/") and not path.startswith("file://"):
        # Hadoop-style single-slash file URI → RFC 3986 form
        path = "file://" + path[len("file:"):]
    if re.match(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://", path):
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def drain(buf: io.BytesIO) -> bytes:
    """Take and clear what a stdlib writer (``tarfile``, ``gzip``) has
    written into ``buf``, so its encoder streams chunk by chunk."""
    out = buf.getvalue()
    buf.seek(0)
    buf.truncate()
    return out


def commit_file(fs, final: str, chunks: Iterable[bytes], attempt) -> None:
    """Stream ``chunks`` into the hidden temporary
    ``.{name}.{attempt}.tmp`` beside ``final`` and move it onto ``final``
    once every chunk is written; delete the temporary on any failure."""
    head, _, name = final.rpartition("/")
    tmp = f"{head}/.{name}.{attempt}.tmp"
    try:
        # compression=None: the chunks are already encoded, and pyarrow's
        # extension sniffing would re-gzip a .gz name
        with fs.open_output_stream(tmp, compression=None) as f:
            for chunk in chunks:
                f.write(chunk)
        fs.move(tmp, final)
    except BaseException:
        try:
            fs.delete_file(tmp)
        except OSError:
            pass
        raise


def commit_path(path: str, data: bytes | Iterable[bytes], attempt=None) -> None:
    """:func:`commit_file` onto a plain path or filesystem URI. ``data`` is
    the whole file or an iterable of byte chunks; ``attempt`` (default: a
    fresh uuid) names the temporary."""
    fs, final = _resolve_fs(path)
    if fs.type_name == "local":
        final = os.path.abspath(final)  # the temporary needs a directory
    chunks = [data] if isinstance(data, bytes) else data
    commit_file(fs, final, chunks, uuid.uuid4().hex if attempt is None else attempt)


def write_shards(
    df: DataFrame,
    path: str,
    suffix: str,
    encode: Callable[[Iterator[dict]], Iterable[bytes]],
) -> int:
    """Write each partition of ``df`` as ONE ``shard_{pid:05d}.{suffix}``
    under ``path``, committed atomically (see the module docstring).
    ``encode`` receives the partition's rows as dicts keyed by ``df``'s
    column names and yields the shard bytes. Returns rows written."""
    fs, base = _resolve_fs(path)
    fs.create_dir(base, recursive=True)

    def _write(batches):
        import itertools

        import pyarrow as pa
        from pyspark import TaskContext

        rows = itertools.chain.from_iterable(b.to_pylist() for b in batches)
        first = next(rows, None)
        count = 0
        if first is not None:
            def counted():
                nonlocal count
                for r in itertools.chain([first], rows):
                    count += 1
                    yield r

            ctx = TaskContext.get()
            tfs, tbase = _resolve_fs(path)
            name = f"shard_{ctx.partitionId():05d}.{suffix}"
            commit_file(tfs, f"{tbase.rstrip('/')}/{name}",
                        encode(counted()), ctx.taskAttemptId())
        yield pa.RecordBatch.from_pydict({"n": [count]})

    return sum(r.n for r in df.mapInArrow(_write, "n long").collect())


def read_shards(
    spark: SparkSession,
    path: str,
    glob: str,
    parse: Callable,
    schema: str,
    *,
    stream: bool = False,
    max_files_per_trigger: int | None = None,
    recursive: bool = False,
) -> DataFrame:
    """``binaryFile`` scan of the files under ``path`` whose NAMES match
    ``glob`` → ``select("path", "content").mapInPandas(parse, schema)``:
    file-grain tasks (binaryFile never splits a file), one Arrow-batched
    map stage, zero shuffles. ``stream=True`` makes it a Structured
    Streaming file source (exactly-once per checkpoint at file grain;
    ``max_files_per_trigger``, streaming only, bounds a micro-batch).
    ``recursive=True`` descends into subdirectories."""
    if stream:
        reader = spark.readStream.format("binaryFile").schema(
            _BINARYFILE_SCHEMA)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    else:
        reader = spark.read.format("binaryFile")
    reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path).select("path", "content").mapInPandas(
        parse, schema)


__all__ = ["write_shards", "read_shards", "commit_file", "commit_path", "drain"]
