"""WebDataset tar-shard source/sink — the multimodal training format.

WebDataset (public convention: github.com/webdataset/webdataset; the
format is plain POSIX tar) stores one SAMPLE as adjacent tar members
sharing a basename key: ``000017.jpg`` + ``000017.json`` + ``000017.txt``
is one sample with three parts. It is the standard shard layout for
image/audio training corpora — the multimodal counterpart of the
TFRecord sink — chosen precisely because a shard streams sequentially
(no random access), which is also why a shard IS the parallelism grain
here (``binaryFile`` never splits a file, matching tar reality).

The container is stdlib ``tarfile``; the FORMAT discipline this module
adds on top:

- key = basename up to the FIRST dot, extension = everything after it
  (the WebDataset rule — ``x.seg.json``'s extension is ``seg.json``);
- a sample's members must be ADJACENT (the convention readers rely on
  for streaming); the writer emits them adjacent with extensions
  sorted, the reader groups consecutive runs and REFUSES by name when
  a key reappears non-adjacently (a shuffled tar silently halves
  samples otherwise);
- deterministic bytes: USTAR format, mtime 0, uid/gid 0, mode 0644 —
  same input → byte-identical shards (the WARC/TFRecord posture);
- an explicit ``parts`` list on read (the reader states what a sample
  must contain; a missing part refuses by name — silent schema drift
  is how a training run ingests garbage).

Shard IO goes through ``sources/shards.py`` (atomic per-shard commit,
plain paths or filesystem URIs), and shard count is controlled the
Spark way (``repartition(n)`` upstream).
"""

from __future__ import annotations

import io
import tarfile
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bravo_spark.sources.shards import drain, read_shards, write_shards


class WebDatasetError(ValueError):
    """Malformed WebDataset shard (torn tar, non-adjacent sample
    members, missing declared part)."""


def _split_key(name: str) -> tuple[str, str]:
    base = name.rsplit("/", 1)[-1]
    if "." not in base:
        return base, ""
    key, ext = base.split(".", 1)
    return key, ext


def write_webdataset_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    part_cols: dict[str, str],
) -> int:
    """Each partition becomes ONE ``shard_{partition:05d}.tar`` under
    ``path`` (plain path or filesystem URI). ``part_cols`` maps column
    name → tar extension: row ``r`` becomes members
    ``{r[key_col]}.{ext}`` holding that column's bytes (strings encode
    UTF-8), emitted adjacent with extensions sorted. NULL part values
    and NULL/empty keys refuse by name. Returns samples written."""
    if not part_cols:
        raise ValueError("part_cols is empty — a sample needs parts")
    exts = sorted(set(part_cols.values()))
    if len(exts) != len(part_cols):
        raise ValueError("duplicate extensions in part_cols")
    src = df.select(
        F.col(key_col).cast("string").alias("key"),
        *[F.col(c).alias(f"p{i}") for i, c in enumerate(
            sorted(part_cols, key=lambda c: part_cols[c]))],
    )
    max_ext = max(len(e) for e in exts)

    def encode(rows):
        buf = io.BytesIO()
        tar = tarfile.open(fileobj=buf, mode="w",
                           format=tarfile.USTAR_FORMAT)
        for r in rows:
            key = r["key"]
            if not key:
                raise WebDatasetError("NULL/empty sample key")
            if "." in key or "/" in key:
                # the reader's grouping rules (basename, key up to the
                # FIRST dot) would silently mutate such a key on the way
                # back — 'v1.2' reads as key 'v1', 'logs/0001' as
                # '0001' — so the writer refuses it by name
                raise WebDatasetError(
                    f"sample key {key!r} contains '.' or '/' — the "
                    "WebDataset key grammar cannot round-trip it")
            if len(key) + 1 + max_ext > 100:
                raise WebDatasetError(
                    f"sample key {key!r} makes a member name past "
                    "USTAR's 100-char limit")
            for i, ext in enumerate(exts):
                v = r[f"p{i}"]
                if v is None:
                    raise WebDatasetError(
                        f"NULL part {ext!r} for key {key!r} — a "
                        "sample part cannot be null; filter upstream")
                data = v.encode("utf-8") if isinstance(v, str) else v
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                info.mode = 0o644
                tar.addfile(info, io.BytesIO(data))
            yield drain(buf)
        tar.close()
        yield drain(buf)

    return write_shards(src, path, "tar", encode)


def iter_samples(data: bytes, archive: str = "") -> Iterator[
        tuple[str, dict[str, bytes]]]:
    """Yield ``(key, {extension: bytes})`` per sample of one tar shard:
    consecutive same-key regular members, in archive order. Refuses
    with :class:`WebDatasetError` (prefixed by ``archive``) on a torn or
    unreadable tar, a corrupt member header, a missing end-of-archive
    marker, a key that reappears non-adjacently, or a duplicate part.
    Needs no Spark session."""
    try:
        tar = tarfile.open(fileobj=io.BytesIO(data), mode="r:")
        members = tar.getmembers()
    except tarfile.TarError as exc:
        raise WebDatasetError(
            f"{archive}: torn/unreadable tar: {exc}") from exc
    # tarfile ends the member list silently at the first bad header
    # past offset 0, so a corrupt or truncated header would drop every
    # later sample: the walk must stop on the zero end-of-archive block
    if data[tar.offset:tar.offset + tarfile.BLOCKSIZE] != bytes(
            tarfile.BLOCKSIZE):
        raise WebDatasetError(
            f"{archive}: torn/unreadable tar: no end-of-archive block at "
            f"byte {tar.offset} (corrupt or truncated member header)")
    cur_key = None
    got: dict[str, bytes] = {}
    seen: set[str] = set()
    for m in members:
        if not m.isreg():
            continue  # directories/links are not parts
        key, ext = _split_key(m.name)
        if key != cur_key:
            if cur_key is not None:
                yield cur_key, got
                seen.add(cur_key)
            if key in seen:
                raise WebDatasetError(
                    f"{archive}: key {key!r} reappears non-adjacently — "
                    "shard violates the WebDataset adjacency rule")
            cur_key, got = key, {}
        if ext in got:
            raise WebDatasetError(
                f"{archive}: duplicate part {ext!r} for key {key!r}")
        got[ext] = tar.extractfile(m).read()
    if cur_key is not None:
        yield cur_key, got


def read_webdataset(
    spark: SparkSession,
    path: str,
    parts: list[str],
    *,
    glob: str = "*.tar",
) -> DataFrame:
    """One row per SAMPLE: ``(archive string, key string,`` one binary
    column per requested extension``)``. Samples are consecutive
    same-key member runs (the WebDataset adjacency rule; a key
    reappearing later in the shard refuses by name). A sample missing
    a requested part refuses by name; parts present in the tar but not
    requested are ignored (a reader declares what it consumes).
    Shard-grain binaryFile tasks, one Arrow-batched map stage, zero
    shuffles."""
    if not parts:
        raise ValueError("parts is empty — declare what a sample holds")
    if len(set(parts)) != len(parts):
        raise WebDatasetError(f"duplicate extensions in parts: {parts}")
    cols = {ext: ext.replace(".", "_") for ext in parts}
    if len(set(cols.values())) != len(cols):
        # 'seg.json' and 'seg_json' both map to column seg_json — the
        # schema would declare it twice and the batch builder would
        # crash with an unnamed pandas length error deep in a task
        dup = sorted({c for c in cols.values()
                      if list(cols.values()).count(c) > 1})
        raise WebDatasetError(
            f"part extensions collide after dot-to-underscore column "
            f"mapping: {dup}")
    schema = "archive string, key string, " + ", ".join(
        f"`{c}` binary" for c in cols.values())

    def _parse(batches):
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {"archive": [], "key": []}
            for c in cols.values():
                out[c] = []
            for apath, blob in zip(pdf["path"], pdf["content"]):
                for key, got in iter_samples(bytes(blob), apath):
                    missing = [e for e in parts if e not in got]
                    if missing:
                        raise WebDatasetError(
                            f"{apath}: sample {key!r} is missing "
                            f"part(s) {missing} (has {sorted(got)})")
                    out["archive"].append(apath)
                    out["key"].append(key)
                    for ext in parts:
                        out[cols[ext]].append(got[ext])
            yield pd.DataFrame(out)

    return read_shards(spark, path, glob, _parse, schema)
