"""Savepoint scan as a first-class PySpark Python DataSource.

``spark.read.format("bravo_savepoint").load(path)`` yields the universal
state-row relation (state_name, key_ns, value) through Spark's own source
integration (``pyspark.sql.datasource``, Spark 4.x) instead of the
mapInPandas fallback — same bytes, same splits, but the scan now
participates in Spark's planning like any native source:

- **Filter pushdown (F1 through the engine API)**: ``EqualTo``/``In``
  predicates on ``state_name`` reach :meth:`DataSourceReader.pushFilters`
  (Spark 4.1) and are translated into the byte-scan's state filter — the
  decoder then length-skips non-selected states' payloads, and the
  pushed predicate disappears from Spark's post-scan filter. The
  reference achieves the same effect inside its InputFormat
  (reader/inputformat/RocksDBKeyedStateInputFormat.java:46-47); here it
  is the engine's own pushdown contract doing it.
- **Byte-targeted partition planning**: one :class:`InputPartition` per
  ``_plan_scan`` split (the ``maxPartitionBytes``-posture sizing shared
  with ``read_savepoint``), so tiny savepoints are one task per file and
  multi-GB subtask files fan out.
- **Arrow batches**: ``read`` yields ``pyarrow.RecordBatch`` — the
  zero-pickling path through the Python worker.

``read_savepoint`` (sources/savepoint.py) remains the library-call path;
this module is the ``spark.read`` front door for the same scan. Register
once per session with :func:`register` (idempotent).
"""

from __future__ import annotations

import json

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceArrowWriter,
    EqualTo,
    In,
    InputPartition,
    WriterCommitMessage,
)


@dataclass
class SavepointCommit(WriterCommitMessage):
    files: str  # JSON list of {path, op_index, offsets}

def _state_row_schema():
    """The canonical universal state-row schema, imported lazily so this
    module stays import-light on executors."""
    from bravo_spark.sources.staterows import STATE_ROW_SCHEMA

    return STATE_ROW_SCHEMA


class SavepointDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "bravo_savepoint"

    def schema(self):
        return _state_row_schema()

    def reader(self, schema) -> "SavepointScanReader":
        return SavepointScanReader(self.options)

    def writer(self, schema, overwrite: bool) -> "SavepointWriter":
        return SavepointWriter(self.options, overwrite)


class _StateNamePushdownReader(DataSourceReader):
    """Shared base for the bravo scan readers: path/state_names option
    parsing and the ``state_name`` EqualTo/In pushdown contract live in
    ONE place, so both formats absorb predicates identically."""

    _WHAT = "a directory"

    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError(
                f"{type(self).__name__} needs {self._WHAT}: "
                ".load('/path') or .option('path', ...)"
            )
        self.path = path
        names = options.get("state_names")
        # option-level narrowing composes with pushed filters (AND)
        self.state_names: set[str] | None = (
            {n.strip() for n in names.split(",") if n.strip()} if names else None
        )

    def _narrow(self, names: set[str]) -> None:
        self.state_names = (
            names if self.state_names is None else self.state_names & names
        )

    def pushFilters(self, filters):
        """Absorb state_name equality/membership predicates into the byte
        scan; everything else stays with Spark."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("state_name",):
                self._narrow({f.value})
            elif isinstance(f, In) and f.attribute == ("state_name",):
                self._narrow(set(f.value))
            else:
                yield f


class SavepointScanReader(_StateNamePushdownReader):
    _WHAT = "a savepoint directory"

    def partitions(self):
        from bravo_spark.sources.savepoint import _plan_scan

        if self.state_names is not None and not self.state_names:
            # option ∩ pushed filters is provably empty — no bytes to scan
            return [InputPartition(json.dumps(
                {"ids": {}, "names": [], "compressed": False,
                 "file": None, "spans": []}))]
        names = sorted(self.state_names) if self.state_names is not None else None
        splits, id_to_name, _filt, compressed = _plan_scan(self.path, names, None)
        payload_base = {
            "ids": {str(k): v for k, v in id_to_name.items()},
            "names": names,
            "compressed": compressed,
        }
        return [
            InputPartition(
                json.dumps({**payload_base, "file": fpath, "spans": spans})
            )
            for fpath, spans in splits
        ] or [InputPartition(json.dumps({**payload_base, "file": None, "spans": []}))]

    def read(self, partition: InputPartition):
        import pyarrow as pa

        from bravo_spark.sources.savepoint import iter_file_spans

        spec = json.loads(partition.value)
        if spec["file"] is None:
            return
        id_to_name = {int(k): v for k, v in spec["ids"].items()}
        allowed = set(spec["names"]) if spec["names"] is not None else None
        state_filter = (lambda n: n in allowed) if allowed is not None else (lambda _n: True)
        names, keys, vals = [], [], []
        for name, key, val in iter_file_spans(
            spec["file"], spec["spans"], id_to_name, state_filter,
            spec["compressed"],
        ):
            names.append(name)
            keys.append(key)
            vals.append(val)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(names, type=pa.string()),
                pa.array(keys, type=pa.binary()),
                pa.array(vals, type=pa.binary()),
            ],
            names=["state_name", "key_ns", "value"],
        )


class SavepointWriter(DataSourceArrowWriter):
    """``df.write.format("bravo_savepoint")`` — S7 through the engine's
    sink contract. Each task receives Arrow batches (no per-row pickling),
    sorts ITS rows by (op_index, key_group, state_id), and streams section
    files (several tasks may contribute files for the same operator index;
    the scan concatenates partial key-group sections, so results are
    correct under ANY upstream partitioning). For the one-file-per-operator
    layout a Flink restore expects, pre-shape with
    ``repartition(parallelism, "op_index")`` — or use ``write_savepoint``,
    which owns its shuffle AND sorts engine-side (this writer holds one
    task partition in memory for the sort; size upstream partitions
    accordingly).

    Durability protocol: new files land under unique names next to the
    existing savepoint; nothing pre-existing is touched until ``commit``.
    - overwrite: commit writes the new metadata FIRST, then deletes the
      files the old metadata referenced — a failed job aborts cleanly
      (only the new files are removed) and the original savepoint stays
      readable throughout, so read-then-overwrite of the same path works.
    - append: commit MERGES metadata — max_parallelism/compression must
      match and state_ids must agree on shared names; prior files remain
      listed, so earlier appends stay visible.

    ``state_ids`` and ``max_parallelism`` are REQUIRED options: tasks
    cannot collect the global name→id mapping, and a defaulted
    max_parallelism would silently mis-derive every key group (the prefix
    width inside key_ns depends on it)."""

    def __init__(self, options, overwrite: bool):
        import os

        path = options.get("path")
        if not path:
            raise ValueError(
                "bravo_savepoint write needs .save('/path') or .option('path', ...)"
            )
        sids = options.get("state_ids")
        if not sids:
            raise ValueError(
                'bravo_savepoint write requires .option("state_ids", '
                '\'{"Name": 0, ...}\') — executor tasks cannot derive the '
                "global name→id mapping"
            )
        maxp = options.get("max_parallelism")
        if not maxp:
            raise ValueError(
                'bravo_savepoint write requires .option("max_parallelism", '
                "...) matching the value the rows were ENCODED with — a "
                "default would silently mis-read key bytes as group bytes "
                "when it disagrees with the key_ns prefix width"
            )
        self.path = path
        self.overwrite = overwrite
        self.state_ids: dict[str, int] = {
            str(k): int(v) for k, v in json.loads(sids).items()
        }
        self.max_parallelism = int(maxp)
        self.parallelism = int(options.get("parallelism", "1"))
        self.compression = str(options.get("compression", "false")).lower() == "true"
        os.makedirs(path, exist_ok=True)

    def write(self, batches):
        import itertools

        from bravo_spark.codecs import flink as fc
        from bravo_spark.sources.savepoint import commit_section_file

        prefix = fc.key_group_prefix_bytes(self.max_parallelism)
        mask = 0x7F if prefix == 1 else 0x7FFF
        buffered = []
        for batch in batches:
            d = batch.to_pydict()
            for sn, kns, val in zip(d["state_name"], d["key_ns"], d["value"]):
                kns = bytes(kns)
                kg = int.from_bytes(kns[:prefix], "big") & mask
                if not 0 <= kg < self.max_parallelism:
                    raise ValueError(
                        f"derived key group {kg} is outside "
                        f"[0, {self.max_parallelism}) — rows were encoded with "
                        "a different max_parallelism than the writer was given"
                    )
                sid = self.state_ids.get(sn)
                if sid is None:
                    raise ValueError(
                        f"state_ids has no entry for {sn!r} "
                        f"(provided: {sorted(self.state_ids)})"
                    )
                op = kg * self.parallelism // self.max_parallelism
                buffered.append((op, kg, sid, kns, bytes(val)))
        buffered.sort(key=lambda t: t[:3])

        files = [
            commit_section_file(
                self.path, op,
                (
                    (kg, [(sid, kns, val) for _op, _kg, sid, kns, val in group])
                    for kg, group in itertools.groupby(run, key=lambda t: t[1])
                ),
                self.compression,
            )
            for op, run in itertools.groupby(buffered, key=lambda t: t[0])
        ]
        return SavepointCommit(json.dumps(files))

    def _new_files(self, messages):
        out = []
        for m in messages or []:
            if m is None:
                continue
            out.extend(json.loads(m.files))
        return out

    def commit(self, messages):
        import os

        from bravo_spark.sources.savepoint import (
            METADATA_FILE,
            SavepointMeta,
            read_savepoint_meta,
        )

        meta_path = os.path.join(self.path, METADATA_FILE)
        prior = read_savepoint_meta(self.path) if os.path.exists(meta_path) else None

        meta = SavepointMeta(
            self.max_parallelism, self.parallelism, dict(self.state_ids),
            compression=self.compression,
        )
        if prior is not None and not self.overwrite:
            # append: refuse silent incompatibility, keep prior files listed
            if prior.max_parallelism != self.max_parallelism:
                raise ValueError(
                    f"append with max_parallelism={self.max_parallelism} onto "
                    f"a savepoint written at {prior.max_parallelism} — the "
                    "key-group prefix widths disagree"
                )
            if prior.compression != self.compression:
                raise ValueError(
                    "append cannot mix compressed and uncompressed sections "
                    f"(existing savepoint compression={prior.compression})"
                )
            if prior.parallelism != self.parallelism:
                raise ValueError(
                    f"append with parallelism={self.parallelism} onto a "
                    f"savepoint written at {prior.parallelism} — the prior "
                    "files' op-index layout was computed with the old value"
                )
            for name, sid in prior.state_ids.items():
                ours = meta.state_ids.get(name)
                if ours is not None and ours != sid:
                    raise ValueError(
                        f"append state_ids conflict for {name!r}: existing id "
                        f"{sid}, new id {ours}"
                    )
                meta.state_ids.setdefault(name, sid)
            by_id: dict[int, str] = {}
            for name, sid in meta.state_ids.items():
                if sid in by_id:
                    raise ValueError(
                        f"append state_ids conflict: id {sid} maps to both "
                        f"{by_id[sid]!r} and {name!r}"
                    )
                by_id[sid] = name
            meta.files.extend(prior.files)
        for fm in self._new_files(messages):
            meta.files.append(
                {"path": fm["path"], "op_index": int(fm["op_index"]),
                 "offsets": {k: int(v) for k, v in fm["offsets"].items()}}
            )
        # the metadata swap must be atomic: a crash mid-write would
        # otherwise truncate _bravo_metadata and leave the savepoint
        # unreadable, breaking the durability protocol documented above
        tmp_path = meta_path + ".tmp"
        with open(tmp_path, "w") as f:
            f.write(meta.to_json())
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp_path, meta_path)
        # the rename itself is only durable once the PARENT DIRECTORY's
        # entry is flushed — without this a power loss after replace can
        # resurface the old (or no) _bravo_metadata on ext4/xfs
        dir_fd = os.open(os.path.dirname(meta_path) or ".", os.O_RDONLY)
        try:
            os.fsync(dir_fd)
        finally:
            os.close(dir_fd)
        if prior is not None and self.overwrite:
            # old data is dropped only AFTER the new metadata is durable
            keep = {fm["path"] for fm in meta.files}
            for old in prior.files:
                if old["path"] not in keep:
                    try:
                        os.remove(old["path"])
                    except OSError:
                        pass

    def abort(self, messages):
        import os

        for fm in self._new_files(messages):
            try:
                os.remove(fm["path"])
            except OSError:
                pass


class CheckpointDataSource(DataSource):
    """``spark.read.format("bravo_checkpoint").load(ckpt_dir)`` — the
    incremental-checkpoint (RocksDB SST) scan through the engine's source
    contract. Yields the RAW per-version relation (state_name, key_ns,
    seq, vtype, value): apply :func:`bravo_spark.sources.checkpoint.
    resolve_lsm` on top for the merged view, exactly as
    ``read_incremental_checkpoint`` does.

    ``state_name`` EqualTo/In predicates reach ``pushFilters`` and become
    COLUMN-FAMILY pruning: each SST names its column family in its
    properties block, so a non-selected file costs a footer+properties
    read and its data blocks are never touched.

    ``.option("verify_checksums", "true")`` switches on the
    integrity-audit mode (same contract as the functional API's kwarg):
    every block trailer is verified before decode, so a corrupt
    checkpoint fails the task loudly instead of yielding garbage."""

    @classmethod
    def name(cls) -> str:
        return "bravo_checkpoint"

    def schema(self) -> str:
        from bravo_spark.sources.checkpoint import _RAW_SCHEMA

        return _RAW_SCHEMA

    def reader(self, schema) -> "CheckpointScanReader":
        return CheckpointScanReader(self.options)


class CheckpointScanReader(_StateNamePushdownReader):
    _WHAT = "a checkpoint directory"

    def __init__(self, options):
        super().__init__(options)
        # integrity-audit mode (the functional API's option, plumbed
        # through the format front door): verify every block trailer
        # before decode
        self.verify_checksums = (
            str(options.get("verify_checksums", "false")).lower() == "true"
        )

    def partitions(self):
        from bravo_spark.sources.checkpoint import discover_sst_files

        if self.state_names is not None and not self.state_names:
            return [InputPartition(json.dumps(
                {"file": None, "names": [],
                 "verify": self.verify_checksums}))]
        names = sorted(self.state_names) if self.state_names is not None else None
        # either layout: a Flink checkpoint (_metadata walk) or a
        # transferred/self-written directory (glob) — same discovery the
        # library path uses
        # metadata that references no .sst files (heap-state / full
        # savepoints) must still yield a well-formed empty relation:
        # Spark replaces an empty partitions list with [None], which
        # would crash read(None) — mirror SavepointScanReader's
        # {file: None} fallback partition
        # the fallback partition carries the verify flag too: read()
        # returns immediately on file=None today, but a refactor that
        # makes it non-trivial must not silently drop the audit mode
        return [
            InputPartition(json.dumps(
                {"file": p, "names": names, "verify": self.verify_checksums}))
            for p in discover_sst_files(self.path)
        ] or [InputPartition(json.dumps(
            {"file": None, "names": names,
             "verify": self.verify_checksums}))]

    def read(self, partition: InputPartition):
        import pyarrow as pa

        from bravo_spark.sources.checkpoint import iter_sst_entries

        spec = json.loads(partition.value)
        if spec["file"] is None:
            return
        allowed = set(spec["names"]) if spec["names"] is not None else None
        state_filter = (
            (lambda n: n in allowed) if allowed is not None else (lambda _n: True)
        )
        names, keys, seqs, types, vals = [], [], [], [], []
        for name, user_key, seq, vtype, value in iter_sst_entries(
            spec["file"], state_filter, verify_checksums=spec["verify"]
        ):
            names.append(name)
            keys.append(user_key)
            seqs.append(seq)
            types.append(vtype)
            vals.append(value)
        if not names:
            return
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(names, type=pa.string()),
                pa.array(keys, type=pa.binary()),
                pa.array(seqs, type=pa.int64()),
                pa.array(types, type=pa.int32()),
                pa.array(vals, type=pa.binary()),
            ],
            names=["state_name", "key_ns", "seq", "vtype", "value"],
        )


def register(spark) -> None:
    """Idempotently register the bravo formats on a session."""
    for source in (SavepointDataSource, CheckpointDataSource):
        try:
            spark.dataSource.register(source)
        except Exception as exc:  # already registered → keep the session's copy
            if "already" not in str(exc).lower():
                raise
