"""Incremental (RocksDB) checkpoint source — SURVEY.md §2 S4.

The reference restores the checkpoint into a local RocksDB and iterates
column families (reader/inputformat/RocksDBCheckpointIterator.java:57-254,
executor-local scratch dirs per RocksDBKeyedStateInputFormat.java:70-84).
RocksDB does the LSM resolution transparently; here the same semantics are
computed AS A DATAFLOW, which is the shape that scales:

1. **Parallel SST scan** — one Spark task per SST file (mapInPandas over a
   ``Range`` of split ids), emitting raw ``(state_name, key_ns, seq, vtype,
   value)``. Column-family pushdown skips whole files from the footer +
   properties block alone, before any data-block I/O.
2. **One shuffle on (state_name, key_ns)** groups every version of a user
   key — across levels, across files.
3. **Streamed fold** (:func:`resolve_lsm`): versions sorted by
   (key, seq) within each partition fold in Arrow-batch order — a put
   replaces the value (highest seq wins — LSM shadowing), a tombstone
   (type 0/7) deletes it, and a merge operand (type 2) appends with the
   ','-delimiter of Flink's StringAppendOperator (list state appends —
   RocksDBCheckpointIterator.java:62-63 sets the same operator).

The output is the universal state-row relation (state_name, key_ns, value)
— identical to the full-snapshot source, so every P1-P9 reader works
unchanged on incremental checkpoints.
"""

from __future__ import annotations

import glob
import os
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from bravo_spark.sources import sst as sstmod
from bravo_spark.sources.savepoint import split_frame

_RAW_SCHEMA = "state_name string, key_ns binary, seq long, vtype int, value binary"


def sst_files_from_flink_metadata(metadata_path: str) -> list[str]:
    """SST paths from a Flink checkpoint ``_metadata``: every operator's
    IncrementalKeyedStateHandle shared-state map (the reference's
    handle.getSharedState() walk, RocksDBCheckpointIterator.java:96-103).
    file:/ URIs are resolved to local paths; other schemes are returned
    verbatim for the caller's filesystem layer."""
    from bravo_spark.sources import flink_metadata as fm

    with open(metadata_path, "rb") as f:
        sp = fm.deserialize(f.read())
    out: list[str] = []
    for op in sp.operators:
        for st in op.subtasks:
            for handle in (st.managed_keyed, st.raw_keyed):
                if isinstance(handle, fm.IncrementalKeyedHandle):
                    for name, stream in handle.shared:
                        if name.endswith(".sst") and stream.path:
                            p = stream.path
                            out.append(p[len("file:") :] if p.startswith("file:") else p)
    return sorted(out)


def list_sst_files(ckpt_dir: str) -> list[str]:
    """SSTs of a transferred incremental checkpoint (shared state). Sorted
    for determinism; MANIFEST/CURRENT/OPTIONS (private state) are not needed
    because each SST carries its column family in its properties block and
    a checkpoint references live files only."""
    files = sorted(
        glob.glob(os.path.join(ckpt_dir, "*.sst"))
        + glob.glob(os.path.join(ckpt_dir, "op-*", "*.sst"))
    )
    if not files:
        raise FileNotFoundError(f"no .sst files under {ckpt_dir}")
    return files


def discover_sst_files(ckpt_dir: str) -> list[str]:
    """SSTs of a checkpoint directory in EITHER layout: a Flink checkpoint
    (``_metadata`` present → walk its incremental handles' shared-state
    maps) or a transferred/self-written directory (glob). Shared by
    ``read_incremental_checkpoint`` callers and the ``bravo_checkpoint``
    DataSource, so both front doors accept the same inputs."""
    meta = os.path.join(ckpt_dir, "_metadata")
    if os.path.exists(meta):
        return sst_files_from_flink_metadata(meta)
    return list_sst_files(ckpt_dir)


def iter_sst_entries(
    path: str,
    state_filter: Callable[[str], bool],
    *,
    verify_checksums: bool = False,
):
    """Scan ONE SST with CF pruning → (state_name, key_ns, seq, vtype,
    value) rows. The column family named in the properties block decides
    in O(footer+props) whether any data block is read at all; 'default'
    (Flink's unused CF 0) is always skipped. The one per-file loop both
    scan front doors (mapInPandas and the DataSource) share.

    ``verify_checksums=True`` verifies every block trailer (all four
    RocksDB checksum types, incl. kXXH3's modifiers) before decoding —
    the integrity-audit mode for checkpoints of uncertain provenance;
    off by default because verification is per-byte Python work on top
    of the scan."""
    reader = sstmod.SstReader(path, verify_checksums=verify_checksums)
    name = reader.column_family_name
    if name == "default" or not state_filter(name):
        return  # CF pushdown: footer+props read, data blocks skipped
    for user_key, seq, vtype, value in reader.iter_entries():
        yield name, user_key, seq, vtype, value


def _scan_ssts(
    pdf_iter: Iterator[pd.DataFrame],
    state_filter: Callable[[str], bool],
    verify_checksums: bool = False,
):
    for pdf in pdf_iter:
        for path in pdf["path"]:
            names, keys, seqs, types, vals = [], [], [], [], []
            for name, user_key, seq, vtype, value in iter_sst_entries(
                path, state_filter, verify_checksums=verify_checksums
            ):
                names.append(name)
                keys.append(user_key)
                seqs.append(seq)
                types.append(vtype)
                vals.append(value)
            if not names:
                continue
            yield pd.DataFrame(
                {
                    "state_name": names,
                    "key_ns": keys,
                    "seq": seqs,
                    "vtype": types,
                    "value": vals,
                },
                columns=["state_name", "key_ns", "seq", "vtype", "value"],
            )


def read_incremental_checkpoint(
    spark: SparkSession,
    ckpt_dir: str,
    *,
    state_filter: Callable[[str], bool] | None = None,
    state_names: list[str] | None = None,
    files: list[str] | None = None,
    verify_checksums: bool = False,
) -> DataFrame:
    """Incremental checkpoint → universal state-row relation, LSM-resolved
    by :func:`resolve_lsm`. ``verify_checksums=True`` block-verifies every
    SST during the scan (integrity audit; corrupt blocks fail the task
    loudly instead of decoding garbage)."""
    if state_names is not None:
        selected = set(state_names)
        state_filter = lambda n: n in selected  # noqa: E731
    elif state_filter is None:
        state_filter = lambda _n: True  # noqa: E731

    paths = files if files is not None else discover_sst_files(ckpt_dir)

    def scan(pdf_iter):
        # one SST per task: map each split id back to its path
        frames = (
            pd.DataFrame({"path": [paths[i] for i in pdf["id"]]}) for pdf in pdf_iter
        )
        return _scan_ssts(frames, state_filter, verify_checksums)

    raw = split_frame(spark, len(paths)).mapInPandas(scan, schema=_RAW_SCHEMA)
    return resolve_lsm(raw)


def resolve_lsm(raw: DataFrame) -> DataFrame:
    """LSM resolution over the raw per-version SST relation
    (state_name, key_ns, seq, vtype, value): newest-seq shadowing,
    tombstones, StringAppend merge-operand folding — one shuffle on
    (state_name, key_ns). Shared by ``read_incremental_checkpoint`` and
    the ``bravo_checkpoint`` DataSource front door
    (sources/datasource.py), whose scan yields the same raw relation.

    The versions are sorted within each partition by (key, seq) and
    folded in Arrow-batch order: ascending seq means each non-merge entry
    RESETS the fold (a put replaces the buffer, a tombstone clears it)
    and each merge operand appends. Time is linear in a key's version
    count and peak per-key memory is the folded value bytes, so a key
    with millions of merge operands streams through ~10k-row batches.

    Batches with NO merge operands — the common case for value state —
    resolve vectorized: the LAST row of each key group wins outright, so
    group boundaries come from one shifted equality over the batch and
    the winners from a mask. A batch carrying any merge operand takes
    the row fold; both paths share the cross-batch carry
    (``cur_key``/``buf``), so keys spanning batch or path boundaries
    resolve identically."""

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cur_key: tuple | None = None
        buf: bytearray | None = None

        for pdf in batches:
            if not len(pdf):
                continue
            out_names: list[str] = []
            out_keys: list[bytes] = []
            out_vals: list[bytes] = []
            vt = pdf["vtype"].to_numpy()
            if (vt == 2).any():
                # row fold: merge operands need the running concatenation
                for name, key_ns, vtype, value in zip(
                    pdf["state_name"], pdf["key_ns"], vt, pdf["value"]
                ):
                    k = (name, bytes(key_ns))
                    if k != cur_key:
                        if cur_key is not None and buf is not None:
                            out_names.append(cur_key[0])
                            out_keys.append(cur_key[1])
                            out_vals.append(bytes(buf))
                        cur_key, buf = k, None
                    if vtype == 1:  # put: replaces everything older
                        buf = bytearray(value)
                    elif vtype == 2:  # merge operand: StringAppend fold
                        if buf is None:
                            buf = bytearray(value)
                        else:
                            buf += b"," + bytes(value)
                    else:  # tombstone (0/7): clears
                        buf = None
            else:
                names = pdf["state_name"].to_numpy()
                keys = pdf["key_ns"].to_numpy()
                vals = pdf["value"].to_numpy()
                first_key = (names[0], bytes(keys[0]))
                if cur_key is not None and first_key != cur_key:
                    # previous batch's final key ended at the boundary
                    if buf is not None:
                        out_names.append(cur_key[0])
                        out_keys.append(cur_key[1])
                        out_vals.append(bytes(buf))
                # else: the carry's key continues into this batch, and
                # with only puts/tombstones present every newer version
                # RESETS the fold — the carry is simply superseded
                if len(pdf) > 1:
                    same = (names[1:] == names[:-1]) & (keys[1:] == keys[:-1])
                    # row i ends a key group iff row i+1 starts a new one
                    ends = np.flatnonzero(~same)
                else:
                    ends = np.empty(0, dtype=np.int64)
                for i in ends:
                    if vt[i] == 1:  # winner is a put -> the key survives
                        out_names.append(names[i])
                        out_keys.append(bytes(keys[i]))
                        out_vals.append(bytes(vals[i]))
                # the batch's final group carries into the next batch
                cur_key = (names[-1], bytes(keys[-1]))
                buf = bytearray(vals[-1]) if vt[-1] == 1 else None
            if out_vals:
                yield pd.DataFrame(
                    {"state_name": out_names, "key_ns": out_keys, "value": out_vals}
                )
        if cur_key is not None and buf is not None:
            yield pd.DataFrame(
                {
                    "state_name": [cur_key[0]],
                    "key_ns": [cur_key[1]],
                    "value": [bytes(buf)],
                }
            )

    shaped = raw.repartition("state_name", "key_ns").sortWithinPartitions(
        "state_name", "key_ns", "seq"
    )
    return shaped.mapInPandas(fold, schema="state_name string, key_ns binary, value binary")


def write_sst_fixture(
    path: str,
    entries: dict[str, list[tuple[bytes, int, int, bytes]]],
    *,
    compression: int = sstmod.NO_COMPRESSION,
    cf_ids: dict[str, int] | None = None,
    **writer_opts,
) -> list[str]:
    """Test/bootstrap helper: one SST per column family from
    ``{state_name: [(user_key, seq, vtype, value), ...]}``. Entries are
    sorted to internal-key order here; file numbering mimics RocksDB's
    ``<number>.sst``."""
    os.makedirs(path, exist_ok=True)
    existing = glob.glob(os.path.join(path, "*.sst"))
    next_no = 1 + max(
        (int(os.path.basename(p).split(".")[0]) for p in existing), default=0
    )
    out = []
    for i, (name, rows) in enumerate(sorted(entries.items())):
        fpath = os.path.join(path, f"{next_no + i:06d}.sst")
        cf_id = (cf_ids or {}).get(name, i + 1)
        with sstmod.SstWriter(
            fpath, column_family=name, column_family_id=cf_id,
            compression=compression, **writer_opts,
        ) as w:
            for user_key, seq, vtype, value in sorted(
                rows, key=lambda r: (r[0], -r[1])
            ):
                w.add(user_key, seq, vtype, value)
        out.append(fpath)
    return out


def write_incremental_checkpoint(
    rows: DataFrame,
    path: str,
    *,
    max_parallelism: int,
    parallelism: int,
    state_ids: dict[str, int] | None = None,
    compression: int = sstmod.SNAPPY_COMPRESSION,
) -> dict:
    """The write half of S4 — one step beyond the reference, which only
    writes FULL savepoints (writer/OperatorStateWriter.java:225-283) and
    treats incremental checkpoints as read-only input
    (RocksDBCheckpointIterator.java:57-254): serialize the universal state
    relation back into per-subtask RocksDB databases, the exact on-disk
    shape a RocksDB-backend restore opens.

    Layout: ``{path}/op-{i}/`` is a complete, openable RocksDB directory —
    one column family per state (CF name = state name, matching what the
    backend creates at restore), one L0 SST per CF, MANIFEST/CURRENT/WAL
    from sources/rocksdb_manifest.py. Real rocksdbjni opens every subtask
    dir (tests prove it); our own reader round-trips it by CF-name scan.

    Distribution mirrors the savepoint writer (A1): one shuffle routing
    each key to its operator index via Flink's keygroup assignment, then a
    single pass per subtask; only {filename: size} manifests return to the
    driver. Returns the checkpoint manifest (also written as
    ``_bravo_checkpoint.json``)."""
    import json as _json

    from bravo_spark.sources.staterows import (
        with_key_group_column,
        with_operator_index_column,
    )
    from bravo_spark.sources.rocksdb_manifest import build_db_dir_multi_cf

    spark = rows.sparkSession
    os.makedirs(path, exist_ok=True)
    if state_ids is None:
        # deriving the mapping needs a names pass; a CALLER-supplied
        # mapping is validated executor-side instead (below) so the
        # upstream pipeline runs exactly once
        names = [r[0] for r in rows.select("state_name").distinct().collect()]
        state_ids = {n: i for i, n in enumerate(sorted(names))}
    cf_ids = {n: i + 1 for n, i in state_ids.items()}  # CF 0 = default

    routed = with_key_group_column(rows, max_parallelism=max_parallelism)
    routed = with_operator_index_column(
        routed, max_parallelism=max_parallelism, parallelism=parallelism
    )
    shuffled = routed.repartition(parallelism, "op_index")

    def write_partition(pdf_iter):
        by_op: dict[int, dict[str, list]] = {}
        for pdf in pdf_iter:
            for sn, kns, val, op in zip(
                pdf["state_name"], pdf["key_ns"], pdf["value"], pdf["op_index"]
            ):
                by_op.setdefault(int(op), {}).setdefault(sn, []).append(
                    (bytes(kns), 1, sstmod.TYPE_VALUE, bytes(val))
                )
        # validate EVERY operator's states before writing the first byte:
        # per-op validation inside the write loop would leave earlier ops'
        # db dirs in the shared output path when a later op aborts the task
        unmapped = sorted(
            {n for fams in by_op.values() for n in fams} - set(cf_ids)
        )
        if unmapped:
            raise ValueError(
                f"state_ids missing entries for: {unmapped} "
                f"(provided: {sorted(cf_ids)})"
            )
        out = []
        for op, families in by_op.items():
            dbdir = os.path.join(path, f"op-{op}")
            sizes = build_db_dir_multi_cf(
                dbdir, families, cf_ids=cf_ids, compression=compression
            )
            out.append(
                pd.DataFrame(
                    {"op_index": [op], "files": [_json.dumps(sizes)]}
                )
            )
        if out:
            yield from out

    manifests = shuffled.mapInPandas(
        write_partition, schema="op_index int, files string"
    ).collect()  # handle-only collect, data stays in executors

    meta = {
        "version": 1,
        "max_parallelism": max_parallelism,
        "parallelism": parallelism,
        "state_ids": state_ids,
        "subtasks": {
            str(r["op_index"]): _json.loads(r["files"]) for r in manifests
        },
    }
    with open(os.path.join(path, "_bravo_checkpoint.json"), "w") as f:
        _json.dump(meta, f, indent=1)
    return meta
