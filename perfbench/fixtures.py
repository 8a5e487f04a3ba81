"""Seed-deterministic inputs for the three workloads, and the expected
results derived from them without going through ``bravo_spark``.

The logical content of every fixture (keys, values, list lengths, deltas,
documents) comes from ``numpy.random.default_rng(seed)``. The state bytes
(``key_ns`` and value payloads) are produced by the reference Flink
encoders in this module, so the expected row hashes do not depend on the
code under test. Only container framing that this module does not
re-implement is delegated to the library: snappy framing of savepoint
sections (``codecs.fastpath.frame_compress``) and the RocksDB SST table
format (``sources.sst.SstWriter``). Output checks read savepoint sections
and snappy frames with the decoders here.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct

import numpy as np

MAX_PARALLELISM = 128
PARALLELISM = 4
STATE_IDS = {"Count": 0, "Events": 1, "Seen": 2}  # sorted names, like the writer

# ---------------------------------------------------------------------------
# reference Flink key/value encoding (RocksDB keyed-state layout)
# ---------------------------------------------------------------------------

_U32 = np.uint32


def _rotl(h, r):
    return (h << _U32(r)) | (h >> _U32(32 - r))


def key_groups_for_longs(keys: np.ndarray, max_parallelism: int = MAX_PARALLELISM) -> np.ndarray:
    """Flink ``KeyGroupRangeAssignment.assignToKeyGroup`` for ``Long`` keys:
    ``murmurHash(Long.hashCode(k)) % maxParallelism``."""
    u = keys.astype(np.int64).view(np.uint64)
    h = ((u ^ (u >> np.uint64(32))) & np.uint64(0xFFFFFFFF)).astype(_U32)
    with np.errstate(over="ignore"):
        h = h * _U32(0xCC9E2D51)
        h = _rotl(h, 15)
        h = h * _U32(0x1B873593)
        h = _rotl(h, 13)
        h = h * _U32(5) + _U32(0xE6546B64)
        h ^= _U32(4)
        h ^= h >> _U32(16)
        h = h * _U32(0x85EBCA6B)
        h ^= h >> _U32(13)
        h = h * _U32(0xC2B2AE35)
        h ^= h >> _U32(16)
    s = h.view(np.int32).astype(np.int64)
    s = np.where(s >= 0, s, np.where(s != -(2**31), -s, 0))
    return s % max_parallelism


def _rows(arr: np.ndarray) -> list[bytes]:
    """Split a C-contiguous (n, w) uint8 array into n byte strings."""
    w = arr.shape[1]
    buf = arr.tobytes()
    return [buf[i : i + w] for i in range(0, len(buf), w)]


def long_key_ns(keys: np.ndarray, kgs: np.ndarray) -> list[bytes]:
    """``[1-byte key group][8-byte BE long key][VoidNamespace 0x00]``."""
    n = len(keys)
    arr = np.zeros((n, 10), dtype=np.uint8)
    arr[:, 0] = kgs
    arr[:, 1:9] = keys.astype(">i8").view(np.uint8).reshape(n, 8)
    return _rows(arr)


def long_values(vals: np.ndarray) -> list[bytes]:
    return _rows(vals.astype(">i8").view(np.uint8).reshape(len(vals), 8))


def java_string(s: str) -> bytes:
    """Flink ``StringValue.writeString`` for ASCII text: varint(len + 1),
    then one varint per UTF-16 code unit."""
    out = bytearray()
    v = len(s) + 1
    while v >= 0x80:
        out.append((v | 0x80) & 0xFF)
        v >>= 7
    out.append(v)
    out += s.encode("ascii")
    return bytes(out)


def row_hash(key_ns: bytes, value: bytes) -> int:
    return int.from_bytes(
        hashlib.blake2b(
            len(key_ns).to_bytes(4, "big") + key_ns + value, digest_size=8
        ).digest(),
        "big",
    )


def rows_digest(pairs) -> tuple[int, int]:
    """Order-insensitive ``(row count, sum of row hashes mod 2**64)``."""
    n = 0
    acc = 0
    for k, v in pairs:
        n += 1
        acc += row_hash(k, v)
    return n, acc & 0xFFFFFFFFFFFFFFFF


# ---------------------------------------------------------------------------
# savepoint section format and snappy framing (decode side for checks)
# ---------------------------------------------------------------------------


def section_bytes(entries: list[tuple[int, bytes, bytes]]) -> bytes:
    """One key group's ``(state_id, key_ns, value)`` entries, grouped by
    state id, in the full-snapshot stream layout: ``[short id]`` then
    length-prefixed key/value pairs, with the metadata-follows bit set on
    the last key of each state run; ``0xFFFF`` ends the group."""
    out = bytearray(struct.pack(">h", entries[0][0]))
    for i, (sid, kns, val) in enumerate(entries):
        nxt = entries[i + 1][0] if i + 1 < len(entries) else None
        key = bytearray(kns)
        if nxt != sid:
            key[0] |= 0x80
        out += struct.pack(">i", len(key)) + key + struct.pack(">i", len(val)) + val
        if nxt is None:
            out += b"\xff\xff"
        elif nxt != sid:
            out += struct.pack(">h", nxt)
    return bytes(out)


def parse_section(buf: bytes, id_to_name: dict[int, str]):
    """Inverse of :func:`section_bytes` → ``(state_name, key_ns, value)``."""
    pos = 0
    (sid,) = struct.unpack_from(">h", buf, pos)
    pos += 2
    while True:
        (klen,) = struct.unpack_from(">i", buf, pos)
        pos += 4
        key = bytearray(buf[pos : pos + klen])
        pos += klen
        (vlen,) = struct.unpack_from(">i", buf, pos)
        pos += 4
        val = buf[pos : pos + vlen]
        pos += vlen
        follows = key[0] & 0x80
        key[0] &= 0x7F
        yield id_to_name[sid], bytes(key), bytes(val)
        if follows:
            (nxt,) = struct.unpack_from(">H", buf, pos)
            pos += 2
            if nxt == 0xFFFF:
                return
            sid = struct.unpack(">h", struct.pack(">H", nxt))[0]


def snappy_unframe(data: bytes) -> bytes:
    """Decode a snappy framing-format stream (chunk CRCs are not checked:
    the check compares decoded rows against expected hashes instead)."""
    import pyarrow as pa

    codec = pa.Codec("snappy")
    out = bytearray()
    pos = 0
    while pos < len(data):
        ctype = data[pos]
        clen = int.from_bytes(data[pos + 1 : pos + 4], "little")
        body = data[pos + 4 : pos + 4 + clen]
        pos += 4 + clen
        if ctype == 0x00:
            raw = body[4:]
            size, shift, i = 0, 0, 0
            while True:
                b = raw[i]
                size |= (b & 0x7F) << shift
                i += 1
                if b < 0x80:
                    break
                shift += 7
            out += codec.decompress(raw, decompressed_size=size)
        elif ctype == 0x01:
            out += body[4:]
        elif ctype == 0xFF or 0x80 <= ctype <= 0xFE:
            continue
        else:
            raise ValueError(f"unknown snappy chunk type {ctype:#x}")
    return bytes(out)


def read_savepoint_rows(path: str):
    """Every ``(state_name, key_ns, value)`` of a savepoint directory,
    read from its metadata, section files and (optional) snappy frames."""
    with open(os.path.join(path, "_bravo_metadata")) as f:
        meta = json.load(f)
    id_to_name = {int(v): k for k, v in meta["state_ids"].items()}
    for fm in meta["files"]:
        fpath = fm["path"]
        with open(fpath, "rb") as f:
            blob = f.read()
        offs = sorted(int(v) for v in fm["offsets"].values())
        for i, off in enumerate(offs):
            end = offs[i + 1] if i + 1 < len(offs) else len(blob)
            buf = blob[off:end]
            if meta.get("compression"):
                buf = snappy_unframe(buf)
            yield from parse_section(buf, id_to_name)


# ---------------------------------------------------------------------------
# savepoint_transform fixture
# ---------------------------------------------------------------------------


def zipf_sizes(rng, a: float, n: int, cap: int, total: int) -> np.ndarray:
    """``n`` Zipf(``a``) draws capped at ``cap``, rescaled (each at least 1)
    to sum to exactly ``total``, so the shape varies with the seed and the
    volume does not."""
    draws = np.minimum(rng.zipf(a, size=n), cap).astype(np.float64)
    sizes = np.maximum(1, np.floor(draws * total / draws.sum())).astype(np.int64)
    short = total - int(sizes.sum())
    if short > 0:
        np.add.at(sizes, rng.choice(n, size=short), 1)
    elif short < 0:  # the floor at 1 overshot: trim the largest
        sizes[np.argsort(-sizes, kind="stable")[:-short]] -= 1
    return sizes


def _distinct_longs(rng, n: int, hi: int = 1 << 40) -> np.ndarray:
    keys = np.unique(rng.integers(1, hi, size=int(n * 1.05) + 16))
    return rng.permutation(keys)[:n]


def savepoint_states(seed: int, sizes: dict) -> dict:
    """The logical keyed and operator state of the savepoint fixture, as
    ``{state: [(key_ns, value), ...]}`` plus the transform delta."""
    rng = np.random.default_rng([seed, 1])
    n_count, n_seen, n_events = sizes["count_keys"], sizes["seen_keys"], sizes["events_keys"]
    keys = _distinct_longs(rng, n_count + n_seen + n_events)
    ck, sk, ek = keys[:n_count], keys[n_count : n_count + n_seen], keys[n_count + n_seen :]

    cvals = rng.integers(0, 1 << 32, size=n_count)
    count_rows = list(zip(long_key_ns(ck, key_groups_for_longs(ck)), long_values(cvals)))

    seen_rows = []
    per_key = 1 + rng.poisson(sizes["seen_mean_entries"] - 1, size=n_seen)
    mk_ids = rng.integers(0, 1 << 20, size=int(per_key.sum()))
    mvals = rng.integers(-(1 << 31), 1 << 31, size=int(per_key.sum()))
    pos = 0
    for key_ns, m in zip(long_key_ns(sk, key_groups_for_longs(sk)), per_key):
        names = sorted({f"m{x:05x}" for x in mk_ids[pos : pos + m]})
        for j, name in enumerate(names):
            seen_rows.append((key_ns + java_string(name), b"\x00" + struct.pack(">i", int(mvals[pos + j]))))
        pos += m

    lens = zipf_sizes(rng, sizes["events_zipf_a"], n_events, sizes["events_max_len"], sizes["events_elements"])
    evals = rng.integers(0, 1 << 40, size=int(lens.sum()))
    ev_bytes = long_values(evals)
    events_rows = []
    pos = 0
    for key_ns, m in zip(long_key_ns(ek, key_groups_for_longs(ek)), lens):
        events_rows.append((key_ns, b",".join(ev_bytes[pos : pos + m])))
        pos += m

    touched = rng.choice(n_count, size=max(1, n_count // 10), replace=False)
    touched.sort()
    incr = rng.integers(1, 1000, size=len(touched))
    new_vals = cvals.copy()
    new_vals[touched] += incr

    op_state = [
        {
            "list_states": {"offsets": [int(x) for x in rng.integers(0, 1 << 40, size=8)]},
            "union_states": {"watermarks": [int(rng.integers(0, 1 << 40))]},
            "broadcast_states": {"rules": {f"s:rule{i}": int(rng.integers(0, 100)) for i in range(4)}},
        }
        for _ in range(PARALLELISM)
    ]
    return {
        "Count": count_rows,
        "Seen": seen_rows,
        "Events": events_rows,
        "count_keys": ck,
        "count_vals": cvals,
        "delta_keys": ck[touched],
        "delta_incr": incr,
        "new_count_rows": list(zip(long_key_ns(ck, key_groups_for_longs(ck)), long_values(new_vals))),
        "operator_state": op_state,
    }


def restored_operator_state(subtasks: list[dict]) -> list[dict]:
    """Flink's restore semantics at unchanged parallelism: list-state
    elements are concatenated and dealt round-robin, union state is the
    concatenation on every subtask, broadcast state the merged map."""
    n = len(subtasks)
    out = [{"list_states": {}, "union_states": {}, "broadcast_states": {}} for _ in range(n)]
    for name in subtasks[0]["list_states"]:
        elems = [x for st in subtasks for x in st["list_states"][name]]
        for i, x in enumerate(elems):
            out[i % n]["list_states"].setdefault(name, []).append(x)
    for kind in ("union_states", "broadcast_states"):
        for name in subtasks[0][kind]:
            if kind == "union_states":
                merged = [x for st in subtasks for x in st[kind][name]]
            else:
                merged = {k: v for st in subtasks for k, v in st[kind][name].items()}
            for o in out:
                o[kind][name] = merged
    return out


def write_savepoint_fixture(path: str, seed: int, sizes: dict) -> dict:
    """Write the savepoint fixture (per-key-group snappy sections, one file
    per operator index, JSON metadata, operator state) and the transform
    delta; return what the checks and metrics need."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bravo_spark.codecs import fastpath

    st = savepoint_states(seed, sizes)
    os.makedirs(path, exist_ok=True)
    by_kg: dict[int, list] = {}
    logical = 0
    for name in ("Count", "Events", "Seen"):
        sid = STATE_IDS[name]
        for kns, val in st[name]:
            by_kg.setdefault(kns[0], []).append((sid, kns, val))
            logical += len(kns) + len(val)
    files = []
    for op in range(PARALLELISM):
        fpath = os.path.join(path, f"op-{op}-fixture")
        offsets = {}
        with open(fpath, "wb") as f:
            for kg in sorted(by_kg):
                if kg * PARALLELISM // MAX_PARALLELISM != op:
                    continue
                offsets[str(kg)] = f.tell()
                f.write(fastpath.frame_compress(section_bytes(sorted(by_kg[kg]))))
        files.append({"path": os.path.abspath(fpath), "op_index": op, "offsets": offsets})
    meta = {
        "version": 1,
        "max_parallelism": MAX_PARALLELISM,
        "parallelism": PARALLELISM,
        "state_ids": STATE_IDS,
        "compression": True,
        "files": files,
    }
    with open(os.path.join(path, "_bravo_metadata"), "w") as f:
        json.dump(meta, f, indent=1)
    with open(os.path.join(path, "_bravo_operator_state"), "w") as f:
        json.dump({"version": 1, "subtasks": st["operator_state"]}, f, indent=1)

    delta_path = path + "_delta.parquet"
    pq.write_table(
        pa.table({"key": pa.array(st["delta_keys"], pa.int64()), "d": pa.array(st["delta_incr"], pa.int64())}),
        delta_path,
    )
    return {
        "path": path,
        "delta_path": delta_path,
        "logical_bytes": logical,
        "expected": {
            "Count": rows_digest(st["new_count_rows"]),
            "Seen": rows_digest(st["Seen"]),
            "Events": rows_digest(st["Events"]),
        },
        "operator_state": restored_operator_state(st["operator_state"]),
    }


# ---------------------------------------------------------------------------
# checkpoint_scan fixture (RocksDB incremental checkpoint, LSM levels)
# ---------------------------------------------------------------------------

CF_IDS = {"Count": 1, "Events": 2}


def checkpoint_levels(seed: int, sizes: dict) -> dict:
    """Logical LSM content: a base level and two overlay levels of
    ``(key_ns, seq, vtype, value)`` for the value state ``Count`` and the
    merge-operand list state ``Events``; plus the resolved ``Count``."""
    rng = np.random.default_rng([seed, 2])
    n = sizes["base_keys"]
    keys = _distinct_longs(rng, n)
    kns = long_key_ns(keys, key_groups_for_longs(keys))
    vals = rng.integers(0, 1 << 40, size=n)
    alive = np.ones(n, dtype=bool)
    final = vals.copy()
    seq = 1
    count_levels = [[(kns[i], seq + i, 1, v) for i, v in enumerate(long_values(vals))]]
    seq += n
    for _level in range(2):
        picks = rng.choice(n, size=int(n * (sizes["update_frac"] + sizes["delete_frac"]) / 2), replace=False)
        n_upd = int(n * sizes["update_frac"] / 2)
        upd, dele = picks[:n_upd], picks[n_upd:]
        uvals = rng.integers(0, 1 << 40, size=len(upd))
        final[upd] = uvals
        alive[upd] = True
        alive[dele] = False
        level = [(kns[i], seq + j, 1, v) for j, (i, v) in enumerate(zip(upd, long_values(uvals)))]
        seq += len(upd)
        level += [(kns[i], seq + j, 0, b"") for j, i in enumerate(dele)]
        seq += len(dele)
        count_levels.append(level)

    m = sizes["list_keys"]
    lkeys = _distinct_longs(rng, m)
    lkns = long_key_ns(lkeys, key_groups_for_longs(lkeys))
    ops = np.minimum(rng.zipf(sizes["operand_zipf_a"], size=m), sizes["max_operands"])
    ev = long_values(rng.integers(0, 1 << 40, size=m + int(ops.sum())))
    events_levels = [[(lkns[i], seq + i, 1, ev[i]) for i in range(m)], [], []]
    seq += m
    pos = m
    for i in range(m):
        for j in range(int(ops[i])):
            events_levels[1 + (j % 2)].append((lkns[i], seq, 2, ev[pos]))
            seq += 1
            pos += 1
    return {
        "Count": count_levels,
        "Events": events_levels,
        "live_keys": keys[alive],
        "live_vals": final[alive],
    }


def write_checkpoint_fixture(path: str, seed: int, sizes: dict) -> dict:
    """Write the checkpoint as ``NNNNNN.sst`` files: the base level of each
    state split by key range into ``base_files`` snappy SSTs, each overlay
    level into ``overlay_files`` lz4 SSTs."""
    from bravo_spark.sources import sst as sstmod

    lv = checkpoint_levels(seed, sizes)
    os.makedirs(path, exist_ok=True)
    fileno = 1
    for name in ("Count", "Events"):
        for li, level in enumerate(lv[name]):
            level = sorted(level, key=lambda e: (e[0], -e[1]))
            parts = sizes["base_files"] if li == 0 else sizes["overlay_files"]
            comp = sstmod.SNAPPY_COMPRESSION if li == 0 else sstmod.LZ4_COMPRESSION
            a = 0
            for b in np.linspace(0, len(level), parts + 1).astype(int)[1:]:
                b = max(a, int(b))
                while 0 < b < len(level) and level[b][0] == level[b - 1][0]:
                    b += 1  # keep every version of a user key in one file
                chunk, a = level[a:b], b
                if not chunk:
                    continue
                with sstmod.SstWriter(
                    os.path.join(path, f"{fileno:06d}.sst"),
                    column_family=name,
                    column_family_id=CF_IDS[name],
                    compression=comp,
                ) as w:
                    for k, s, t, v in chunk:
                        w.add(k, s, t, v)
                fileno += 1
    live_k, live_v = lv["live_keys"], lv["live_vals"]
    return {
        "path": path,
        # the job reads Count: every version of every Count entry
        "logical_bytes": sum(len(k) + len(v) for level in lv["Count"] for k, _s, _t, v in level),
        "expected": (len(live_k), int(live_k.sum()), int(live_v.sum())),
    }


# ---------------------------------------------------------------------------
# shard_roundtrip fixture (documents)
# ---------------------------------------------------------------------------


def documents(seed: int, sizes: dict) -> list[bytes]:
    """ASCII text documents with Zipf-distributed lengths, cut from a
    seed-generated word stream."""
    rng = np.random.default_rng([seed, 3])
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    vocab = [
        bytes(letters[rng.integers(0, 26, size=int(w))])
        for w in rng.integers(2, 10, size=2000)
    ]
    words = rng.zipf(1.3, size=sizes["corpus_words"]) % len(vocab)
    corpus = b" ".join(vocab[i] for i in words)
    n = sizes["docs"]
    lens = zipf_sizes(rng, sizes["len_zipf_a"], n, sizes["len_cap"], sizes["total_bytes"])
    starts = rng.integers(0, len(corpus) - int(lens.max()) - 1, size=n)
    return [corpus[s : s + ln] for s, ln in zip(starts, lens)]


def hash48(b: bytes) -> int:
    """First 48 bits of SHA-1, matching Spark's
    ``conv(substring(sha1(x), 1, 12), 16, 10)``."""
    return int(hashlib.sha1(b).hexdigest()[:12], 16)


def write_shard_fixture(path: str, seed: int, sizes: dict) -> dict:
    """Documents as ``files`` parquet files: ``id``, ``key``, ``name``,
    ``uri`` and the ``text`` payload."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = documents(seed, sizes)
    os.makedirs(path, exist_ok=True)
    ids = np.arange(len(docs), dtype=np.int64)
    keys = [f"d{i:06d}" for i in ids]
    names = [f"doc-{i:06d}.txt" for i in ids]
    uris = [f"https://example.org/doc/{i}" for i in ids]
    # largest-first onto the lightest file: every file (one Spark partition,
    # one shard per format) gets the same bytes whatever the seed
    files: list[list[int]] = [[] for _ in range(sizes["files"])]
    load = [0] * sizes["files"]
    for i in sorted(range(len(docs)), key=lambda i: -len(docs[i])):
        f = load.index(min(load))
        files[f].append(i)
        load[f] += len(docs[i])
    for f, members in enumerate(files):
        sel = np.array(sorted(members))
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids[sel]),
                    "key": [keys[i] for i in sel],
                    "name": [names[i] for i in sel],
                    "uri": [uris[i] for i in sel],
                    "text": pa.array([docs[i] for i in sel], pa.binary()),
                }
            ),
            os.path.join(path, f"part-{f:03d}.parquet"),
        )
    return {
        "path": path,
        "logical_bytes": sum(len(d) for d in docs),
        "expected": {
            "n": len(docs),
            "bytes": sum(len(d) for d in docs),
            "payload": sum(hash48(d) for d in docs),
            "label": {
                "uri": sum(hash48(u.encode()) for u in uris),
                "key": sum(hash48(k.encode()) for k in keys),
                "name": sum(hash48(n.encode()) for n in names),
                "id": int(ids.sum()),
            },
        },
    }
