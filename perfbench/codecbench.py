"""Spark-free, single-threaded codec throughput on the workloads' own
seed-generated bytes. Each figure is MB of uncompressed (logical) data per
second, the median of three repetitions of at least ``MIN_S`` each."""

from __future__ import annotations

import io
import os
import statistics
import time

import fixtures

MIN_S = 0.1


def _rate(nbytes: int, fn) -> float:
    reps = []
    for _ in range(3):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= MIN_S:
                break
        reps.append(nbytes * n / dt / 1e6)
    return statistics.median(reps)


def savepoint_codecs(seed: int, sizes: dict) -> dict:
    from bravo_spark import api
    from bravo_spark.codecs import fastpath
    from bravo_spark.codecs import flink as fc
    from bravo_spark.codecs import vectorized as vz

    st = fixtures.savepoint_states(seed, sizes)
    entries = sorted(
        (fixtures.STATE_IDS[n], k, v) for n in ("Count", "Events", "Seen") for k, v in st[n][:1500]
    )
    logical = sum(len(k) + len(v) for _s, k, v in entries)
    section = fc.write_key_group_section(entries)
    id_to_name = {v: k for k, v in fixtures.STATE_IDS.items()}
    framed = fastpath.frame_compress(section)
    keys, vals = st["count_keys"][:10000], st["count_vals"][:10000]
    raw = st["Count"][:10000]
    raw_k, raw_v = [k for k, _ in raw], [v for _, v in raw]
    kv_bytes = sum(len(k) + len(v) for k, v in raw)
    mp = fixtures.MAX_PARALLELISM
    return {
        "codecs.flink_section_encode_mb_s": _rate(logical, lambda: fc.write_key_group_section(entries)),
        "codecs.flink_section_decode_mb_s": _rate(
            logical, lambda: sum(1 for _ in fc.iter_key_group_section(section, id_to_name))
        ),
        "codecs.vectorized_kv_encode_mb_s": _rate(
            kv_bytes, lambda: vz.encode_kv_fixed(keys, vals, api.LONG, api.LONG, mp)
        ),
        "codecs.vectorized_kv_decode_mb_s": _rate(
            kv_bytes, lambda: vz.decode_kv_fixed(raw_k, raw_v, api.LONG, api.LONG, mp)
        ),
        "codecs.snappy_frame_compress_mb_s": _rate(len(section), lambda: fastpath.frame_compress(section)),
        "codecs.snappy_frame_decompress_mb_s": _rate(len(section), lambda: fastpath.frame_decompress(framed)),
    }


def checkpoint_codecs(seed: int, sizes: dict, work: str) -> dict:
    from bravo_spark.codecs import fastpath
    from bravo_spark.sources import sst as sstmod

    lv = fixtures.checkpoint_levels(seed, sizes)
    base = sorted(lv["Count"][0], key=lambda e: (e[0], -e[1]))[:6000]
    logical = sum(len(k) + len(v) for k, _s, _t, v in base)
    path = os.path.join(work, "codec_probe.sst")

    def write():
        with sstmod.SstWriter(path, column_family="Count", column_family_id=1) as w:
            for k, s, t, v in base:
                w.add(k, s, t, v)

    write()
    block = b"".join(k + v for k, _s, _t, v in base[:2000])
    comp = fastpath.lz4_compress_block(block)
    return {
        "sst.write_mb_s": _rate(logical, write),
        "sst.read_mb_s": _rate(logical, lambda: sum(1 for _ in sstmod.SstReader(path).iter_entries())),
        "codecs.lz4_block_decompress_mb_s": _rate(
            len(block), lambda: fastpath.lz4_decompress_block(comp, len(block))
        ),
    }


def shard_codecs(seed: int, sizes: dict) -> dict:
    from bravo_spark.codecs import avro, tfrecord, warc, zipfmt

    docs = fixtures.documents(seed, dict(sizes, docs=500, total_bytes=600_000))
    logical = sum(len(d) for d in docs)
    recs = [({"WARC-Type": "conversion", "WARC-Target-URI": f"u{i}"}, d) for i, d in enumerate(docs)]
    warc_blob = warc.write_warc(recs, compression="gzip")
    tf_blob = tfrecord.write_tfrecords(docs)
    schema = {"type": "record", "name": "Doc", "fields": [{"name": "text", "type": "bytes"}]}
    rows = [{"text": d} for d in docs]
    ocf = avro.write_ocf(schema, rows)
    zblob = zipfmt.write_zip((f"d{i}.txt", d) for i, d in enumerate(docs))
    return {
        "codecs.warc_parse_mb_s": _rate(logical, lambda: sum(1 for _ in warc.parse_warc(warc_blob))),
        "codecs.tfrecord_parse_mb_s": _rate(logical, lambda: tfrecord.read_all_tfrecords(tf_blob)),
        "codecs.avro_encode_mb_s": _rate(logical, lambda: avro.write_ocf(schema, rows, out=io.BytesIO())),
        "codecs.avro_decode_mb_s": _rate(logical, lambda: sum(1 for _ in avro.read_ocf(ocf)[1])),
        "codecs.zip_read_mb_s": _rate(logical, lambda: sum(1 for _ in zipfmt.iter_zip(zblob))),
    }


def all_codecs(seed: int, sizes: dict, work: str) -> dict:
    m = savepoint_codecs(seed, sizes["savepoint_transform"])
    m.update(checkpoint_codecs(seed, sizes["checkpoint_scan"], work))
    m.update(shard_codecs(seed, sizes["shard_roundtrip"]))
    return m
