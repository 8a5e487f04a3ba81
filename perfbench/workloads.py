"""The workloads: fixture set-up, the timed job, its output check and
the per-layer probes of the traced run.

Every job goes through the library's public functions only. ``tr`` is a
``tracing.Tracer`` in the traced run and a ``tracing.NullTracer`` otherwise.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

import fixtures

# Fixture sizes: one job takes about 2-5 s on 4 cores.
SIZES = {
    "savepoint_transform": {
        "count_keys": 25_000,
        "seen_keys": 6_250,
        "seen_mean_entries": 4,
        "events_keys": 6_250,
        "events_elements": 25_000,
        "events_zipf_a": 2.0,
        "events_max_len": 1000,
    },
    "checkpoint_scan": {
        "base_keys": 100_000,
        "update_frac": 0.20,
        "delete_frac": 0.05,
        "base_files": 4,
        "overlay_files": 2,
        "list_keys": 1_000,
        "operand_zipf_a": 1.6,
        "max_operands": 3_000,
    },
    "shard_roundtrip": {
        "docs": 3_000,
        "total_bytes": 5_000_000,
        "len_zipf_a": 1.8,
        "len_cap": 256,
        "corpus_words": 400_000,
        "files": 4,
    },
}

FORMATS = ("warc", "tfrecord", "webdataset", "zip", "avro")


def _h48(col):
    """Spark side of ``fixtures.hash48``."""
    return F.conv(F.substring(F.sha1(col), 1, 12), 16, 10).cast("long")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, file count) under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def _timed(tr, name: str, fn):
    with tr.span(name):
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, out


# ---------------------------------------------------------------------------
# savepoint_transform
# ---------------------------------------------------------------------------


class SavepointTransform:
    name = "savepoint_transform"

    def setup(self, spark, work: str, seed: int) -> dict:
        return fixtures.write_savepoint_fixture(os.path.join(work, "savepoint"), seed, SIZES[self.name])

    @staticmethod
    def _transformed(spark, reader, fx):
        from bravo_spark import api

        count = reader.read_value_kv("Count", api.LONG, api.LONG)
        delta = spark.read.parquet(fx["delta_path"])
        return count.join(delta, "key", "left").select(
            "key", (F.col("value") + F.coalesce(F.col("d"), F.lit(0))).alias("value")
        )

    def job(self, spark, fx: dict, out: str, tr) -> None:
        from bravo_spark import api

        with tr.span("job"):
            with tr.span("api.reader_open"):
                reader = api.OperatorStateReader(spark, fx["path"])
            with tr.span("api.read_value_kv"):
                new = self._transformed(spark, reader, fx)
            with tr.span("api.writer_setup"):
                writer = api.OperatorStateWriter(reader, out)
                writer.add_value_state("Count", new, api.LONG, api.LONG)
                writer.add_keyed_state_rows(reader.unread_state_rows())
            with tr.span("api.write_all"):
                writer.write_all()

    def check(self, fx: dict, out: str, _result) -> bool:
        import json

        groups: dict[str, list] = {}
        for name, kns, val in fixtures.read_savepoint_rows(out):
            groups.setdefault(name, []).append((kns, val))
        got = {n: fixtures.rows_digest(rows) for n, rows in groups.items()}
        with open(os.path.join(out, "_bravo_operator_state")) as f:
            ops = json.load(f)["subtasks"]
        return got == fx["expected"] and ops == fx["operator_state"]

    def out_bytes(self, out: str) -> int:
        return dir_bytes(out)[0]

    def probes(self, spark, fx: dict, work: str, tr) -> dict:
        from bravo_spark import api
        from bravo_spark.sources import operator_state as ops
        from bravo_spark.sources import savepoint as sp
        from bravo_spark.sources import staterows as sr

        path = fx["path"]
        m: dict[str, float] = {}
        out = os.path.join(work, "savepoint_job_probe")
        self.job(spark, fx, out, tr)
        m["api.write_all_s"] = statistics.median(s.end - s.start for s in tr.named("api.write_all"))
        written, m["savepoint.files_written"] = dir_bytes(out)
        m["savepoint.bytes_written_mb"] = written / 1e6

        m["api.reader_open_s"] = statistics.median(
            _timed(tr, "api.reader_open", lambda: api.OperatorStateReader(spark, path))[0] for _ in range(5)
        )
        obs = Observation("scan")
        scan = sp.read_savepoint(spark, path).observe(
            obs, F.sum(F.when(F.col("state_name") != "Count", 1).otherwise(0)).alias("migrated")
        )
        m["savepoint.scan_s"] = _timed(tr, "savepoint.scan", lambda: _noop(scan))[0]
        m["api.rows_migrated"] = obs.get["migrated"]
        m["savepoint.splits"] = sp.read_savepoint(spark, path).rdd.getNumPartitions()
        m["savepoint.bytes_read_mb"] = sum(
            os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.startswith("op-")
        ) / 1e6

        # decode and encode self time: the same plan with and without the
        # layer's operator, both to a noop sink
        pushdown = sp.read_savepoint(spark, path, state_names=["Count"])
        m["savepoint.scan_pushdown_s"] = _timed(tr, "savepoint.scan_pushdown", lambda: _noop(pushdown))[0]
        dobs = Observation("decode")
        decoded = sr.read_value_kv(
            sp.read_savepoint(spark, path, state_names=["Count"]), "Count", api.LONG, api.LONG,
            max_parallelism=fixtures.MAX_PARALLELISM,
        ).observe(dobs, F.count(F.lit(1)).alias("rows"))
        t_decode = _timed(tr, "staterows.decode", lambda: _noop(decoded))[0]
        m["staterows.decode_s"] = t_decode - m["savepoint.scan_pushdown_s"]
        m["staterows.rows_decoded"] = dobs.get["rows"]

        reader = api.OperatorStateReader(spark, path)
        new = self._transformed(spark, reader, fx)
        t_new = _timed(tr, "staterows.encode_input", lambda: _noop(new))[0]
        eobs = Observation("encode")
        encoded = sr.kv_to_state_rows(new, "Count", api.LONG, api.LONG, max_parallelism=fixtures.MAX_PARALLELISM)
        t_enc = _timed(
            tr, "staterows.encode", lambda: _noop(encoded.observe(eobs, F.count(F.lit(1)).alias("rows")))
        )[0]
        m["staterows.encode_s"] = t_enc - t_new
        m["staterows.rows_encoded"] = eobs.get["rows"]

        mat = os.path.join(work, "savepoint_rows.parquet")
        encoded.unionByName(reader.unread_state_rows()).write.mode("overwrite").parquet(mat)
        rows = spark.read.parquet(mat)
        m["savepoint.write_s"] = _timed(
            tr,
            "savepoint.write",
            lambda: sp.write_savepoint(
                rows,
                os.path.join(work, "savepoint_write_probe"),
                max_parallelism=fixtures.MAX_PARALLELISM,
                parallelism=fixtures.PARALLELISM,
            ),
        )[0]
        copy_dst = os.path.join(work, "operator_state_probe")
        m["operator_state.copy_s"] = statistics.median(
            _timed(
                tr,
                "operator_state.copy",
                lambda: ops.write_operator_state(copy_dst, ops.read_operator_state(path)),
            )[0]
            for _ in range(5)
        )
        return m


# ---------------------------------------------------------------------------
# checkpoint_scan
# ---------------------------------------------------------------------------


class CheckpointScan:
    name = "checkpoint_scan"

    def setup(self, spark, work: str, seed: int) -> dict:
        return fixtures.write_checkpoint_fixture(os.path.join(work, "checkpoint"), seed, SIZES[self.name])

    def job(self, spark, fx: dict, out: str, tr):
        from bravo_spark import api
        from bravo_spark.sources import checkpoint
        from bravo_spark.sources import staterows as sr

        with tr.span("job"):
            with tr.span("checkpoint.read_incremental_checkpoint"):
                rows = checkpoint.read_incremental_checkpoint(spark, fx["path"], state_names=["Count"])
            with tr.span("staterows.read_value_kv"):
                kv = sr.read_value_kv(rows, "Count", api.LONG, api.LONG, max_parallelism=fixtures.MAX_PARALLELISM)
            with tr.span("collect"):
                r = kv.agg(F.count(F.lit(1)), F.sum("key"), F.sum("value")).collect()[0]
        return tuple(int(x) for x in r)

    def check(self, fx: dict, _out: str, result) -> bool:
        return result == fx["expected"]

    def out_bytes(self, _out: str) -> None:
        return None  # read-only workload

    def probes(self, spark, fx: dict, work: str, tr) -> dict:
        from bravo_spark.sources import checkpoint
        from bravo_spark.sources import datasource

        datasource.register(spark)
        path = fx["path"]
        m: dict[str, float] = {}
        iobs, lobs = Observation("entries_in"), Observation("entries_live")
        raw = spark.read.format("bravo_checkpoint").load(path)
        _noop(raw)  # warm the data source path before timing it
        m["checkpoint.scan_s"] = _timed(
            tr, "checkpoint.scan", lambda: _noop(raw.observe(iobs, F.count(F.lit(1)).alias("n")))
        )[0]
        resolved = checkpoint.resolve_lsm(spark.read.format("bravo_checkpoint").load(path))
        t_res = _timed(
            tr, "checkpoint.resolve", lambda: _noop(resolved.observe(lobs, F.count(F.lit(1)).alias("n")))
        )[0]
        m["checkpoint.resolve_s"] = t_res - m["checkpoint.scan_s"]
        m["checkpoint.entries_in"] = iobs.get["n"]
        m["checkpoint.entries_live"] = lobs.get["n"]
        m["checkpoint.live_ratio"] = m["checkpoint.entries_live"] / m["checkpoint.entries_in"]
        ssts = checkpoint.discover_sst_files(path)
        m["checkpoint.ssts"] = len(ssts)
        m["checkpoint.bytes_read_mb"] = sum(os.path.getsize(p) for p in ssts) / 1e6
        return m


# ---------------------------------------------------------------------------
# shard_roundtrip
# ---------------------------------------------------------------------------

_AVRO_SCHEMA = {
    "type": "record",
    "name": "Doc",
    "fields": [{"name": "id", "type": "long"}, {"name": "text", "type": "bytes"}],
}


class ShardRoundtrip:
    name = "shard_roundtrip"

    def setup(self, spark, work: str, seed: int) -> dict:
        fx = fixtures.write_shard_fixture(os.path.join(work, "docs"), seed, SIZES[self.name])
        fx["logical_bytes"] *= len(FORMATS)  # every document is written and read once per format
        return fx

    @staticmethod
    def _write_read(spark, fmt: str, df, d: str):
        """Write ``df`` in ``fmt`` under ``d``; return a function building the
        read-back relation, its payload column and its label column (None
        when the format keeps no label)."""
        from bravo_spark.sources import avro_source, tfrecord_source, warc_source, webdataset_source, zip_source

        if fmt == "warc":
            warc_source.write_warc_shards(df, d, uri_col="uri", payload_col="text")
            return lambda: warc_source.read_warc(spark, d), "payload", "uri"
        if fmt == "tfrecord":
            tfrecord_source.write_tfrecord_shards(df, d, payload_col="text")
            return lambda: tfrecord_source.read_tfrecords(spark, d), "record", None
        if fmt == "webdataset":
            webdataset_source.write_webdataset_shards(df, d, "key", {"text": "txt"})
            return lambda: webdataset_source.read_webdataset(spark, d, ["txt"]), "txt", "key"
        if fmt == "zip":
            zip_source.write_zip_shards(df, d, "name", "text")
            return lambda: zip_source.read_zip_shards(spark, d), "data", "name"
        avro_source.write_avro(df, d, _AVRO_SCHEMA)
        return lambda: avro_source.read_avro(spark, d, "id long, text binary"), "text", "id"

    def job(self, spark, fx: dict, out: str, tr) -> dict:
        res = {}
        with tr.span("job"):
            df = spark.read.parquet(fx["path"])
            for fmt in FORMATS:
                d = os.path.join(out, fmt)
                with tr.span(f"shards.{fmt}.write"):
                    read, payload, label = self._write_read(spark, fmt, df, d)
                with tr.span(f"shards.{fmt}.read"):
                    rel = read()
                    aggs = [
                        F.count(F.lit(1)),
                        F.sum(F.length(payload)),
                        F.sum(_h48(payload)),
                        F.sum(F.col(label) if label == "id" else _h48(label)) if label else F.lit(None),
                    ] + [F.count_distinct(c) for c in rel.columns if c not in (payload, label)]
                    res[fmt] = (tuple(rel.agg(*aggs).collect()[0]), label)
        return res

    def check(self, fx: dict, _out: str, result) -> bool:
        exp = fx["expected"]
        for fmt in FORMATS:
            row, label = result[fmt]
            if row[:3] != (exp["n"], exp["bytes"], exp["payload"]):
                return False
            if label and row[3] != exp["label"][label]:
                return False
        return True

    def out_bytes(self, out: str) -> int:
        return dir_bytes(out)[0]

    def probes(self, spark, fx: dict, work: str, tr) -> dict:
        out = os.path.join(work, "shards_probe")
        self.job(spark, fx, out, tr)
        m = {}
        for fmt in FORMATS:
            m[f"shards.{fmt}.write_s"] = statistics.median(s.end - s.start for s in tr.named(f"shards.{fmt}.write"))
            m[f"shards.{fmt}.read_s"] = statistics.median(s.end - s.start for s in tr.named(f"shards.{fmt}.read"))
            m[f"shards.{fmt}.mb"] = dir_bytes(os.path.join(out, fmt))[0] / 1e6
        return m


WORKLOADS = {w.name: w for w in (SavepointTransform(), CheckpointScan(), ShardRoundtrip())}
