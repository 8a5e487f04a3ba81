"""Tests of the benchmark itself: input determinism, the metric contract,
span self time and failure accounting. Run with
``python3 -m pytest perfbench/tests -q`` from the repository root."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

import fixtures
import run
import tracing
from tracing import Span
from workloads import FORMATS, WORKLOADS, CheckpointScan, SavepointTransform, ShardRoundtrip

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMALL = {
    "savepoint_transform": {
        "count_keys": 500, "seen_keys": 100, "seen_mean_entries": 4, "events_keys": 100,
        "events_elements": 400, "events_zipf_a": 2.0, "events_max_len": 50,
    },
    "checkpoint_scan": {
        "base_keys": 1000, "update_frac": 0.2, "delete_frac": 0.05, "base_files": 2,
        "overlay_files": 2, "list_keys": 20, "operand_zipf_a": 1.6, "max_operands": 50,
    },
    "shard_roundtrip": {
        "docs": 50, "total_bytes": 20_000, "len_zipf_a": 1.8, "len_cap": 64,
        "corpus_words": 5_000, "files": 2,
    },
}
WRITERS = {
    "savepoint_transform": fixtures.write_savepoint_fixture,
    "checkpoint_scan": fixtures.write_checkpoint_fixture,
    "shard_roundtrip": fixtures.write_shard_fixture,
}


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    base = os.path.dirname(path)
    for dirpath, dirs, names in os.walk(base):
        dirs.sort()
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            h.update(os.path.relpath(p, base).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(WRITERS))
def test_generator_is_byte_deterministic_per_seed(tmp_path, name):
    def build(seed):
        d = tmp_path / "fx"
        shutil.rmtree(d, ignore_errors=True)
        WRITERS[name](str(d / "data"), seed, SMALL[name])
        return _tree_digest(str(d / "data"))

    first = build(5)
    assert build(5) == first
    assert build(6) != first


def test_zipf_sizes_keep_total_and_shape():
    import numpy as np

    for seed in range(5):
        s = fixtures.zipf_sizes(np.random.default_rng(seed), 1.8, 1000, 256, 200_000)
        assert s.sum() == 200_000 and s.min() >= 1 and s.max() > 10 * np.median(s)


def test_reference_codec_matches_flink_layout():
    import numpy as np

    from bravo_spark.codecs import flink as fc
    from bravo_spark.codecs import hashes

    keys = np.array([1, 7, -5, 1 << 39, 123456789012], dtype=np.int64)
    kgs = fixtures.key_groups_for_longs(keys)
    assert kgs.tolist() == [hashes.assign_to_key_group(int(k), 128, "long") for k in keys]
    assert fixtures.long_key_ns(keys, kgs) == [fc.encode_key_ns(int(k), fc.LONG, 128) for k in keys]
    assert fixtures.java_string("m01abc") == fc.write_string("m01abc")
    entries = [(0, b"\x05a", b"v1"), (0, b"\x05b", b"v2"), (2, b"\x05c", b"v3")]
    assert fixtures.section_bytes(entries) == fc.write_key_group_section(entries)
    names = {0: "A", 2: "C"}
    assert list(fixtures.parse_section(fixtures.section_bytes(entries), names)) == [
        ("A", b"\x05a", b"v1"), ("A", b"\x05b", b"v2"), ("C", b"\x05c", b"v3")
    ]


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_names_and_units_match_benchmark_json():
    b = _benchmark_json()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)


def test_spark_free_per_layer_names_are_declared():
    units = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
    counters = tracing.job_group_counters([], "g", 0.0, 1.0)
    assert set(counters) <= set(units)
    shard = {f"shards.{f}.{k}" for f in FORMATS for k in ("write_s", "read_s", "mb")}
    assert shard <= set(units)
    assert {"session.start_s", "trace.overhead_pct"} <= set(units)


def test_self_time_of_nested_spans():
    spans = [
        Span("root", 0.0, 10.0, None, "j"),
        Span("a", 1.0, 3.0, 0, "j"),
        Span("b", 2.0, 5.0, 0, "j"),  # overlaps a: covered once
        Span("c", 8.0, 12.0, 0, "j"),  # runs past the parent: clipped
        Span("a.1", 1.5, 2.5, 1, "j"),  # grandchild: only a's self time
    ]
    assert tracing.self_times(spans) == pytest.approx([10 - 4 - 2, 2 - 1, 3, 4, 1])


def test_tracer_records_parent_and_job():
    tr = tracing.Tracer()
    tr.job = "traced-1"
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == 0 and outer.parent is None
    assert {outer.job, inner.job} == {"traced-1"} and outer.start <= inner.start <= inner.end <= outer.end


class _CopyJob:
    """Stands in for a Spark job: 'writes' a prepared savepoint directory."""

    def __init__(self, real, prepared):
        self.real, self.prepared = real, prepared

    def job(self, spark, fx, out, tr):
        shutil.copytree(self.prepared, out)

    def check(self, fx, out, result):
        return self.real.check(fx, out, result)

    def out_bytes(self, out):
        return self.real.out_bytes(out)


def test_corrupted_output_counts_in_error_rate(tmp_path):
    fx = fixtures.write_savepoint_fixture(str(tmp_path / "sp"), 3, SMALL["savepoint_transform"])
    st = fixtures.savepoint_states(3, SMALL["savepoint_transform"])
    # the fixture itself is the correct output of an empty delta
    fx["expected"]["Count"] = fixtures.rows_digest(st["Count"])
    with open(tmp_path / "sp" / "_bravo_operator_state", "w") as f:
        json.dump({"version": 1, "subtasks": fx["operator_state"]}, f)
    wl = _CopyJob(SavepointTransform(), str(tmp_path / "sp"))
    good = run._run_job(wl, None, fx, str(tmp_path / "out-good"), tracing.NullTracer())
    assert good[1] is True

    meta = json.loads((tmp_path / "sp" / "_bravo_metadata").read_text())
    meta["compression"] = False  # tell the reader not to unframe: rows decode wrong
    (tmp_path / "sp" / "_bravo_metadata").write_text(json.dumps(meta))
    runs = run._loop(wl, None, fx, str(tmp_path), 0, t_process=float("inf"))
    assert run.tally(runs) == (run.MIN_JOBS, run.MIN_JOBS)


def test_corrupted_results_fail_checks():
    ck = CheckpointScan()
    fx = {"expected": (10, 55, 99)}
    assert ck.check(fx, None, (10, 55, 99)) and not ck.check(fx, None, (10, 55, 98))
    sh = ShardRoundtrip()
    exp = {"n": 2, "bytes": 9, "payload": 77, "label": {"uri": 1, "key": 2, "name": 3, "id": 4}}
    labels = {"warc": "uri", "tfrecord": None, "webdataset": "key", "zip": "name", "avro": "id"}
    good = {f: ((2, 9, 77, exp["label"].get(l) if l else None), l) for f, l in labels.items()}
    assert sh.check({"expected": exp}, None, good)
    bad = dict(good, zip=((2, 9, 78, 3), "name"))
    assert not sh.check({"expected": exp}, None, bad)


@pytest.mark.skipif(not os.environ.get("PERFBENCH_E2E"), reason="set PERFBENCH_E2E=1: starts Spark, takes minutes")
@pytest.mark.parametrize("trace", [0, 1])
def test_end_to_end_output_matches_benchmark_json(trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "checkpoint_scan", "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    key = "per_layer" if trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in _benchmark_json()[key]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == declared
