#!/usr/bin/env python3
"""bravo_spark benchmark: one workload, one fresh process, one closed-loop client.

    python3 perfbench/run.py --workload savepoint_transform --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer metrics (see perfbench/README.md).
``--workload all`` runs every workload, each in its own process. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_JOBS = 3
DEADLINE_S = 150  # stop starting new jobs after this much wall time

END_TO_END = {"job_s_p50": "s", "mb_per_s": "MB/s", "setup_s": "s", "peak_rss_mb": "MB"}
SETUP_REPEATS = 3
WARMUP_JOBS = 2  # after one, the first timed job still ran ~30% slow
TRACE_ORDER = (True, False)  # traced then untraced job, repeated in a traced run
DRIVER_MEM = "2g"  # the session factory's default (8g) is sized for bigger hosts


def _pin_code_under_test() -> str:
    """Put this checkout first on the import path of the Spark driver and of every
    Spark Python worker; return the imported package directory."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    try:
        import bravo_spark
    except ImportError as exc:
        sys.exit(f"perfbench: cannot import bravo_spark from {ROOT}: {exc}")
    pkg = os.path.dirname(os.path.abspath(bravo_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        sys.exit(f"perfbench: imported bravo_spark from {pkg}, not from the checkout {ROOT}")
    return pkg


def _git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or None


def _worker_package(batches):
    import pandas as pd

    import bravo_spark

    for _ in batches:
        pass
    yield pd.DataFrame({"pkg": [os.path.dirname(os.path.abspath(bravo_spark.__file__))]})


def _cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


class Session:
    """The Spark session of one run: launch settings that keep every file
    inside the run's work directory (and, for a traced run, turn the event
    log on), and a shutdown that waits for the JVM and the Python workers
    to exit."""

    def __init__(self, work: str, event_log: str | None = None):
        self.cpus = len(os.sched_getaffinity(0))
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["BRAVO_SPARK_DRIVER_MEM"] = DRIVER_MEM
        # every JVM of the run (launcher and driver): temp files in the
        # work directory, no hsperfdata under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        if event_log is not None:
            os.makedirs(event_log, exist_ok=True)
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
        ) + " pyspark-shell"
        self.spark = None

    def start(self):
        from bravo_spark.session import get_spark

        self.spark = get_spark(master=f"local[{self.cpus}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def check_workers(self, pkg: str) -> None:
        """Refuse to run unless the Arrow Python workers, which run the
        library's code, import the same package as the Spark driver."""
        df = self.spark.range(0, self.cpus, numPartitions=self.cpus)
        seen = {r.pkg for r in df.mapInPandas(_worker_package, "pkg string").collect()}
        if seen != {pkg}:
            raise SystemExit(f"perfbench: Python workers import bravo_spark from {sorted(seen)}, driver from {pkg}")

    def shutdown(self) -> None:
        from pyspark import SparkContext

        from tracing import descendants

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        kids = descendants(os.getpid())
        gw.shutdown()
        proc = gw.proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + 30
        while kids and time.time() < deadline:
            kids = [p for p in kids if _alive(p)]
            time.sleep(0.1)
        for p in kids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _run_job(wl, spark, fx, out, tr) -> tuple[float, bool, int | None]:
    """One timed job, then (outside the timing) its output check, the
    bytes it wrote, and removal of its output."""
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    try:
        result = wl.job(spark, fx, out, tr)
    except Exception as exc:  # a failed job is counted, not fatal
        print(f"job failed: {type(exc).__name__}: {exc}", file=sys.stderr)
        return time.perf_counter() - t0, False, None
    dt = time.perf_counter() - t0
    try:
        ok = wl.check(fx, out, result)
    except Exception as exc:
        print(f"output check failed: {type(exc).__name__}: {exc}", file=sys.stderr)
        ok = False
    written = wl.out_bytes(out)
    shutil.rmtree(out, ignore_errors=True)
    return dt, ok, written


def tally(runs) -> tuple[int, int]:
    """(attempted, failed): a job fails by raising or by a failed output check."""
    return len(runs), sum(1 for r in runs if not r[1])


def _loop(wl, spark, fx, work, seconds, t_process, rss=None) -> list:
    """Closed loop: submit jobs back to back for ``seconds`` (at least
    MIN_JOBS). Returns per-job (seconds, ok, bytes written); ``rss`` gets
    one sampling window per job."""
    from tracing import NullTracer

    runs = []
    t_start = time.perf_counter()
    while (time.perf_counter() - t_start < seconds or len(runs) < MIN_JOBS) and (
        not runs or time.perf_counter() - t_process < DEADLINE_S
    ):
        if rss is not None:
            rss.window()
        runs.append(_run_job(wl, spark, fx, os.path.join(work, f"out-{len(runs)}"), NullTracer()))
    return runs


def run_untraced(wl, work, seed, seconds, pkg, t_process) -> dict:
    from tracing import NullTracer, RssSampler

    sess = Session(work)
    try:
        t0 = time.perf_counter()
        spark = sess.start()
        sess.check_workers(pkg)
        session_s = time.perf_counter() - t0
        fixture_s = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            fx = wl.setup(spark, os.path.join(work, f"fixture-{i}"), seed)
            fixture_s.append(time.perf_counter() - t0)
        warm = [_run_job(wl, spark, fx, os.path.join(work, "warmup"), NullTracer()) for _ in range(WARMUP_JOBS)]
        steal0 = _cpu_ticks()
        with RssSampler() as rss:
            runs = _loop(wl, spark, fx, work, seconds, t_process, rss)
        steal1 = _cpu_ticks()
    finally:
        sess.shutdown()
    times = [r[0] for r in runs]
    attempted, failed = tally(runs)
    written = [r[2] for r in runs if r[2] is not None]
    return {
        "correct": failed == 0 and all(w[1] for w in warm),
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "job_s_p50": statistics.median(times),
            "mb_per_s": fx["logical_bytes"] * len(runs) / sum(times) / 1e6,
            "setup_s": session_s + statistics.median(fixture_s) + sum(w[0] for w in warm),
            "peak_rss_mb": statistics.median(rss.peaks) / 1e6,
        },
        "info": {
            "jobs": len(runs),
            "job_s": times,
            "error_rate": failed / attempted,
            "bytes_out_ratio": statistics.median(written) / fx["logical_bytes"] if written else None,
            "setup_parts_s": {"session": session_s, "fixture": fixture_s, "warmup": [w[0] for w in warm]},
            "cpu_steal_pct": 100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        },
    }


def _alternate(wl, spark, fx, work, tr, traced_job: bool, plain: list, traced: list) -> None:
    from tracing import NullTracer

    i = len(plain) + len(traced)
    out = os.path.join(work, f"out-{i}")
    if traced_job:
        tr.job = f"traced-{i}"
        spark.sparkContext.setJobGroup(tr.job, tr.job)
        traced.append(_run_job(wl, spark, fx, out, tr))
    else:
        spark.sparkContext.setJobGroup(f"untraced-{i}", "untraced")
        plain.append(_run_job(wl, spark, fx, out, NullTracer()))


def run_traced(wl, work, seed, seconds, pkg, out_dir) -> dict:
    """With the event log on: traced and untraced jobs alternated for
    ``seconds`` (at least one TRACE_ORDER round) for the engine counters
    and the tracing overhead, then the layer probes of all three workloads,
    each on its own workload's fixture, and the Spark-free codec rates."""
    import codecbench
    from tracing import NullTracer, Tracer, job_group_counters, read_event_log
    from workloads import SIZES, WORKLOADS

    event_log = os.path.join(work, "eventlog")
    sess = Session(work, event_log)
    tr = Tracer()
    m: dict[str, float] = {}
    plain, traced = [], []
    try:
        t0 = time.perf_counter()
        spark = sess.start()
        sess.check_workers(pkg)
        m["session.start_s"] = time.perf_counter() - t0
        fxs = {name: w.setup(spark, os.path.join(work, f"fixture-{name}"), seed) for name, w in WORKLOADS.items()}
        fx = fxs[wl.name]
        for _ in range(WARMUP_JOBS):
            _run_job(wl, spark, fx, os.path.join(work, "warmup"), NullTracer())
        t_start = time.perf_counter()
        while not traced or time.perf_counter() - t_start < seconds:
            for traced_job in TRACE_ORDER:
                _alternate(wl, spark, fx, work, tr, traced_job, plain, traced)
        for name, w in WORKLOADS.items():
            tr.job = f"probe-{name}"
            spark.sparkContext.setJobGroup(tr.job, tr.job)
            with tr.span(f"probes.{name}"):
                m.update(w.probes(spark, fxs[name], os.path.join(work, f"probe-{name}"), tr))
        tr.job = "codecs"
        with tr.span("codecs"):
            m.update(codecbench.all_codecs(seed, SIZES, work))
    finally:
        sess.shutdown()
    events = read_event_log(event_log)
    jobs = [s for s in tr.named("job") if s.job and s.job.startswith("traced-")]
    per_job = [job_group_counters(events, s.job, s.start, s.end) for s in jobs]
    for key in per_job[0]:
        m[key] = statistics.median(c[key] for c in per_job)
    m["trace.overhead_pct"] = 100 * (statistics.median(r[0] for r in traced) / statistics.median(r[0] for r in plain) - 1)
    os.makedirs(out_dir, exist_ok=True)
    tr.write(os.path.join(out_dir, f"trace-{wl.name}-seed{seed}.json"))
    attempted, failed = tally(plain + traced)
    info = {"untraced_job_s": [r[0] for r in plain], "traced_job_s": [r[0] for r in traced]}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": m, "info": info}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_process = time.perf_counter()

    if args.workload == "all":
        return _run_all(args)
    pkg = _pin_code_under_test()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)} or 'all'")
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.trace:
            res = run_traced(wl, work, args.seed, args.seconds, pkg, os.path.join(ROOT, ".perfbench_out"))
            units = _per_layer_units()
        else:
            res = run_untraced(wl, work, args.seed, args.seconds, pkg, t_process)
            units = END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {wl.name}  seed {args.seed}  trace {args.trace}  commit {_git_commit()}  bravo_spark {pkg}")
    for k, v in res["metrics"].items():
        print(f"  {k:<40} {v:>14.4f} {units[k]}")
    info = res["info"]
    if args.trace:
        print(f"  untraced job s {info['untraced_job_s']}  traced job s {info['traced_job_s']}")
    else:
        print(f"  {'jobs':<40} {info['jobs']:>14d}   job s {[round(t, 3) for t in info['job_s']]}")
        print(f"  {'error_rate':<40} {info['error_rate']:>14.4f} ratio")
        bor = info["bytes_out_ratio"]
        print(f"  {'bytes_out_ratio':<40} {'n/a' if bor is None else f'{bor:.4f}':>14} ratio")
        print(f"  {'cpu_steal_pct (host, while timing)':<40} {info['cpu_steal_pct']:>14.1f} %")
    missing = set(units) - set(res["metrics"])
    if missing:
        sys.exit(f"perfbench: metrics not produced: {sorted(missing)}")
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": res["metrics"][k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


def _per_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _run_all(args) -> int:
    """Every workload, each in a fresh process, one after another."""
    from workloads import WORKLOADS

    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        rc |= subprocess.run(cmd).returncode
    return rc


if __name__ == "__main__":
    sys.exit(main())
