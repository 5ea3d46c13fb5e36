"""Closed-loop benchmark of the engine: one client, one call at a time, on
``local[<cpus>]`` with every core of the host.

    python3 perfbench/run.py --workload registry_sf001 --seed 1 --seconds 15 --trace 0

A run:

1. generates the workload's inputs from ``--seed`` into a private run
   directory (untimed);
2. sets up: starts the session, scans every input once, then makes one
   warm-up pass that collects every call's result and
   ``NOOP_WARMUP_PASSES`` more that force each result through the noop
   sink, as the timed passes do. The
   collected results are checked against the DuckDB oracles (registry
   calls) or pandas (kernel calls); the check is untimed and excluded
   from ``setup_s``;
3. measures: makes timed passes until ``--seconds`` have gone by, and
   at least ``MIN_PASSES``, so that a median has more than one sample. Each
   call is timed from the call into the program to the end of the noop
   sink write that forces its result; query-scoped caches are released
   after every call, and the SQL cache manager must then be empty;
4. prints, as the last stdout line, ``{"correct", "attempted", "failed",
   "metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
   metrics with ``--trace 1``. A traced run also enables the Spark event
   log and attributes it to the spans of each call (``eventlog.py``).
   A run in which any call raised or gave a wrong result prints no
   result and exits 1: the timings of the calls that still work must not
   read as a speed-up.

Per-call latencies and, when traced, per-call layer counters go to a side
profile under ``.perfbench/profiles/``. The run directory (inputs,
TMPDIR, Spark local dirs, event log) is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench")

from eventlog import Span, attribute, read_events  # noqa: E402

try:  # the workloads import the engine package and the repository's tests
    from workloads import WORKLOADS  # noqa: E402
except ImportError as e:
    raise SystemExit(f"perfbench: the engine package or its tests are missing: {e}")

MIN_PASSES = 2
NOOP_WARMUP_PASSES = 3

# end-to-end metrics (--trace 0) and per-layer metrics (--trace 1), with units
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_geomean_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.scan_file_bytes": "bytes",
    "sources.input_records": "count",
    "sources.tmp_bytes_left": "bytes",
    "driver.build_s": "s",
    "driver.build_self_s": "s",
    "driver.build_jobs": "count",
    "operators.exec_s": "s",
    "operators.exec_self_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.task_run_s": "s",
    "operators.task_cpu_s": "s",
    "operators.cpu_ratio": "ratio",
    "operators.gc_s": "s",
    "operators.spill_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.sched_delay_s": "s",
    "operators.result_bytes": "bytes",
    "operators.failed_tasks": "count",
    "streaming.batches": "count",
    "cachelife.release_s": "s",
    "cachelife.rdds_left": "count",
    "trace.span_coverage": "ratio",
    "trace.pass_wall_s": "s",
}


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end(setup_s: float, pass_walls: list[float],
               latency: dict[str, list[float]]) -> dict[str, float]:
    """``wall_s`` is the median pass wall; ``query_geomean_s`` the geometric
    mean over calls of each call's median latency."""
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(pass_walls),
        "query_geomean_s": geomean([statistics.median(v) for v in latency.values()]),
    }


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Run:
    """One benchmark run: its private directories, its Spark session and
    everything it measures."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = WORKLOADS[workload]
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.dir = tempfile.mkdtemp(prefix=f"run-{workload}-", dir=WORK_ROOT)
        self.data_dir = os.path.join(self.dir, "data")
        self.tmp_dir = os.path.join(self.dir, "tmp")
        self.log_dir = os.path.join(self.dir, "eventlog")
        self.attempted = self.failed = 0
        self.errors: dict[str, str] = {}
        self.spans: list[Span] = []
        self.pass_walls: list[float] = []
        self.latency: dict[str, list[float]] = {}
        self.tmp_growth: list[int] = []
        self.rdds_left: list[int] = []
        self.spark = None
        self.peak_rss_mb = None
        self.session_s = self.scan_s = None
        self.warmup_s: dict[str, float] = {}
        self.per_pass: list[dict] | None = None

    # ---------------------------------------------------------- environment

    def isolate(self) -> None:
        """Private TMPDIR, Spark local dirs and warehouse; the package on the
        Python workers' path; the session sized to this host's cores. Must
        run before the JVM starts."""
        local = os.path.join(self.dir, "spark-local")
        for d in (self.tmp_dir, local, self.log_dir):
            os.makedirs(d)
        os.environ["TMPDIR"] = self.tmp_dir
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            # no hsperfdata file in the host's /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp_dir} -XX:-UsePerfData",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + self.log_dir,
            })
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"

    # ---------------------------------------------------------- the calls

    def release(self) -> None:
        """Free query-scoped caches; the SQL cache manager must be empty."""
        from pandas_rust_algos_spark import cachelife

        cachelife.release()
        if not self.spark._jsparkSession.sharedState().cacheManager().isEmpty():
            raise RuntimeError("SQL cache manager not empty after cachelife.release()")

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.errors.setdefault(name, why[-500:])

    def setup(self, calls) -> float:
        """Session start, one scan per input, and the warm-up pass that
        collects and checks every call. Returns setup_s."""
        from pandas_rust_algos_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.workload.scan(self.spark, self.data_dir)
        self.scan_s = time.perf_counter() - t0 - self.session_s
        check_s = 0.0
        for call in calls:
            self.attempted += 1
            w0 = time.perf_counter()
            try:
                got = call.build().toPandas()
                self.release()
            except Exception as e:  # a failing call is counted, the run goes on
                self.fail(call.name, repr(e))
                continue
            c0 = time.perf_counter()
            self.warmup_s[call.name] = c0 - w0
            mismatch = call.check(got)
            check_s += time.perf_counter() - c0
            if mismatch:
                self.fail(call.name, mismatch)
        # more warm-up passes down the timed path: with one, the first two
        # timed kernel passes still ran 15-45% slower than the later ones,
        # and the median then depended on how far the JIT had got
        for _ in range(NOOP_WARMUP_PASSES):
            for call in calls:
                self.attempted += 1
                try:
                    call.build().write.format("noop").mode("overwrite").save()
                    self.release()
                except Exception as e:  # counted, as in a timed pass
                    self.fail(call.name, repr(e))
        return time.perf_counter() - t0 - check_s

    def timed_pass(self, calls, pass_no: int) -> None:
        from pandas_rust_algos_spark import cachelife

        tmp_before = _dir_bytes(self.tmp_dir)
        p0 = time.perf_counter()
        for call in calls:
            self.attempted += 1
            marks = [(time.perf_counter(), time.time())]
            try:
                df = call.build()
                marks.append((time.perf_counter(), time.time()))
                df.write.format("noop").mode("overwrite").save()
                marks.append((time.perf_counter(), time.time()))
                self.release()
                marks.append((time.perf_counter(), time.time()))
            except Exception as e:  # counted; the pass goes on to the next call
                self.fail(call.name, repr(e))
                cachelife.release()
                continue
            self.latency.setdefault(call.name, []).append(marks[2][0] - marks[0][0])
            for kind, (_, a), (_, b) in zip(("build", "exec", "release"), marks, marks[1:]):
                self.spans.append(Span(kind, call.name, pass_no, a * 1000, b * 1000))
            if self.trace:
                self.rdds_left.append(
                    self.spark.sparkContext._jsc.getPersistentRDDs().size())
        self.pass_walls.append(time.perf_counter() - p0)
        self.tmp_growth.append(_dir_bytes(self.tmp_dir) - tmp_before)

    # ---------------------------------------------------------- the run

    def execute(self) -> dict | None:
        """The run; its result, or None when a call failed."""
        self.isolate()
        from pyspark import SparkContext

        self.workload.make_inputs(self.data_dir, self.seed)
        calls = self.workload.calls(lambda: self.spark, self.data_dir, self.seed)
        try:
            setup_s = self.setup(calls)
            start = time.perf_counter()
            pass_no = 0
            while pass_no < MIN_PASSES or time.perf_counter() - start < self.seconds:
                self.timed_pass(calls, pass_no)
                pass_no += 1
            # peak RSS of this process and the driver JVM; profile only, as
            # it moved by up to 30% between runs of one seed
            self.peak_rss_mb = (_peak_rss_kb(os.getpid()) + _peak_rss_kb(
                SparkContext._gateway.proc.pid)) / 1024.0
        finally:
            self.stop()
        if self.failed:
            self.write_profile(None)
            return None
        if self.trace:
            metrics, units = self.layer_metrics(), PER_LAYER
        else:
            metrics = end_to_end(setup_s, self.pass_walls, self.latency)
            units = END_TO_END
        result = {
            "correct": True,
            "attempted": self.attempted,
            "failed": 0,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        self.write_profile(result)
        return result

    def layer_metrics(self) -> dict:
        """Per-layer totals of each timed pass, attributed from the event
        log; each metric is the median over the passes."""
        attribute(read_events(self.log_dir), self.spans)
        self.per_pass = per_pass = []
        for p, wall in enumerate(self.pass_walls):
            spans = [s for s in self.spans if s.pass_no == p]
            total = {k: sum(s.stats[k] for s in spans) for k in spans[0].stats}
            by_kind = {k: [s for s in spans if s.kind == k]
                       for k in ("build", "exec", "release")}

            def secs(kind: str, attr: str = "duration_ms") -> float:
                return sum(getattr(s, attr) for s in by_kind[kind]) / 1000.0

            per_pass.append({
                "sources.scan_file_bytes": total["scan_file_bytes"],
                "sources.input_records": total["input_records"],
                "sources.tmp_bytes_left": self.tmp_growth[p],
                "driver.build_s": secs("build"),
                "driver.build_self_s": secs("build", "self_ms"),
                "driver.build_jobs": sum(s.stats["jobs"] for s in by_kind["build"]),
                "operators.exec_s": secs("exec"),
                "operators.exec_self_s": secs("exec", "self_ms"),
                "operators.jobs": sum(s.stats["jobs"] for s in by_kind["exec"]),
                "operators.stages": total["stages"],
                "operators.tasks": total["tasks"],
                "operators.task_run_s": total["task_run_ms"] / 1000.0,
                "operators.task_cpu_s": total["task_cpu_ms"] / 1000.0,
                "operators.cpu_ratio": total["task_cpu_ms"] / max(1.0, total["task_run_ms"]),
                "operators.gc_s": total["gc_ms"] / 1000.0,
                "operators.spill_bytes": total["spill_bytes"],
                "operators.shuffle_write_bytes": total["shuffle_write_bytes"],
                "operators.shuffle_read_bytes": total["shuffle_read_bytes"],
                "operators.sched_delay_s": total["sched_delay_ms"] / 1000.0,
                "operators.result_bytes": total["result_bytes"],
                "operators.failed_tasks": total["failed_tasks"],
                "streaming.batches": total["stream_batches"],
                "cachelife.release_s": secs("release"),
                "trace.span_coverage": sum(s.duration_ms for s in spans) / 1000.0 / wall,
            })
        out = {k: statistics.median(row[k] for row in per_pass) for k in per_pass[0]}
        out["session.start_s"] = self.session_s
        out["sources.scan_s"] = self.scan_s
        out["cachelife.rdds_left"] = max(self.rdds_left)
        out["trace.pass_wall_s"] = statistics.median(self.pass_walls)
        return out

    def write_profile(self, result: dict | None) -> None:
        """Per-call detail beside the result line: latency samples, and in a
        traced run the phase times and counters of every call."""
        calls = {}
        for name, samples in self.latency.items():
            calls[name] = {"n": len(samples), "median_s": statistics.median(samples),
                           "max_s": max(samples), "samples_s": samples}
        if self.trace:
            for s in self.spans:
                c = calls[s.call].setdefault(s.kind, {
                    "s": 0.0, "self_s": 0.0, **dict.fromkeys(s.stats, 0)})
                c["s"] += s.duration_ms / 1000.0
                c["self_s"] += s.self_ms / 1000.0
                for k, v in s.stats.items():
                    c[k] += v
        profile = {
            "workload": self.workload.name, "seed": self.seed, "trace": self.trace,
            "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "passes": len(self.pass_walls), "pass_walls_s": self.pass_walls,
            "peak_rss_mb": self.peak_rss_mb,
            "session_s": self.session_s, "scan_s": self.scan_s, "warmup_s": self.warmup_s,
            "errors": self.errors, "result": result, "calls": calls,
            "per_pass": self.per_pass,
        }
        out = os.path.join(WORK_ROOT, "profiles")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(
            out, f"{self.workload.name}-seed{self.seed}-trace{int(self.trace)}.json")
        with open(path, "w") as f:
            json.dump(profile, f, indent=1)

    def stop(self) -> None:
        """Stop the session and wait for the JVM, and with it the Python
        workers, to end."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    os.makedirs(WORK_ROOT, exist_ok=True)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = run.execute()
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    for name, why in run.errors.items():
        print(f"perfbench: {name} failed: {why}", file=sys.stderr)
    if result is None:
        print(f"perfbench: {run.failed} of {run.attempted} calls failed; no result",
              file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
