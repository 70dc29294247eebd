"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Everything the run writes goes under
``.perfbench_work/<workload>/`` there.  The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The lines before it echo the session
configuration, each check, and the workload's own figures by name and
unit.  See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.spans import Tracer  # noqa: E402
from perfbench.sysmon import RssSampler, descendants, exec_metrics  # noqa: E402
from perfbench.workloads import WORKLOADS, DrainAndQuery  # noqa: E402

# Set-ups per run, each on a newly launched JVM; setup_s is their median.
SETUPS = 3
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "latency_ms": "ms",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
    "cpu_ms_per_op": "ms",
}

SPAN_NAMES = (
    "drain.job1", "drain.job2", "drain.job3", "paced.run",
    "query.plan", "query.exec", "io.write_parquet",
)

PER_LAYER = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    "stream.add_batch_ms_p50": "ms",
    "stream.rows_per_batch_p50": "rows",
    "stream.latest_offset_ms_p50": "ms",
    "stream.planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.commit_offsets_ms_p50": "ms",
    "stream.state_commit_ms_p50": "ms",
    "stream.state_rows": "rows",
    "stream.state_bytes": "bytes",
    "stream.batches": "count",
    "stream.backlog_files_slope": "files/s",
    "io.write_s": "s",
    "io.bytes_written": "bytes",
    "io.files_written": "count",
    "io.plan_s": "s",
    "io.scan_bytes": "bytes",
    "raw_text.rows_in": "rows",
    "raw_text.rows_out": "rows",
    "exec.cpu_s": "s",
    "exec.run_s": "s",
    "exec.gc_s": "s",
    "exec.tasks": "count",
    "exec.task_skew": "ratio",
    "exec.spill_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.precision": "ratio",
    "ann.probe_s": "s",
    "ann.recall_at_k": "ratio",
    "cache.fill_s": "s",
    "cache.bytes": "bytes",
    "gen.lag_max_ms": "ms",
    "gen.files": "count",
    "gen.rows": "rows",
    "drain.core_scaling": "ratio",
    "trace.overhead_pct": "%",
    **{f"self.{n}_s": "s" for n in SPAN_NAMES},
    **{f"query.{n}_s": "s" for n in DrainAndQuery.QUERIES + (DrainAndQuery.KEEP_LIST,)},
}


class Run:
    """State shared by the phases of one run."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.root = ROOT
        self.work = os.path.join(ROOT, ".perfbench_work", workload)
        self.seed, self.seconds = seed, seconds
        self.tracer = Tracer()
        self.trace = trace
        self.spark = None
        self.checks_attempted = self.checks_failed = 0

    def fresh(self, *parts: str) -> str:
        """An empty path under the work directory (removed if present,
        parent created)."""
        path = os.path.join(self.work, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @staticmethod
    def jvm_pid() -> int:
        """The driver JVM's process id; the Python workers run below it."""
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid  # noqa: SLF001

    @staticmethod
    def log(msg: str) -> None:
        log(msg)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks_attempted += 1
        self.checks_failed += not ok
        log(f"check {'ok  ' if ok else 'FAIL'} {name} {detail}".rstrip())

    def build(self, cpus: int | None = None, fresh: bool = True) -> float:
        """Build the engine session, on a newly launched JVM unless
        ``fresh`` is false; returns the build time."""
        from flink_s3_read_write_spark.session import build_session

        if fresh:
            _stop_jvm(self)
        elif self.spark is not None:
            self.spark.stop()
        tmp = self.path("tmp")
        t = time.perf_counter()
        self.spark = build_session(
            "perfbench",
            cpus=cpus,
            extra_conf={
                "spark.sql.warehouse.dir": self.path("warehouse"),
                # The heap starts at its maximum: grown on demand, its
                # resizing made peak_rss_mb swing by 25% from run to run.
                # Derby stands in for the serving database; its log is not
                # forced to disk, so a shared disk's flush latency does
                # not swamp the sink's own cost.
                "spark.driver.extraJavaOptions": (
                    f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -Dderby.system.home={self.work} "
                    f"-Dderby.stream.error.file={self.path('derby.log')} "
                    "-Dderby.system.durability=test"
                ),
                "spark.driver.host": "localhost",
                "spark.driver.bindAddress": "127.0.0.1",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
            },
        )
        build_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        return build_s


def log(msg: str) -> None:
    print(msg, flush=True)


def _configure_env(work: str, trace: bool) -> None:
    """Session settings the engine reads from the environment: all the
    box's cores, a driver heap sized to a small shared box (the engine
    defaults to 48g), the UI only for the traced run, and every scratch
    file under the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_UI"] = "true" if trace else "false"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # the JVMs' performance-data files would go to /tmp, outside the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def _stop_jvm(run: Run) -> None:
    """Stop the session and the JVM it launched; the next session build
    launches a new one."""
    from pyspark import SparkContext

    if run.spark is not None:
        run.spark.stop()
        run.spark = None
    gw = SparkContext._gateway  # noqa: SLF001
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001


def _stop_engine(run: Run) -> None:
    """Stop the session and its JVM, and wait for every process this run
    started to end."""
    _stop_jvm(run)
    deadline = time.time() + 20
    while len(descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "flink_s3_read_write_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(run.work, ignore_errors=True)
    _configure_env(run.work, run.trace)
    wl = WORKLOADS[args.workload]()
    try:
        t = time.perf_counter()
        wl.generate(run)
        log(f"inputs generated in {time.perf_counter() - t:.3f} s (untimed)")
        t = time.perf_counter()
        setup_s = [run.build() for _ in range(SETUPS)]
        log(f"{SETUPS} set-ups with JVM stops took {time.perf_counter() - t:.3f} s")
        t = time.perf_counter()
        run.spark.range(1).collect()
        first_s = time.perf_counter() - t
        sc = run.spark.sparkContext
        log(f"session master={sc.master} defaultParallelism={sc.defaultParallelism} "
            f"shuffle.partitions={run.spark.conf.get('spark.sql.shuffle.partitions')} "
            f"driver.memory={DRIVER_MEM}")
        log(f"setup_s samples (session build on a new JVM) {[round(s, 3) for s in setup_s]}, "
            f"then first action {first_s:.3f} s")
        t = time.perf_counter()
        wl.prepare(run)
        log(f"warm-up and checks took {time.perf_counter() - t:.3f} s (untimed)")
        # Memory (and, in the workloads, CPU) of the engine alone: the
        # driver JVM and the Python workers below it, not this harness.
        with RssSampler(run.jvm_pid()) as rss:
            m = wl.measure(run, args.seconds)
        attempted, failed = m.attempted, m.failed
        if run.trace:
            run.tracer.enabled = True
            mt = wl.measure(run, args.seconds)
            run.tracer.enabled = False
            layer = dict.fromkeys(PER_LAYER, 0.0)
            layer.update(wl.layer_metrics(run))
            layer["session.build_s"] = statistics.median(setup_s)
            layer["session.warmup_s"] = first_s
            by_name = run.tracer.self_time_by_name()
            for n in SPAN_NAMES:
                layer[f"self.{n}_s"] = by_name.get(n, 0.0)
            time.sleep(1.0)  # let the UI's listener catch up
            layer.update(exec_metrics(sc.uiWebUrl, sc.applicationId, run.tracer.groups()))
            # The engine still speeds up from one measurement to the next,
            # so the traced one is compared with an untraced one on either
            # side of it.
            m2 = wl.measure(run, args.seconds)
            log(f"latency_ms untraced {m.latency_ms:.1f}, traced {mt.latency_ms:.1f}, "
                f"untraced again {m2.latency_ms:.1f}")
            layer["trace.overhead_pct"] = 100 * (
                mt.latency_ms / statistics.geometric_mean([m.latency_ms, m2.latency_ms]) - 1)
            for x in (mt, m2):
                attempted, failed = attempted + x.attempted, failed + x.failed
            if hasattr(wl, "core_scaling"):
                layer["drain.core_scaling"] = wl.core_scaling(run)
            trace_file = run.path("trace.json")
            run.tracer.write(trace_file)
            log(f"trace spans written to {os.path.relpath(trace_file, ROOT)}")
        attempted += run.checks_attempted
        failed += run.checks_failed
        log(f"{args.workload}: {m.attempted} operations, {m.work:g} work units "
            f"in {m.busy_s:.3f} s")
        figures = {
            "setup_s": (statistics.median(setup_s), "s"),
            "latency_ms": (m.latency_ms, "ms"),
            "throughput_per_s": (m.throughput, "1/s"),
            "peak_rss_mb": (rss.peak_bytes / 2**20, "MB"),
            "cpu_ms_per_op": (m.cpu_s * 1e3 / m.ops, "ms"),
            **m.detail,
            "failed_ratio": (failed / attempted if attempted else 0.0, "ratio"),
        }
        for name, (v, unit) in figures.items():
            log(f"metric {name} = {v:.6g} {unit}")
        if run.trace:
            metrics = {n: _metric(layer[n], u) for n, u in PER_LAYER.items()}
        else:
            metrics = {n: _metric(figures[n][0], u) for n, u in END_TO_END.items()}
    finally:
        _stop_engine(run)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
