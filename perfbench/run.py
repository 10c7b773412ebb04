"""Benchmark of record for etl_jetro_spark.

    python3 perfbench/run.py --workload supplier_day --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one client, closed loop: the
next op starts when the previous one (and its untimed output check) is
done. Inputs are generated from ``--seed`` before any timing. The run

1. sets up once: starts the JVM and the Spark session and runs one
   warm-up op of the workload's first op kind. ``setup_s`` is the time from
   process start until that op is done, less the input generation;
2. runs the remaining op kinds of the first cycle untimed, so every code
   path is warm;
3. runs whole cycles of the workload's op kinds until ``--seconds`` of
   wall time have passed and at least ``MIN_CYCLES`` were measured. With
   ``--trace 1`` every op runs twice, traced and untraced in alternating
   order, so the tracing overhead is the traced vs untraced op median;
4. stops the session and waits until the JVM and every process it
   started have exited.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``. Every file the run writes lives under
``.bench_work/`` in the working directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# One cycle of a seven- or eight-kind mix still sits on the JIT warm-up slope, and its
# median swings with the order of the middle kinds.
MIN_CYCLES = 2
PR_SET_CHILD_SUBREAPER = 36
EXIT_WAIT_S = 60


def _percentile_tail(lat: list[float]) -> tuple[float, float]:
    """(latency, percentile) at the highest percentile with at least ten
    samples beyond it; the median when fewer than 21 samples exist, since
    no such percentile then lies above it."""
    n = len(lat)
    if n < 21:
        return statistics.median(lat), 50.0
    return sorted(lat)[n - 11], 100.0 * (n - 10) / n


def _process_start() -> float:
    """The ``time.perf_counter()`` reading at this process's start (10 ms
    resolution: /proc counts clock ticks since boot)."""
    with open("/proc/self/stat") as fh:
        # starttime is field 22; the fields after the command name start at 3
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _environment(work: str) -> None:
    """Keep every file inside the work dir and the Spark task threads
    within this machine's CPUs; make the repo importable in Spark's Python
    workers."""
    root = os.path.dirname(HERE)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    requested = int(os.environ.get("SPARK_GRAFT_CPUS", cpus))
    os.environ.update({
        "TMPDIR": tmp,
        # both JVMs (spark-submit's launcher and the driver): temp files in
        # the work dir, and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(max(1, min(cpus, requested))),
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    })
    sys.path[:0] = [root, HERE]


def _session(work: str):
    from etl_jetro_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )


def _shutdown(spark) -> None:
    """Stop the session and the JVM, then wait for every process the run
    started. The JVM exits when its stdin closes; the Python workers it
    forked exit when it does and, orphaned, are re-parented to this process
    (a child subreaper, see :func:`main`), which reaps them here."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=EXIT_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _reap_children(time.monotonic() + EXIT_WAIT_S)


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                # the ppid follows the parenthesised command name
                if fh.read().rsplit(")", 1)[1].split()[1] == me:
                    out.append(int(pid))
        except (OSError, IndexError):
            pass  # exited while listed
    return out


def _reap_children(deadline: float) -> None:
    """Wait for every child to exit; kill those still alive at ``deadline``."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class Harness:
    def __init__(self, workload) -> None:
        from spans import Tracer

        self.w = workload
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.next_id = 0

    def run_op(self, timed: list[tuple[float, bool]] | None, traced: bool = False) -> None:
        """One op: timed, then checked and reset outside the timing.
        Appends (latency, passed) to ``timed``."""
        from spans import install_layer_spans, spark_op_counters

        i = self.next_id
        self.next_id += 1
        spark = self.w.spark
        t = self.tracer
        if traced:
            install_layer_spans(t)
            t.enabled = True
            t.op_id = i
            spark.sparkContext.setJobGroup(f"op-{i}", "perfbench op")
        wall0 = time.time()
        t0 = time.perf_counter()
        result, ok = None, True
        try:
            with t.span("op"):
                result = self.w.op(i, t)
        except Exception as e:  # an op that raises counts as failed
            print(f"op {i} raised {type(e).__name__}: {e}", file=sys.stderr)
            ok = False
        dt = time.perf_counter() - t0
        wall1 = time.time()
        if traced:
            t.enabled = False
            t.restore()
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            for k, v in spark_op_counters(
                spark, f"op-{i}", int(wall0 * 1000), int(wall1 * 1000)
            ).items():
                t.count(k, v)
            t.count("traced_ops", 1)
        try:
            ok = ok and self.w.check(i, result)
        except Exception as e:
            print(f"check {i} raised {type(e).__name__}: {e}", file=sys.stderr)
            ok = False
        self.w.reset(i)
        self.attempted += 1
        self.failed += 0 if ok else 1
        if not ok:
            print(f"op {i} ({self.w.kinds[i % len(self.w.kinds)]}) failed its check",
                  file=sys.stderr)
        if timed is not None:
            timed.append((dt, ok))


def run(
    workload_name: str, seed: int, seconds: float, trace: bool, work: str,
    tiny: bool = False, started: float | None = None,
) -> dict:
    """One benchmark run; returns the result object (see module doc).
    ``started`` is the ``time.perf_counter()`` reading ``setup_s`` counts
    from (default: now). ``tiny`` shrinks every input for the self-test."""
    from workloads import WORKLOADS

    started = time.perf_counter() if started is None else started
    phases = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 3)
        mark = now

    w = WORKLOADS[workload_name](seed, work, tiny)
    t0 = time.perf_counter()
    sizes = w.generate()
    generate_s = time.perf_counter() - t0
    # start the peak-RSS count after the generator's (and, on query_mix,
    # the in-process DuckDB oracle's) own peak
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")
    phase("generate")
    h = Harness(w)
    n = len(w.kinds)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work)
        session_s = time.perf_counter() - t0
        w.bind(spark)
        h.run_op(None)  # the warm-up op: op kind 0
        setup_s = time.perf_counter() - started - generate_s
        phase("setup")
        while h.next_id % n:  # the op kinds the set-up did not run
            h.run_op(None)
        phase("warm")

        h.next_id = 0
        plain: list[tuple[float, bool]] = []
        traced: list[tuple[float, bool]] = []
        cycles = 0
        t_end = time.perf_counter() + seconds
        while cycles < MIN_CYCLES or time.perf_counter() < t_end:
            for _ in range(n):
                if not trace:
                    h.run_op(plain)
                    continue
                # each op runs twice, traced and untraced; which goes first
                # alternates between op kinds and, per kind, between cycles
                i = h.next_id
                traced_first = (i % n + i // n) % 2 == 0
                for use_trace in (traced_first, not traced_first):
                    h.next_id = i
                    h.run_op(traced if use_trace else plain, traced=use_trace)
            cycles += 1
        phase("measure")
        rss = _vm_hwm_mb("self") + _vm_hwm_mb(
            spark._jvm.java.lang.ProcessHandle.current().pid()
        )
    finally:
        if spark is not None:
            _shutdown(spark)
    phase("stop")

    lat = [dt for dt, _ in plain]
    report = {"workload": workload_name, "seed": seed, "sizes": sizes,
              "setup_s": round(setup_s, 4), "session_s": round(session_s, 4),
              "cycles": cycles, "phases_s": phases}
    if trace:
        metrics = layer_metrics(h.tracer, [dt for dt, _ in traced], lat, session_s)
    else:
        tail, pct = _percentile_tail(lat)
        report.update(ops=len(lat), tail_percentile=round(pct, 1),
                      latencies_s=[round(x, 4) for x in lat])
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (tail, "s"),
            # a closed loop with one client: the timed wall time is the sum
            # of the op latencies (the untimed checks and resets excluded)
            "ops_per_s": (sum(ok for _, ok in plain) / sum(lat), "1/s"),
            "ok_frac": (1.0 - h.failed / h.attempted, "ratio"),
            "peak_rss_mb": (rss, "MB"),
        }
    print(json.dumps(report), flush=True)
    return {
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


LAYER_SECONDS = (
    "pipelines.build", "normalize.clean", "sources.read", "sinks.canonical",
    "sinks.macro", "sheet.parse", "snapshot.poll", "snapshot.move",
    "orchestrator.finalize", "sinks.pdf_merge", "sinks.notify",
)
LAYER_COUNTS = (
    "pipelines.cells_in", "sinks.canonical_rows", "sinks.parquet_bytes",
    "sinks.xlsx_bytes", "sinks.macro_lines", "snapshot.polls",
    "snapshot.files_moved", "sinks.pdf_bytes",
)
SPARK_COUNTERS = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.task_busy_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.driver_only_s": "s",
}


def layer_metrics(tracer, traced: list[float], plain: list[float], session_s: float) -> dict:
    """Per-op means over the traced ops: self seconds per layer, layer
    counters, Spark job-group counters, per-query self time, and the
    tracing overhead (traced vs untraced op median)."""
    from workloads import QueryMix

    ops = tracer.counts["traced_ops"]
    self_s = tracer.self_times()
    out = {f"{name}_s": (self_s.get(name, 0.0) / ops, "s") for name in LAYER_SECONDS}
    out["op.self_s"] = (self_s.get("op", 0.0) / ops, "s")
    for name in LAYER_COUNTS:
        unit = "bytes" if name.endswith("_bytes") else "count"
        out[name] = (tracer.counts.get(name, 0.0) / ops, unit)
    for name, unit in SPARK_COUNTERS.items():
        out[name] = (tracer.counts.get(name, 0.0) / ops, unit)
    runs_per_query = ops / len(QueryMix.kinds)  # traced cycles are whole
    for kind in QueryMix.kinds:
        out[f"query.{kind}_s"] = (self_s.get(f"query.{kind}", 0.0) / runs_per_query, "s")
    out["spark.session_start_s"] = (session_s, "s")
    p_traced, p_plain = statistics.median(traced), statistics.median(plain)
    out["trace.traced_op_p50_s"] = (p_traced, "s")
    out["trace.untraced_op_p50_s"] = (p_plain, "s")
    out["trace.overhead_frac"] = (p_traced / p_plain - 1.0, "ratio")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("supplier_day", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # orphaned grandchildren (Spark's Python workers) become our children,
    # so _shutdown can wait for them
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _environment(work)
        try:
            import etl_jetro_spark  # noqa: F401
        except ImportError as e:
            print(f"cannot import the program: {e}", file=sys.stderr)
            return 2
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work,
                     started=_process_start())
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
