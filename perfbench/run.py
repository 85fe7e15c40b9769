#!/usr/bin/env python3
"""Benchmark for package validation and incremental release publish, run
from outside the library.

    python3 perfbench/run.py --workload validate_csv_dirty --seed 1 \\
        --seconds 12 --trace 0

Each workload runs one kind of operation in a closed loop from one
client: the next op starts when the previous one has ended. Every op's
output is checked against the expected output the seeded generator
derived from the defects it injected; a mismatch or an exception counts
as a failed op and never stops the run.

``--trace 0`` measures the end-to-end metrics with tracing off:

- ``setup_s``: median of ``SETUPS`` fresh session starts
  (``gt.get_spark``, which launches the JVM each time) plus the
  workload's program-side set-up, run once, on the last session.
- ``op_cpu_s``: median CPU seconds (the JVM plus its Python workers,
  from ``/proc``) of a fixed range of ops: after the first op, the
  workload's ``warmup_ops`` untimed ops, then its ``timed_ops`` timed
  ones (see ``WARMUP.md``), so every run and every commit is measured at
  the same point of the warm-up curve. If those ops end before
  ``--seconds`` have passed, more ops run until then; they are checked
  but feed no metric.

Four more are printed but carry no bound (``--trace 1`` reports them as
``untraced.*``): ``op_p50_s``, the median wall seconds of the same timed
ops; ``first_op_s``, the first op on the cold JVM of the last session;
``rows_per_s``, input rows times timed ops over their total wall time;
``peak_rss_mb``, peak resident memory of the JVM plus this process. On a
4-core host shared with other guests, wall times follow how much CPU the
other guests take: over ten seeded runs the spread of ``op_p50_s`` on
``release_increment`` reached a third of its median, while that of
``op_cpu_s`` stayed within an eighth and its median moved 1% between two
sets of runs.

``--trace 1`` runs one untraced session, then one with Spark's event
log on, both on a shorter schedule (``TRACE_WARMUP_OPS`` untimed and
``TRACE_TIMED_OPS`` timed ops after the first) so that the run fits in
the time one run may take; then it calls each layer's public functions
one after another (``workloads.*.phases``) ``PHASE_PASSES`` times, and
prints the per-layer metrics ``<layer>.<phase>.<quantity>`` plus
``trace.overhead_s`` (traced minus untraced median op wall over that
schedule), ``trace.coverage`` (the walls of a pass's phases over the
wall of one whole op run at the end of the same pass, median over the
passes) and the ``untraced.*`` numbers of its untraced session. The
phase passes call serially what ``validate_package`` overlaps on thread
pools (tables, key and foreign-key checks), so a phase's ``wall_s`` is
its cost when it runs alone, not its share of the op, and
``trace.coverage`` can exceed 1.

The launcher pins the session: ``SPARK_GRAFT_CPUS`` to the cores this
process may use, ``SPARK_GRAFT_DRIVER_MEM`` to a heap that fits the
host's memory, ``SPARK_LOCAL_DIRS`` to a fresh directory. Inputs,
releases, Spark's local and temporary files go to ``.bench_tmp/`` under
the checkout (``TMPDIR`` and the JVM's ``java.io.tmpdir`` point there)
and are removed at exit. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import spantrace  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUPS = 2  # session starts per run; setup_s is their median
# the shorter schedule of both sessions of a --trace 1 run, which must
# also fit in the time a run may take
TRACE_WARMUP_OPS = 1
TRACE_TIMED_OPS = 2
PHASE_PASSES = 2  # traced layer-by-layer passes; per-layer values are medians

END_TO_END = {"setup_s": "s", "op_cpu_s": "s"}
# measured and printed by every run, but too spread from run to run on a
# shared host to carry a bound; --trace 1 reports the untraced session's
# values as untraced.<name>
UNBOUNDED = {"op_p50_s": "s", "first_op_s": "s", "rows_per_s": "1/s",
             "peak_rss_mb": "MB"}

# per-layer metrics: phase -> quantities beyond QUANTITY_UNITS
PHASES = {
    "schema.load": {},
    "sources.scan": {"input_mb": "MB", "rows": "count"},
    "parsers.parse": {},
    # sample_jobs: jobs of a CollectLimit execution (a violated check's
    # value sample) in the span, from the event log
    "validate.table": {"checks_violated": "count", "sample_jobs": "count"},
    "checks.keys.pk": {},
    "checks.keys.fk": {"orphan_keys": "count"},
    "validate.report": {},
    "pipeline.publish": {"output_mb": "MB", "parts_rewritten": "count",
                         "parts_reused": "count"},
    "pipeline.readback": {"input_mb": "MB"},
    "dedup.signatures": {},
    "dedup.candidates": {"pairs": "count"},
    "dedup.verify": {"pairs": "count", "yield": "ratio"},
    "dedup.antijoin": {"rows_out": "count"},
    "cacheutil.release": {"frames": "count"},
}
QUANTITY_UNITS = {"wall_s": "s", "cpu_s": "s", "jobs": "count",
                  "tasks": "count", "shuffle_write_mb": "MB",
                  "spill_mb": "MB"}
# whole-op numbers of the trace run
TRACE_METRICS = {"trace.overhead_s": "s", "trace.coverage": "ratio",
                 **{f"untraced.{k}": u for k, u in UNBOUNDED.items()}}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in a fixed order."""
    out = {}
    for phase, extra in PHASES.items():
        for q, unit in {**QUANTITY_UNITS, **extra}.items():
            out[f"{phase}.{q}"] = unit
    return {**out, **TRACE_METRICS}


def log(msg: str) -> None:
    print(msg, flush=True)


def host_heap() -> str:
    """2 GiB, or a quarter of host memory if that is less: room to spare
    for both workloads' inputs without crowding a shared host."""
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return f"{min(2048, kb // 4096)}m"


class Session:
    """One Spark session on its own JVM; ``stop`` ends the JVM and its
    Python workers and waits for them."""

    def __init__(self, submit_args: str | None = None):
        self.submit_args = submit_args

    def start(self):
        import goodtables_pandas_py_spark as gt
        from pyspark import SparkContext

        if self.submit_args:
            os.environ["PYSPARK_SUBMIT_ARGS"] = self.submit_args
        else:
            os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
        self.spark = gt.get_spark(app_name="perfbench", quiet_logs=True)
        self.proc = SparkContext._gateway.proc
        self.pid = self.proc.pid
        return self.spark

    def stop(self) -> None:
        from pyspark import SparkContext

        kids = procstat.descendants(self.pid)
        try:
            self.spark.stop()
        finally:
            gw = SparkContext._gateway
            SparkContext._gateway = None
            SparkContext._jvm = None
            if gw is not None:
                gw.shutdown()
            self.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=30)
            procstat.wait_gone(kids, timeout=30)


class Op:
    """One op's timing and verdict."""

    def __init__(self, wall: float, cpu: float, problems: list[str]):
        self.wall, self.cpu, self.problems = wall, cpu, problems


def run_op(wl, i: int, pid: int) -> Op:
    cpu0 = procstat.tree_cpu_s(pid)
    t0 = time.perf_counter()
    try:
        out = wl.op(i)
        wall = time.perf_counter() - t0
        cpu = procstat.tree_cpu_s(pid) - cpu0
        problems = wl.check(out)
    except Exception as exc:  # a failed op is counted, never fatal
        wall = time.perf_counter() - t0
        cpu = procstat.tree_cpu_s(pid) - cpu0
        traceback.print_exc(file=sys.stderr)
        problems = [f"raised {type(exc).__name__}: {exc}"]
    for p in problems:
        print(f"op {i} FAILED: {p}", file=sys.stderr, flush=True)
    return Op(wall, cpu, problems)


class Measurement:
    """Set-up, first op, warm-up and timed ops of one session."""

    def __init__(self) -> None:
        self.sessions: list[float] = []  # seconds per session start
        self.program_setup = 0.0  # the workload's set-up on the last one
        self.ops: list[Op] = []
        self.first: Op | None = None
        self.warmup = 0  # untimed ops between the first and the timed ones
        self.timed: list[Op] = []
        self.timed_wall = 0.0
        self.rss_mb = 0.0

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if o.problems)


def start_session(wl, m: Measurement, submit_args: str | None = None,
                  program_setup: bool = True) -> Session:
    """Start a session and, unless told not to, the workload's set-up."""
    sess = Session(submit_args)
    t0 = time.perf_counter()
    wl.spark = sess.start()
    m.sessions.append(time.perf_counter() - t0)
    log(f"session start {len(m.sessions)}: {m.sessions[-1]:.3f} s")
    if program_setup:
        t0 = time.perf_counter()
        wl.setup()
        m.program_setup = time.perf_counter() - t0
        log(f"program set-up: {m.program_setup:.3f} s")
    return sess


def measure(wl, seconds: float, sess: Session, m: Measurement,
            warmup: int, timed: int, wrap=None) -> None:
    """First op, ``warmup`` untimed ops, ``timed`` timed ones, then more
    ops, untimed, until ``seconds`` have passed since the first timed op.
    ``wrap(i)`` gives a context manager put around each timed op."""
    i = 0
    m.warmup = warmup

    def one(timed: bool) -> Op:
        nonlocal i
        if wrap is not None and timed:
            with wrap(i):
                op = run_op(wl, i, sess.pid)
        else:
            op = run_op(wl, i, sess.pid)
        m.ops.append(op)
        log(f"op {i}{' timed' if timed else ''}: wall {op.wall:.3f} s "
            f"cpu {op.cpu:.3f} s{' FAILED' if op.problems else ''}")
        i += 1
        return op

    m.first = one(False)
    for _ in range(warmup):
        one(False)
    start = time.perf_counter()
    for _ in range(timed):
        m.timed.append(one(True))
    m.timed_wall = sum(o.wall for o in m.timed)
    m.rss_mb = procstat.peak_rss_mb(sess.pid) + procstat.peak_rss_mb()
    while time.perf_counter() - start < seconds:
        one(False)


def session_facts(spark) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "defaultParallelism": sc.defaultParallelism,
        "heap": sc.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def end_to_end(wl, m: Measurement) -> dict:
    p50 = statistics.median(o.wall for o in m.timed)
    log(f"timed ops: {len(m.timed)}, ops {m.warmup + 1}.."
        f"{m.warmup + len(m.timed)} (op_cpu_s and op_p50_s are their "
        "medians)")
    return {
        "setup_s": statistics.median(m.sessions) + m.program_setup,
        "first_op_s": m.first.wall,
        "op_p50_s": p50,
        "rows_per_s": wl.rows * len(m.timed) / m.timed_wall,
        "op_cpu_s": statistics.median(o.cpu for o in m.timed),
        "peak_rss_mb": m.rss_mb,
    }


def run_untraced(wl, seconds: float, setups: int = SETUPS,
                 warmup: int | None = None,
                 timed: int | None = None) -> tuple[Measurement, dict]:
    """``setups`` session starts, then the workload's op schedule (or
    ``warmup`` and ``timed``) on the last session."""
    warmup = wl.warmup_ops if warmup is None else warmup
    timed = wl.timed_ops if timed is None else timed
    m = Measurement()
    for _ in range(setups - 1):
        start_session(wl, m, program_setup=False).stop()
    sess = start_session(wl, m)
    try:
        facts = session_facts(wl.spark)
        log("session: " + json.dumps(facts, sort_keys=True))
        measure(wl, seconds, sess, m, warmup, timed)
    finally:
        sess.stop()
    return m, end_to_end(wl, m)


def run_traced(wl, seconds: float, work: str) -> tuple[Measurement, dict]:
    """An untraced session, then the traced one: the same op schedule
    (``TRACE_WARMUP_OPS``, ``TRACE_TIMED_OPS``), its timed ops inside
    ``op`` spans, then ``PHASE_PASSES`` layer-by-layer passes."""
    m0, untraced = run_untraced(wl, seconds, 1, TRACE_WARMUP_OPS,
                                TRACE_TIMED_OPS)
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    tracer = spantrace.Tracer()
    m = Measurement()
    sess = start_session(wl, m, spantrace.event_log_submit_args(log_dir))
    try:
        measure(wl, seconds, sess, m, TRACE_WARMUP_OPS, TRACE_TIMED_OPS,
                wrap=lambda i: tracer.span("op"))
        for k in range(PHASE_PASSES):
            t0 = time.perf_counter()
            try:
                with tracer.span("pass"):
                    problems = wl.phases(tracer)
                    # the whole op at the same point of the warm-up curve,
                    # the reference of trace.coverage
                    with tracer.span("pass.op"):
                        problems += run_op(wl, k, sess.pid).problems
            except Exception as exc:  # counted like a failed op
                traceback.print_exc(file=sys.stderr)
                problems = [f"raised {type(exc).__name__}: {exc}"]
            for p in problems:
                print(f"phase pass {k} FAILED: {p}", file=sys.stderr)
            m.ops.append(Op(time.perf_counter() - t0, 0.0, problems))
            log(f"phase pass {k}: {m.ops[-1].wall:.3f} s")
    finally:
        sess.stop()
    log("spans: " + tracer.as_json())
    jobs = spantrace.read_event_log(log_dir)
    m.ops = m0.ops + m.ops
    out = per_layer(wl, tracer, jobs, untraced["op_p50_s"])
    out.update({f"untraced.{k}": untraced[k] for k in UNBOUNDED})
    return m, out


def per_layer(wl, tracer: spantrace.Tracer, jobs: list,
              untraced_p50: float) -> dict:
    """Median over the phase passes of every per-layer metric; 0 for the
    layers this workload does not call."""
    passes = [s for s in tracer.spans if s.name == "pass"]
    by_pass: list[dict[str, dict]] = []
    for p in passes:
        inside = {s.name: s for s in tracer.spans
                  if s.name in PHASES and p.start <= s.start and s.end <= p.end}
        by_pass.append({
            name: {**spantrace.span_metrics(s, jobs), **s.counts}
            for name, s in inside.items()
        })
    traced_p50 = statistics.median(
        s.end - s.start for s in tracer.spans if s.name == "op")
    out = {}
    for name in per_layer_units():
        if name in TRACE_METRICS:
            continue
        phase, q = name.rsplit(".", 1)
        key = {"rows": "input_rows",
               "sample_jobs": "collect_limit_jobs"}.get(q, q)
        vals = [bp[phase].get(key, 0) for bp in by_pass if phase in bp]
        out[name] = statistics.median(vals) if vals else 0
    covered = [
        sum(bp[ph]["wall_s"] for ph in bp
            if ph not in wl.probes and ph not in wl.side)
        for bp in by_pass
    ]
    whole = [s.end - s.start for s in tracer.spans if s.name == "pass.op"]
    out["trace.overhead_s"] = traced_p50 - untraced_p50
    out["trace.coverage"] = statistics.median(
        c / w for c, w in zip(covered, whole))
    log(f"traced op p50 {traced_p50:.3f} s, untraced {untraced_p50:.3f} s")
    if out["trace.coverage"] > 1:
        log(f"trace.coverage {out['trace.coverage']:.3f} > 1: the phase "
            "passes run serially what the op overlaps, so phase walls are "
            "costs alone, not shares of the op")
    return out


def pin_environment(work: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host_heap()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # temporary files of this process and of the JVM stay in the checkout
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"])
    os.makedirs(tmp)


def program_present() -> bool:
    return os.path.isfile(
        os.path.join(ROOT, "goodtables_pandas_py_spark", "__init__.py"))


@contextlib.contextmanager
def workspace(workload: str, seed: int):
    """A pinned environment and a fresh work directory holding the
    generated inputs; yields (workload object, work dir) and removes the
    directory afterwards."""
    sys.path.insert(0, ROOT)
    tmp_root = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    try:
        pin_environment(work)
        os.chdir(work)  # stray files Spark writes to its cwd land here
        in_dir = os.path.join(work, "in")
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload",
             workload, "--seed", str(seed), "--out", in_dir],
            check=True,
        )
        with open(os.path.join(in_dir, "inputs.json")) as fh:
            inputs = json.load(fh)
        log(f"inputs generated in {time.perf_counter() - t0:.3f} s "
            "(not part of setup_s)")
        yield WORKLOADS[workload](inputs, in_dir), work
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not program_present():
        print(f"no goodtables_pandas_py_spark package under {ROOT}: "
              "nothing to benchmark", file=sys.stderr)
        return 2

    log(f"loadavg start: {os.getloadavg()}")
    steal0 = procstat.cpu_steal()
    with workspace(args.workload, args.seed) as (wl, work):
        if args.trace:
            m, metrics = run_traced(wl, args.seconds, work)
            units = per_layer_units()
        else:
            m, metrics = run_untraced(wl, args.seconds)
            units = END_TO_END
    log(f"loadavg end: {os.getloadavg()}")
    log(f"host CPU steal during the run: {procstat.cpu_steal(steal0):.1%}")
    log(f"error_rate: {m.failed}/{m.attempted} = "
        f"{m.failed / m.attempted:.4f}")
    for name, unit in units.items():
        log(f"{name} = {metrics[name]:.6g} {unit}")
    if not args.trace:
        for name, unit in UNBOUNDED.items():
            log(f"{name} = {metrics[name]:.6g} {unit} (no bound)")
    result = {
        "correct": m.failed == 0,
        "attempted": m.attempted,
        "failed": m.failed,
        "metrics": {n: {"value": metrics[n], "unit": u}
                    for n, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
