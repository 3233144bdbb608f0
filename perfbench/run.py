"""The repo benchmark: one workload, one process, on ``local[<cores>]``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload driver_bound --seed 1 --seconds 15 --trace 0

Per run it

1. sets up: starts the session, generates the seeded fixture (three
   times; the median counts) and makes one warm pass over the
   workload's operations at the target scale, so first-touch staging and
   code generation are charged to ``setup_s`` (the CPU seconds of these
   three steps; their wall clock is in the run record);
2. checks every output of the warm pass, untimed: registry operations
   against their DuckDB oracle on the same fixture, MapReduce shapes
   against a plain-Python ``Counter`` over the same corpus;
3. runs ``SETTLE_PASSES`` passes untimed, while the JVM still compiles
   the hot paths;
4. then times cold passes (``clearCache()`` + ``clear_process_stores()``
   before each) for ``--seconds`` seconds, at least three.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer ones); ``failed / attempted`` is the error rate. The last
stderr line repeats the metrics with their units, the error rate, the
core count, pass count and spread. With ``--trace 1`` half of the
timed passes are traced (see ``trace.py``), and ``trace.overhead_s``
is the traced minus the untraced median. Spans and a record of the run
(cores, passes, spread, seed, Spark and Python versions, per-op medians,
failed checks) are written under ``.perfbench/`` in the repository root. Everything else the run writes
(fixture, Spark scratch, temp files) lives in a per-run directory there
that is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import resource
import shutil
import statistics
import sys
import time
import traceback
from typing import NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import OPERATOR_MODULES  # noqa: E402
OUT_DIR = os.path.join(ROOT, ".perfbench")
GENERATIONS = 3
MIN_PASSES = 3
#: untimed passes after the warm pass: until the JVM has compiled the hot
#: paths, each pass takes less CPU than the one before, and how fast that
#: settles depends on the host's load (on a shared 4-core host the third
#: pass after the warm one still took a fifth more CPU than the sixth)
SETTLE_PASSES = 3
DRIVER_MEM = "1g"

#: gated end-to-end metrics. The times are CPU seconds of the whole
#: process tree (driver Python, JVM, Python workers): on a shared host the
#: wall clock of the same pass can swing by a third between runs minutes
#: apart as other tenants come and go, while the CPU it takes moves about
#: half as much. The wall-clock figures are the ``pass.*`` metrics below.
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "op_geomean_cpu_s": "s",
    "peak_rss_mb": "MB",
}

SPARK_METRICS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_s": "s", "cpu_s": "s",
    "py_wait_s": "s", "driver_gap_s": "s", "util": "ratio", "max_stage_skew": "ratio",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s",
}
STREAM_METRICS = {
    "triggers": "count", "trigger_p50_ms": "ms", "addBatch_ms": "ms", "walCommit_ms": "ms",
    "commitOffsets_ms": "ms", "queryPlanning_ms": "ms", "latestOffset_ms": "ms",
    "getBatch_ms": "ms", "input_rows": "count", "state_rows": "count", "state_mb": "MB",
}
PER_LAYER = {
    "pass.wall_s": "s",
    "pass.op_geomean_s": "s",
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.action_s": "s",
    **{f"spark.{k}": u for k, u in SPARK_METRICS.items()},
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "sources.rows_per_output_row": "ratio",
    "core.run_s": "s",
    "core.results_s": "s",
    "core.result_keys": "count",
    **{f"streaming.{k}": u for k, u in STREAM_METRICS.items()},
    **{f"operators.{m}.{k}": u for m in OPERATOR_MODULES for k, u in (("calls", "count"), ("s", "s"))},
    "functions.calls": "count",
    "functions.s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv=None) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, including spark-submit's launcher: temp files here, no
    # hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join((
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # a fixed heap size keeps the JVM's resident set from tracking
        # the heap-resizing heuristics from run to run
        f"--driver-java-options -Xms{DRIVER_MEM}",
        "pyspark-shell",
    ))
    import tempfile

    tempfile.tempdir = tmp


def median(xs):
    return statistics.median(xs) if xs else 0.0


def iqr_share(xs) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of the driver Python plus the JVM (``VmHWM``), in MB."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    (the JVM, its Python workers), including their reaped children."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    mine = {os.getpid()}
    for pid in sorted(parent):
        chain, p = [], pid
        while p in parent and p not in mine and p > 1:
            chain.append(p)
            p = parent[p]
        if p in mine:
            mine.update(chain)
    total = sum(ticks[p] for p in mine if p in ticks)
    return total / os.sysconf("SC_CLK_TCK")


class Op:
    """One benchmarked operation: a build step (lazy plan, or the eager
    work a registry function does itself) and a final action."""

    def __init__(self, name, build, action, collect, check) -> None:
        self.name, self.build, self.action, self.collect, self.check = name, build, action, collect, check

    def run(self, final) -> "Ran":
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        built = self.build()
        t1 = time.perf_counter()
        out = final(built)
        t2 = time.perf_counter()
        return Ran(t1 - t0, t2 - t1, tree_cpu_s() - c0, out)


class Ran(NamedTuple):
    build_s: float
    action_s: float
    cpu_s: float
    out: object

    @property
    def wall_s(self) -> float:
        return self.build_s + self.action_s


def make_ops(workload, spark, fixture_dir, corpus):
    from kaylee_spark.queries import load_everything
    from perfbench.workloads import check_results, mapreduce_job
    from tools.check_oracle import compare, duck_connection

    registry = load_everything()
    duck = duck_connection(fixture_dir)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    ops = []
    for name in workload.registry_ops:
        spec = registry[name]
        ops.append(Op(
            name,
            build=lambda spec=spec: spec.fn(spark, fixture_dir),
            action=noop,
            collect=lambda df: df.toPandas(),
            check=lambda out, spec=spec: compare(spec.name, out, duck.execute(spec.oracle).fetchdf()),
        ))
    for shape in workload.mapreduce_ops:
        ops.append(Op(
            shape,
            build=lambda shape=shape: mapreduce_job(shape, spark, fixture_dir, corpus),
            action=lambda job: job.results(),
            collect=lambda job: job.results(),
            check=lambda out, shape=shape: check_results(out, corpus.expected(shape)),
        ))
    return ops


def op_geomean(per_op: dict[str, list[float]]) -> float:
    """Geometric mean of the per-operation medians."""
    medians = [median(xs) for xs in per_op.values() if xs]
    return math.exp(statistics.fmean(math.log(m) for m in medians)) if medians else 0.0


def end_to_end(setup_s: float, pass_cpu: list[float], op_cpu: dict, rss_mb: float) -> dict:
    values = {"setup_s": setup_s, "pass_cpu_s": median(pass_cpu), "op_geomean_cpu_s": op_geomean(op_cpu),
              "peak_rss_mb": rss_mb}
    return {k: {"value": values[k], "unit": END_TO_END[k]} for k in END_TO_END}


def per_layer(samples: list[dict], session_s: float, walls: list[float], op_times: dict,
              overhead_s: float) -> dict:
    values = {k: median([s.get(k, 0.0) for s in samples]) for k in PER_LAYER}
    values["pass.wall_s"] = median(walls)
    values["pass.op_geomean_s"] = op_geomean(op_times)
    values["session.start_s"] = session_s
    values["trace.overhead_s"] = overhead_s
    return {k: {"value": values[k], "unit": PER_LAYER[k]} for k in PER_LAYER}


def pass_layers(tracer, window, stream_events, span_run, pass_start, pass_end, builds, n_out_rows) -> dict:
    """Per-layer metrics of one traced pass."""
    from perfbench.trace import stream_metrics

    jobs = window.jobs(pass_start, pass_end)
    m = {f"spark.{k}": v for k, v in window.metrics(jobs, pass_start, pass_end, cores()).items()}
    m["sources.input_mb"] = m.pop("spark.input_mb")
    m["sources.input_rows"] = m.pop("spark.input_rows")
    m["sources.rows_per_output_row"] = m["sources.input_rows"] / max(n_out_rows, 1)
    m["queries.build_s"] = sum(b - a for a, b in builds)
    m["queries.build_jobs"] = float(sum(
        any(a <= sub <= b for a, b in builds) for _, sub, _, _ in jobs
    ))
    # the bus has posted every progress event of the pass once it is empty;
    # the Python listener receives them over the gateway shortly after
    window.drain()
    time.sleep(0.2)
    m.update({f"streaming.{k}": v for k, v in stream_metrics(stream_events, pass_start, pass_end).items()})
    totals = tracer.layer_totals(span_run)
    for layer, agg in totals.items():
        if layer.startswith("operators.") or layer == "functions":
            m[f"{layer}.calls"] = agg["calls"]
            m[f"{layer}.s"] = agg["s"]
    core = totals.get("core", {})
    m["core.run_s"] = core.get("run_s", 0.0)
    m["core.results_s"] = core.get("results_s", 0.0)
    return m


class Tally:
    """Operations attempted and failed; a failed operation is not run again."""

    def __init__(self) -> None:
        self.attempted = 0
        self.problems: dict[str, list[str]] = {}

    @property
    def failed(self) -> int:
        return len(self.problems)

    @property
    def error_rate(self) -> float:
        return self.failed / max(self.attempted, 1)

    def attempt(self, op, final):
        """Run ``op`` with ``final`` as its action; ``None`` when it raised."""
        self.attempted += 1
        try:
            return op.run(final)
        except Exception as exc:  # noqa: BLE001 - a failing op is reported, not fatal
            self.fail(op.name, f"{type(exc).__name__}: {exc}")
            log(f"{op.name} failed:\n{traceback.format_exc()}")
            return None

    def fail(self, name: str, problem: str) -> None:
        self.problems.setdefault(name, []).append(problem)


def warm_pass(ops, tally: Tally) -> tuple[float, float, int]:
    """Run every op once, collecting its output, and check that output.

    Returns the wall and CPU seconds the ops took (the checks are not
    timed) and the number of output rows. A mismatch counts as a failed
    operation.
    """
    warm_s, warm_cpu, out_rows = 0.0, 0.0, 0
    for op in ops:
        ran = tally.attempt(op, op.collect)
        if ran is None:
            continue
        warm_s += ran.wall_s
        warm_cpu += ran.cpu_s
        out_rows += len(ran.out)
        try:
            found = op.check(ran.out)
        except Exception as exc:  # noqa: BLE001 - an oracle that cannot run is a failed check
            found = [f"check raised {type(exc).__name__}: {exc}"]
        for problem in found:
            tally.fail(op.name, problem)
            log(f"{op.name} output check failed: {problem}")
    return warm_s, warm_cpu, out_rows


def run(args) -> dict:
    from perfbench.workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    work = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        isolate(work)
        return _run(args, workload, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, workload, work) -> dict:
    from perfbench.fixture import write_fixture
    from perfbench.workloads import SCALE, Corpus

    tracer = None
    if args.trace:
        from perfbench.trace import SparkWindow, Tracer, stream_listener

        tracer = Tracer()
        tracer.install()
    from kaylee_spark.queries import clear_process_stores
    from kaylee_spark.session import get_spark

    n_cores = cores()
    c0, t0 = tree_cpu_s(), time.perf_counter()
    spark = get_spark("perfbench", cpus=n_cores)
    session_s, session_cpu = time.perf_counter() - t0, tree_cpu_s() - c0
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc
    try:
        fixture_dir = os.path.join(work, "fixture")
        gen_s, gen_cpu = [], []
        for _ in range(GENERATIONS):
            c0, t0 = tree_cpu_s(), time.perf_counter()
            rows = write_fixture(fixture_dir, SCALE, args.seed, workload.copies)
            corpus = Corpus.read(fixture_dir) if workload.mapreduce_ops else None
            gen_s.append(time.perf_counter() - t0)
            gen_cpu.append(tree_cpu_s() - c0)
        ops = make_ops(workload, spark, fixture_dir, corpus)
        if tracer is not None:
            window = SparkWindow(spark)
            stream_events = stream_listener(spark)

        tally = Tally()
        warm_s, warm_cpu, out_rows = warm_pass(ops, tally)
        setup_s = session_cpu + median(gen_cpu) + warm_cpu
        setup_wall_s = session_s + median(gen_s) + warm_s

        walls, traced_walls, pass_cpu = [], [], []
        op_times: dict[str, list[float]] = {op.name: [] for op in ops}
        op_cpu: dict[str, list[float]] = {op.name: [] for op in ops}
        layer_samples = []
        n_pass = 0
        while True:
            if n_pass == SETTLE_PASSES:
                deadline = time.perf_counter() + args.seconds
            # settle passes, then untraced, traced, traced, untraced, ...:
            # both kinds see the same share of any trend
            counted = n_pass >= SETTLE_PASSES
            traced = tracer is not None and counted and (n_pass - SETTLE_PASSES) % 4 in (1, 2)
            spark.catalog.clearCache()
            clear_process_stores()
            span_run = f"{workload.name}-seed{args.seed}-pass{n_pass}"
            if tracer is not None:
                tracer.run, tracer.enabled = span_run, traced
            builds = []
            result_keys = 0
            pass_start = time.time()
            c0, t0 = tree_cpu_s(), time.perf_counter()
            for op in ops:
                if op.name in tally.problems:
                    continue
                b0 = time.time()
                with tracer.span(op.name, "queries") if traced else contextlib.nullcontext():
                    ran = tally.attempt(op, op.action)
                if ran is None:
                    continue
                builds.append((b0, b0 + ran.build_s))
                result_keys += len(ran.out) if isinstance(ran.out, dict) else 0
                if counted and not traced:
                    op_times[op.name].append(ran.wall_s)
                    op_cpu[op.name].append(ran.cpu_s)
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
            pass_end = time.time()
            if traced:
                tracer.enabled = False
                traced_walls.append(wall)
                sample = pass_layers(tracer, window, stream_events, span_run, pass_start, pass_end, builds, out_rows)
                sample["queries.action_s"] = wall - sample["queries.build_s"]
                sample["core.result_keys"] = float(result_keys)
                layer_samples.append(sample)
            elif counted:
                walls.append(wall)
                pass_cpu.append(cpu)
            n_pass += 1
            enough = len(walls) >= MIN_PASSES and (tracer is None or len(traced_walls) >= MIN_PASSES)
            if enough and deadline - time.perf_counter() < wall:
                break

        if tracer is None:
            metrics = end_to_end(setup_s, pass_cpu, op_cpu, peak_rss_mb(jvm.pid))
        else:
            metrics = per_layer(layer_samples, session_s, walls, op_times, median(traced_walls) - median(walls))
            tracer.write(os.path.join(OUT_DIR, f"{workload.name}-seed{args.seed}.spans.jsonl"))
        record = {
            "workload": workload.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "cores": n_cores, "passes": len(walls), "traced_passes": len(traced_walls),
            "spread": iqr_share(pass_cpu), "wall_spread": iqr_share(walls),
            "pass_cpu_s": pass_cpu, "pass_walls_s": walls, "traced_walls_s": traced_walls,
            "op_median_cpu_s": {k: median(v) for k, v in op_cpu.items()},
            "op_median_s": {k: median(v) for k, v in op_times.items()},
            "wall_s": median(walls), "op_geomean_s": op_geomean(op_times), "setup_wall_s": setup_wall_s,
            "fixture_rows": rows, "generation_s": gen_s, "generation_cpu_s": gen_cpu,
            "session_s": session_s, "session_cpu_s": session_cpu, "warm_s": warm_s, "warm_cpu_s": warm_cpu,
            "error_rate": tally.error_rate, "problems": tally.problems,
            "spark": spark.version, "python": platform.python_version(), "metrics": metrics,
        }
        with open(os.path.join(OUT_DIR, f"{workload.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(record, f, indent=1)
        summary = "" if args.trace else ", ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in metrics.items())
        log(f"{workload.name} seed={args.seed} cores={n_cores} passes={len(walls)} spread={record['spread']:.3f} "
            f"error_rate={tally.error_rate:.4g} wall_s={record['wall_s']:.4g} s "
            f"op_geomean_s={record['op_geomean_s']:.4g} s setup_wall_s={setup_wall_s:.4g} s "
            f"{summary}")
        return {"correct": not tally.problems, "attempted": tally.attempted, "failed": tally.failed, "metrics": metrics}
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    import kaylee_spark  # noqa: F401 - fail before any work when the engine is missing

    os.makedirs(OUT_DIR, exist_ok=True)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
