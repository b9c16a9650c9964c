"""Run one perfbench workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload nightly_copy --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run:

1. starts a Spark session on ``local[<usable cores>]`` through the
   program's own ``get_spark``;
2. generates its inputs from ``--seed`` (``perfbench/gen.py``);
3. writes the inputs, then sets up the workload's starting state several
   times from them and reports the median of all builds but the first
   (which runs cold) as ``setup_s``; warms up;
4. runs steps on the last copy in a closed loop for ``--seconds``, and
   at least :data:`MEASURED_STEPS` steps;
5. checks the outputs against independent references (DuckDB, batch
   twins, registry oracles);
6. prints ``{"correct", "attempted", "failed", "metrics"}`` as the last
   line of stdout: the end-to-end metrics with ``--trace 0``, the
   per-layer ones with ``--trace 1``.

Everything the run writes lives under ``.perfbench_work/`` in the checkout
and is deleted at exit. Spark's own output goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402
import tracing  # noqa: E402

#: ``write_s`` and ``read_s`` are means over this many leading steps, which
#: every run completes whatever ``--seconds`` is: per-step cost grows with
#: history, so the same step indexes compare across runs.
MEASURED_STEPS = 2

END_TO_END = {"setup_s": "s", "write_s": "s", "read_s": "s"}


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: Path) -> None:
    """Keep every file the run writes inside ``work``, size the session to
    the usable cores, and let Python workers import the program."""
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def start_spark(work: Path):
    from data_warehouse_copy_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'tmp'}"
            ),
        },
    )


class Run:
    """One measured run of one workload."""

    def __init__(self, wl, seconds: float, tracer=None, jobs=None):
        self.wl = wl
        self.seconds = seconds
        self.tracer = tracer
        self.jobs = jobs
        self.samples: dict[str, list[float]] = {"write": [], "read": []}
        #: per step, the summed latency of its write and of its read ops
        self.step_sums: list[dict[str, float]] = []
        self.by_label: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.errors: list[str] = []
        self.op_traces: list[tuple] = []
        self.steps = 0

    def op(self, cls, label, fn) -> None:
        sc = self.wl.spark.sparkContext
        sc.setJobGroup(f"perfbench-{self.attempted}", label)
        self.attempted += 1
        if self.tracer:
            self.tracer.take_spans()
            first_job = self.jobs.next_job_id()
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            fn()
        except Exception as exc:  # counted, and the loop goes on
            traceback.print_exc()
            self.errors.append(f"{label}: {type(exc).__name__}: {exc}")
            return
        finally:
            dt = time.perf_counter() - p0
            t1 = time.time()
        self.by_label[label].append(dt)
        print(f"perfbench op {self.steps} {label} {dt:.3f}", file=sys.stderr)
        if cls:
            self.samples[cls].append(dt)
            self.step_sums[-1][cls] += dt
        if self.tracer:
            summary = tracing.summarize_op(
                self.tracer.take_spans(), t0, t1, self.jobs.collect(first_job),
                threading.get_ident(),
            )
            self.op_traces.append((cls, label, dt, summary))

    def measure(self) -> None:
        if self.tracer:
            self.tracer.calls.clear()  # count only the measured window
            self.tracer.extra.clear()
        deadline = time.perf_counter() + self.seconds
        while self.steps < MEASURED_STEPS or time.perf_counter() < deadline:
            self.step_sums.append({"write": 0.0, "read": 0.0})
            for cls, label, fn in self.wl.step(self.steps):
                self.op(cls, label, fn)
            self.steps += 1
        if self.tracer:
            for cls, label, fn in self.wl.traced_ops():
                self.op(cls, label, fn)


def storage(spark, roots: list[Path]) -> dict:
    """Storage state of the workload's managed tables."""
    from data_warehouse_copy_spark.sources.managed_table import ManagedTable

    roots = [r for r in roots if (r / "_log").is_dir()]
    out = {"versions": 0, "dv_files": 0, "files_on_disk": 0}
    live: set[Path] = set()
    for root in roots:
        snap = ManagedTable(spark, root).snapshot()
        live |= {root / f.path for f in snap.files}  # absolute paths stay absolute
        out["versions"] += snap.version
        out["dv_files"] += len({p for f in snap.files for p in f.dv_paths})
        out["files_on_disk"] += sum(1 for _ in root.rglob("*.parquet"))
    out["files_live"] = len(live)
    out["space_amp"], _, _ = stats.space_amp(roots, live)
    return out


def end_to_end(setup_s: list[float], run: Run) -> dict:
    """Every step of a workload has the same shape, so the write (read)
    time of step ``i`` compares across runs. The metric is the mean over
    the first :data:`MEASURED_STEPS` steps, the ones every run has."""
    steps = run.step_sums[:MEASURED_STEPS]
    return {
        "setup_s": stats.median(setup_s[1:]),  # the first build runs cold
        "write_s": sum(s["write"] for s in steps) / len(steps),
        "read_s": sum(s["read"] for s in steps) / len(steps),
    }


def per_layer(wl, run: Run, phases: dict, setup_s: list, store0: dict, store1: dict) -> dict:
    """The per-layer metrics of a traced run (see perfbench/README.md)."""
    from workloads import REGISTRY

    families = sorted(set(REGISTRY.values()))
    n_ops = max(1, len(run.op_traces))
    incl: dict[str, float] = defaultdict(float)
    excl: dict[str, float] = defaultdict(float)
    spark_tot: dict[str, float] = defaultdict(float)
    for _, label, _, s in run.op_traces:
        for k, v in s["inclusive"].items():
            incl[k] += v
        for k, v in s["exclusive"].items():
            # a registry entry's query runs in no wrapped call; its op
            # label names its layer
            excl[k or (label if label in families else "")] += v
        for k, v in s["spark"].items():
            spark_tot[k] += v
    calls = run.tracer.calls
    extra = run.tracer.extra
    per_op = lambda v: v / n_ops  # noqa: E731
    per_call = lambda k: incl[k] / calls[k] if calls[k] else 0.0  # noqa: E731
    layer_of = lambda name: name.split(".")[0] if name else "untraced"  # noqa: E731
    by_layer: dict[str, float] = defaultdict(float)
    for k, v in excl.items():
        by_layer[layer_of(k)] += v
    m: dict[str, tuple] = {}

    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count")):
        m[f"spark.{k}_per_op"] = (per_op(spark_tot[k]), unit)
    for k, unit in (("job_busy_s", "s"), ("driver_gap_s", "s"), ("executor_run_s", "s"),
                    ("shuffle_write_bytes", "bytes"), ("input_bytes", "bytes")):
        m[f"spark.{k}"] = (per_op(spark_tot[k]), unit)

    m["pipeline.run_s"] = (per_call("pipeline.run"), "s")
    m["pipeline.self_s"] = (
        excl["pipeline.run"] / calls["pipeline.run"] if calls["pipeline.run"] else 0.0, "s")
    m["audit.calls"] = (per_op(calls["audit.call"]), "count")
    m["audit.call_s"] = (per_call("audit.call"), "s")
    audit_root = next((r for r in wl.table_roots() if r.name == "tbl_dw_copy_logs"), None)
    m["audit.files"] = (
        sum(1 for _ in audit_root.rglob("*.parquet")) if audit_root and audit_root.exists() else 0,
        "count")
    m["copy.range_s"] = (per_call("copy.range"), "s")
    m["copy.truncate_s"] = (per_call("copy.truncate"), "s")
    n_copy = calls["copy.range"] + calls["copy.truncate"]
    m["copy.rows_per_call"] = (extra["copy.rows"] / n_copy if n_copy else 0.0, "count")
    m["upsert.update_table_s"] = (per_call("upsert.update_table"), "s")
    m["upsert.changed_keys"] = (
        extra["upsert.changed_keys"] / calls["upsert.update_table"]
        if calls["upsert.update_table"] else 0.0, "count")
    m["catalog.load_table_s"] = (per_call("catalog.load_table"), "s")

    for op in tracing.MT_METHODS:
        m[f"mt.{op}_s"] = (per_op(incl[f"mt.{op}"]), "s")
    m["mt.commits"] = (store1["versions"] - store0["versions"], "count")
    m["mt.files_live"] = (store1["files_live"], "count")
    m["mt.files_on_disk"] = (store1["files_on_disk"], "count")
    m["mt.dv_files"] = (store1["dv_files"], "count")
    m["mt.space_amp"] = (store1["space_amp"], "ratio")

    m["sql.parse_s"] = (per_call("sql.parse"), "s")
    for kind in ("merge", "update", "delete"):
        m[f"sql.execute_s.{kind}"] = (per_call(f"sql.execute.{kind}"), "s")
    n_sql = sum(calls[f"sql.execute.{k}"] for k in ("merge", "update", "delete"))
    m["sql.self_s"] = (by_layer["sql"] / n_sql if n_sql else 0.0, "s")

    reads = {p: run.by_label.get(f"point_read.{p}", []) + run.by_label.get(f"agg_read.{p}", [])
             for p in ("catalog", "direct")}
    m["ds.read_s"] = (stats.median(reads["catalog"]) if reads["catalog"] else 0.0, "s")
    m["ds.direct_read_s"] = (stats.median(reads["direct"]) if reads["direct"] else 0.0, "s")
    m["ds.table_s"] = (per_call("ds.table"), "s")

    for label in families:
        v = run.by_label.get(label, [])
        m[f"{label}_s"] = (stats.median(v) if v else 0.0, "s")

    m["cdf.apply_changes_s"] = (per_call("cdf.apply_changes"), "s")
    drain = tracing.progress_sums(wl.stream_progress or [])
    batches = drain.get("batches", 0)
    m["cdf.batch_rows"] = (drain.get("input_rows", 0) / batches if batches else 0.0, "count")
    lag = run.by_label.get("replica_catchup", [])
    m["stream.replica_catchup_s"] = (stats.median(lag) if lag else 0.0, "s")
    for f in (*tracing.PROGRESS_FIELDS, "state_commit"):
        key = "trigger" if f == "triggerExecution" else f
        m[f"stream.{key}_ms"] = (drain.get(f"{f}_ms", 0), "ms")
    m["stream.batches_per_drain"] = (batches, "count")

    # exclusive time per layer: these add up to trace.op_s
    for layer in ("pipeline", "audit", "catalog", "copy", "upsert", "mt", "sql", "ds",
                  "cdf", "queries", "functions", "untraced"):
        m[f"self.{layer}_s"] = (per_op(by_layer[layer]), "s")
    m["trace.op_s"] = (per_op(sum(dt for _, _, dt, _ in run.op_traces)), "s")

    for k, v in phases.items():
        m[f"phase.{k}"] = (v, "s")
    e2e = end_to_end(setup_s, run)
    for cls in ("write", "read"):
        v = run.samples[cls]
        m[f"{cls}.ops"] = (len(v), "count")
        m[f"{cls}_op_s.p50"] = (stats.median(v), "s")
        val, pct = stats.tail(v)
        m[f"{cls}_op_s.tail"] = (val, "s")
        m[f"{cls}_op_s.tail_pct"] = (pct, "pct")
        m[f"trace.{cls}_s"] = (e2e[f"{cls}_s"], "s")
    steps = [s["write"] for s in run.step_sums]
    q = max(1, len(steps) // 4)
    m["write_s.growth"] = (stats.median(steps[-q:]) / stats.median(steps[:q]), "ratio")
    m["steps"] = (len(steps), "count")
    m["trace.wrapper_calls_per_op"] = (per_op(sum(calls.values())), "count")
    return m


def stop_spark() -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def execute(args, work: Path) -> dict:
    import gen
    from workloads import WORKLOADS

    phases = {}
    t = time.perf_counter()
    spark = start_spark(work)
    phases["session_s"] = time.perf_counter() - t

    tracer = jobs = None
    if args.trace:
        tracer = tracing.Tracer()
        tracer.install_program_wrappers()
        jobs = tracing.SparkJobs(spark)

    t = time.perf_counter()
    base = gen.base_tables()
    wl = WORKLOADS[args.workload](spark, work, args.seed, base)
    wl.prepare_inputs()
    phases["gen_s"] = time.perf_counter() - t
    try:
        setup_s = []
        for rep in range(wl.setup_reps):
            t = time.perf_counter()
            wl.setup(rep)
            setup_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warmup()
        phases["warmup_s"] = time.perf_counter() - t

        run = Run(wl, args.seconds, tracer, jobs)
        store0 = storage(spark, wl.table_roots()) if tracer else None
        t = time.perf_counter()
        run.measure()
        phases["measure_s"] = time.perf_counter() - t
        store1 = storage(spark, wl.table_roots()) if tracer else None
        if tracer:
            tracer.take_spans()
        t = time.perf_counter()
        failures = run.errors + wl.check()
        phases["check_s"] = time.perf_counter() - t
    finally:
        if tracer:
            tracer.unwrap()
    for f in failures:
        print(f"perfbench check failed: {f}", file=sys.stderr)
    print(f"perfbench phases: {phases} setup: {setup_s} steps: {run.steps}", file=sys.stderr)

    if args.trace:
        metrics = per_layer(wl, run, phases, setup_s, store0, store1)
    else:
        metrics = {k: (v, END_TO_END[k]) for k, v in end_to_end(setup_s, run).items()}
    attempted = run.attempted + 1  # the output check counts as one
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": min(attempted, len(failures)),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    if not (ROOT / "data_warehouse_copy_spark" / "__init__.py").is_file():
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # Spark, py4j and the program may print; only the result goes to stdout
    result_fd = os.dup(1)
    os.dup2(2, 1)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    prepare_environment(work)
    try:
        result = execute(args, work)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    sys.stdout.flush()
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
