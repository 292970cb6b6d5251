#!/usr/bin/env python3
"""corkscrew-spark benchmark driver.

    python3 perfbench/run.py --workload estate_reads --seed 1 --seconds 3 --trace 0

Runs one seeded workload (``estate_reads``, ``graph_blast`` or
``scan_ingest``) in one process on ``local[<cores>]`` with one client in
a closed loop, checks every operation's output against the generator's
known answers, and prints one JSON object as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced cycles, reports the per-layer metrics, and prints
the full per-layer report (plus the tracing overhead) on a ``# layers``
line. A ``# context`` line before the result carries the CPU time the
hypervisor gave other guests during the measurement, peak RSS, input
sizes, sample counts and the workload's figures under its own names;
traced runs add the host anchor (the calibration job of ``bench.py``).
Spans and reports are kept in ``.perfbench_out/`` at the repository
root.

Everything the run writes stays inside the repository checkout, under
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("estate_reads", "graph_blast", "scan_ingest")

#: end-to-end metric -> unit (every workload reports every one)
E2E_UNITS = {"setup_s": "s", "cycle_s": "s"}
#: per-layer metric -> unit (traced runs)
LAYER_UNITS = {"spark.jobs_per_op": "count", "spark.stages_per_op": "count",
               "spark.tasks_per_op": "count", "spark.cpu_s_per_op": "s",
               "spark.cpu_util": "ratio", "trace.overhead_pct": "%"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the self-test")
    p.add_argument("--corrupt", action="store_true",
                   help="break one expected answer (self-test of the checks)")
    return p.parse_args(argv)


def _environment(work: str, cores: int) -> None:
    """Process environment shared with the JVM and the Python workers:
    the checkout on PYTHONPATH (executors import corkscrew_spark and
    perfbench by module path), scratch space inside the checkout."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)


def _start_spark(work: str, cores: int):
    from corkscrew_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            # keep every job of a traced run visible to the status tracker
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark, then end every process of this process's tree (the
    JVM and its Python workers) and reap the JVM, a direct child. The
    stopped JVM holds nothing worth its shutdown hooks: its scratch
    space is under the run's work directory, which the caller removes."""
    from perfbench.trace import proc_table, tree_pids

    me = os.getpid()
    table = proc_table()
    tree = [p for p in tree_pids(me, table) if p != me]
    spark.stop()
    for pid in tree:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in tree:
        if table[pid][0] == me:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:  # already reaped
                pass
    deadline = time.monotonic() + 10
    while (any(os.path.exists(f"/proc/{p}") for p in tree)
           and time.monotonic() < deadline):
        time.sleep(0.02)


def _calibrate(spark) -> float:
    """bench.py's host anchor: its fixed 50M-row crc32 sum, timed once
    (bench.py takes min of 3)."""
    t0 = time.perf_counter()
    spark.range(50_000_000).selectExpr(
        "sum(crc32(cast(id as string)))").collect()
    return time.perf_counter() - t0


def _timed(w, seconds: float, trace: bool, tracer, counter):
    """Closed loop: whole cycles until ``seconds`` have passed. A cycle's
    wall is the sum of its operations' walls. With tracing, cycles
    alternate untraced/traced, at least untraced, traced, untraced:
    later cycles run a little faster, so a traced cycle is compared with
    untraced ones on both sides of it."""
    from perfbench.trace import RssSampler, host_steal_s, tree_usage

    ops: list[dict] = []
    cycles: list[dict] = []
    steal0 = host_steal_s()
    t_start = time.perf_counter()
    with RssSampler() as rss:
        i = 0
        while (time.perf_counter() - t_start < seconds
               or (trace and len(cycles) < 3)):
            traced = trace and i % 2 == 1
            tracer.enabled = traced
            cycle_wall = 0.0
            for j, op in enumerate(w.cycle(i)):
                rec = {"id": f"{i}.{j}", "kind": op.kind, "cycle": i,
                       "traced": traced}
                if op.pre:
                    op.pre()
                if traced:
                    group = counter.tag(op.kind)
                    cpu0 = tree_usage()[0]
                tracer.op_id = rec["id"]
                op_steal0 = host_steal_s()
                t0 = time.perf_counter()
                try:
                    result = op.run()
                    rec["wall"] = time.perf_counter() - t0
                    rec["ok"] = bool(op.check(result))
                except Exception:  # an operation that raises counts as failed
                    rec["wall"] = time.perf_counter() - t0
                    rec["ok"] = False
                    traceback.print_exc(file=sys.stderr)
                rec["steal_s"] = host_steal_s() - op_steal0
                if traced:
                    rec["cpu_s"] = tree_usage()[0] - cpu0
                    rec["group"] = group
                if op.post:
                    op.post(rec)
                if not rec["ok"]:
                    print(f"perfbench: {op.kind} {rec['id']} failed its check",
                          file=sys.stderr)
                ops.append(rec)
                cycle_wall += rec["wall"]
            cycles.append({"i": i, "wall": cycle_wall, "traced": traced})
            i += 1
        tracer.enabled = False
    elapsed = time.perf_counter() - t_start
    return ops, cycles, elapsed, rss.peak_mb, host_steal_s() - steal0


def _layer_metrics(w, ops, cycles, tracer, counter, cores):
    from perfbench.trace import self_times
    from perfbench.workloads import median

    traced = [o for o in ops if o["traced"]]
    for o in traced:
        o["jobs"], o["stages"], o["tasks"] = counter.counts(o["group"])
    n = max(1, len(traced))
    wall = sum(o["wall"] for o in traced)
    cpu = sum(o["cpu_s"] for o in traced)
    plain = [c["wall"] for c in cycles if not c["traced"]]
    with_trace = [c["wall"] for c in cycles if c["traced"]]
    metrics = {
        "spark.jobs_per_op": sum(o["jobs"] for o in traced) / n,
        "spark.stages_per_op": sum(o["stages"] for o in traced) / n,
        "spark.tasks_per_op": sum(o["tasks"] for o in traced) / n,
        "spark.cpu_s_per_op": cpu / n,
        "spark.cpu_util": cpu / max(1e-9, wall * cores),
        "trace.overhead_pct": 100.0 * (median(with_trace) / median(plain) - 1.0),
    }
    report = dict(metrics)
    report.update(w.layers(traced, tracer.spans))
    by_layer: dict[str, float] = {}
    for name, secs in self_times(tracer.spans).items():
        layer = name.split(".")[0]
        by_layer[layer] = by_layer.get(layer, 0.0) + secs
    for layer, secs in sorted(by_layer.items()):
        report[f"self_ms_per_op.{layer}"] = secs * 1e3 / n
    report["self_ms_per_op.unattributed"] = (
        wall - sum(by_layer.values())) * 1e3 / n
    for side, picked in (("untraced", False), ("traced", True)):
        sub = [o for o in ops if o["traced"] == picked]
        subc = [c for c in cycles if c["traced"] == picked]
        m, _ = w.end_to_end(sub, subc, sum(c["wall"] for c in subc))
        report.update({f"e2e_{side}.{k}": v for k, v in m.items()})
    return metrics, report


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "corkscrew_spark", "__init__.py")):
        print("perfbench: corkscrew_spark is not beside the benchmark; "
              "run from a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark gets half the machine's CPUs: the other half keeps the JVM's
    # compiler and GC threads, the Python driver and other tenants of a
    # shared host from stalling Spark's tasks
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _environment(work, cores)

    from perfbench.trace import JobCounter, Tracer
    from perfbench.workloads import WORKLOADS as CLASSES

    t0 = time.perf_counter()
    spark = _start_spark(work, cores)
    try:
        session_s = time.perf_counter() - t0
        w = CLASSES[args.workload](spark, args.seed, args.size,
                                   os.path.join(work, "data"))
        w.setup()
        setup_s = time.perf_counter() - t0
        if args.corrupt:
            w.corrupt()
        tracer, counter = Tracer(), JobCounter(spark.sparkContext)
        if args.trace:
            w.instrument(tracer)
        try:
            ops, cycles, elapsed, peak_mb, steal_s = _timed(
                w, args.seconds, bool(args.trace), tracer, counter)
        finally:
            tracer.restore()
        # traced runs only (the run budget has no room for it in every
        # run); after the measurement, on a warm JVM, as bench.py runs it
        # (run before, the job's own plan is not yet compiled and reads high)
        calib_s = _calibrate(spark) if args.trace else None
        failed = sum(1 for o in ops if not o["ok"])
        e2e, named = w.end_to_end(ops, cycles, sum(c["wall"] for c in cycles))
        e2e["setup_s"] = setup_s
        context = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "cores": cores, "calib_sec": calib_s,
            "session_s": session_s, "elapsed_s": elapsed,
            "host_steal_s": steal_s, "peak_rss_mb": peak_mb,
            "cycles": len(cycles), "operations": len(ops),
            "inputs": w.extra, "named": named,
        }
        if args.trace:
            metrics, report = _layer_metrics(w, ops, cycles, tracer, counter,
                                             cores)
            print("# layers " + json.dumps(report, sort_keys=True))
            units = LAYER_UNITS
        else:
            metrics, units = e2e, E2E_UNITS
        print("# context " + json.dumps(context, sort_keys=True, default=str))
        stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        with open(os.path.join(out_dir, f"{stamp}.json"), "w") as fh:
            json.dump({"context": context, "end_to_end": e2e,
                       "report": report if args.trace else None,
                       "operations": ops, "cycles": cycles,
                       "spans": tracer.spans}, fh, default=str)
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # skip interpreter teardown: finalizers of PySpark's Java handles
    # would try to reach the JVM that _stop_spark already ended
    os._exit(code)
