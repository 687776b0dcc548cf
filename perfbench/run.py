#!/usr/bin/env python3
"""sparkkg benchmark: one closed-loop client on the program's public API.

Run from the repository root:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0

One driver process, one client: each call starts only after the
previous one returned, on ``local[<usable cores>]``.  A run

1. generates (or reuses) its seeded inputs and their references;
2. sets the program up once, as a fresh process does (JVM and session
   start, weights broadcast, Python-worker warm-up): ``setup_s``;
3. runs one untimed, checked warm-up operation, the cold first run;
4. runs timed operations until ``--seconds`` have passed, releasing
   every materialization and checking every output after each one,
   outside the timed region;
5. prints input sizes, then one JSON line: ``correct``, ``attempted``,
   ``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json,
   or with ``--trace 1`` its per-layer metrics).

With ``--trace 1`` the Spark event log is on, and timed operations
alternate between untraced and traced; per-layer numbers come from the
traced ones, the difference between the two is the tracing overhead,
and all spans are written to ``.perfbench/traces/``.

Everything the run writes stays under ``.perfbench/`` in the current
directory.  Without the program's sources there, it exits with code 2.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from spans import Tracer, read_event_log, span_table  # noqa: E402
from workloads import WORKLOADS, release  # noqa: E402

# The program's default driver heap is 8g, committed and pre-touched at
# start (-Xms8g -XX:+AlwaysPreTouch), so the JVM's resident size is the
# heap size before any work runs.  The benchmark's inputs need far less;
# a 1g heap keeps peak_rss_mb a measure of the work, not of the setting.
DRIVER_MEM = "1g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(root: str, run_dir: str) -> None:
    """Point every file the program or Spark writes into the checkout,
    and let Python workers import the program from it."""
    local = os.path.join(run_dir, "local")
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARKKG_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARKKG_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local


def _spark_conf(run_dir: str, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def _warm_workers(spark, cpus: int) -> None:
    """Start every Python worker and import the program in it."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def warm(x):
        import knowledgeextraction_spark.operators.detect  # noqa: F401

        return x

    spark.range(0, cpus, 1, cpus).select(warm("id")).count()


def setup(conf: dict[str, str], cpus: int):
    """(spark, [session_s, weights_s, warmup_s]): the JVM and session
    start, the weights load and broadcast, and the Python-worker start."""
    from knowledgeextraction_spark.broadcast import weights_broadcast
    from knowledgeextraction_spark.core import artifacts
    from knowledgeextraction_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.monotonic()
    artifacts.get_weights.cache_clear()  # the reference checks may have loaded them
    weights_broadcast(spark)
    t2 = time.monotonic()
    _warm_workers(spark, cpus)
    t3 = time.monotonic()
    return spark, [t1 - t0, t2 - t1, t3 - t2]


def _stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM that pyspark launched."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    """Counts of attempted and failed operations, and the timed results."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0

    def op(self, tracer, i: int, collect: bool = False):
        """One checked operation; None if it raised."""
        size = self.wl.checks_per_op
        try:
            r = self.wl.op(tracer, i, collect=collect)
        except Exception:  # a failed operation is a result, not a crash
            traceback.print_exc()
            self.attempted += size
            self.failed += size
            release(self.wl.spark)  # what the failed call left behind
            return None
        r.op = i
        verdicts = self.wl.check(r)
        verdicts = verdicts if isinstance(verdicts, list) else [verdicts]
        self.attempted += len(verdicts)
        self.failed += verdicts.count(False)
        if False in verdicts:
            print(f"perfbench: output check failed in operation {i}", file=sys.stderr)
        return r


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "knowledgeextraction_spark", "__init__.py")):
        print("perfbench: run from the repository root; knowledgeextraction_spark/ is missing",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(work, "runs", run_id)
    _environment(root, run_dir)
    try:
        return _run(args, spec, work, run_dir, run_id, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, spec, work: str, run_dir: str, run_id: str, wl_class) -> int:
    cpus = len(os.sched_getaffinity(0))
    wl = wl_class(work, args.seed)
    phases = {"start": time.monotonic()}
    sizes = {k: inputs.dir_size(v) for k, v in wl.make_inputs().items()}
    phases["inputs"] = time.monotonic()

    rss_file = os.path.join(run_dir, "peak_rss_mb")
    sampler = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "rss.py"), str(os.getpid()), rss_file]
    )
    spark = None
    try:
        spark, setup_parts = setup(_spark_conf(run_dir, bool(args.trace)), cpus)
        phases["setup"] = time.monotonic()
        wl.prepare(spark)
        off = Tracer(spark, run_id, enabled=False)
        on = Tracer(spark, run_id, enabled=bool(args.trace))
        run = Run(wl)
        first = run.op(off, 0, collect=True)  # warm-up: untimed, fully checked
        phases["warm-up"] = time.monotonic()

        timed, traced = [], []
        t_start = time.monotonic()

        def done() -> bool:
            # a traced run brackets each traced operation by untraced ones
            if not timed or (args.trace and (not traced or len(timed) < 2)):
                return False
            return time.monotonic() - t_start >= args.seconds

        i, errors = 1, 0
        while not done() and errors < 3:
            tracing = bool(args.trace) and i % 2 == 0
            r = run.op(on if tracing else off, i)
            if r is None:
                errors += 1
            else:
                (traced if tracing else timed).append(r)
            i += 1
        phases["measure"] = time.monotonic()
        _stop_jvm(spark)
        spark = None
        phases["stop"] = time.monotonic()
    finally:
        if spark is not None:
            _stop_jvm(spark)
        sampler.terminate()
        sampler.wait()
    with open(rss_file) as f:
        peak_rss_mb = float(f.read())
    wl.close()

    for name, (rows, size) in sizes.items():
        print(f"input {name}: rows={rows} bytes={size}")
    print(f"setup (session, weights, warm-up) s: {[round(x, 3) for x in setup_parts]}")
    marks = list(phases.items())
    print("phases s: " + ", ".join(
        f"{name} {t - prev:.1f}" for (_p, prev), (name, t) in zip(marks, marks[1:])))
    print(f"timed operations: {len(timed)}, walls s: {[round(sum(r.samples), 3) for r in timed]}")
    print(f"call latencies s: {[[round(x, 3) for x in r.samples] for r in timed]}")
    if not timed:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1

    if args.trace:
        values = _per_layer(args, spec, wl, on, first, timed, traced, setup_parts, run_dir, cpus,
                            work, run_id)
        names = spec["per_layer"]
    else:
        values = {
            "setup_s": sum(setup_parts),
            "items_per_s": statistics.median([r.items / sum(r.samples) for r in timed]),
            "rows_out_per_s": statistics.median([r.rows_out / sum(r.samples) for r in timed]),
            "peak_rss_mb": peak_rss_mb,
        }
        names = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def _per_layer(args, spec, wl, tracer, first, timed, traced, setup_parts, run_dir, cpus,
               work, run_id) -> dict[str, float]:
    """Every per-layer metric of BENCHMARK.json; layers this workload does
    not call read 0."""
    groups = read_event_log(os.path.join(run_dir, "eventlog"))
    table = span_table(tracer.spans, groups, cpus)
    values: dict[str, float] = {m["name"]: 0 for m in spec["per_layer"]}
    for span, row in table.items():
        for k, v in row.items():
            key = f"{span}.{k}"
            if key in values:
                values[key] = v
    for name, vals in tracer.counts.items():
        values[name] = statistics.median(vals)
    for part, v in zip(("session_s", "weights_s", "warmup_s"), setup_parts):
        values[f"setup.{part}"] = v
    if first is not None:
        values[f"{wl.name}.first_op_s"] = sum(first.samples)
    values[f"{wl.name}.failed_tasks"] = sum(g["failed_tasks"] for g in groups.values())

    untraced_wall = statistics.median([sum(r.samples) for r in timed])
    traced_wall = statistics.median([sum(r.samples) for r in traced])
    values["trace.overhead_s"] = traced_wall - untraced_wall
    top = [s for s in tracer.spans if s["parent"] is None]
    covered = {}
    for s in top:
        covered[s["op"]] = covered.get(s["op"], 0.0) + s["end"] - s["start"]
    values["trace.span_coverage"] = statistics.median(
        [covered.get(r.op, 0.0) / sum(r.samples) for r in traced]
    )
    summary = {
        "workload": wl.name,
        "seed": args.seed,
        "spans": table,
        "counts": tracer.counts,
        "untraced_op_wall_s": [sum(r.samples) for r in timed],
        "traced_op_wall_s": [sum(r.samples) for r in traced],
    }
    if wl.name == "kg_build":
        # cross-check: pipeline spans (stage write + lineage) against the
        # program's own PipelineResult.stage_times (stage write only)
        summary["stage_times_ms"] = [r.payload["stage_times"] for r in timed]
    os.makedirs(os.path.join(work, "traces"), exist_ok=True)
    tracer.write(os.path.join(work, "traces", f"{run_id}.json"), summary)
    return values


if __name__ == "__main__":
    sys.exit(main())
