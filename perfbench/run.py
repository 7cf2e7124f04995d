#!/usr/bin/env python3
"""Panel-CV benchmark for panelsplit_spark.

Run from the repository root:

    python3 perfbench/run.py --workload oof_linear --seed 1 --seconds 20 --trace 0

It generates a seeded panel, writes it as parquet, and runs one workload
(see workloads.py) closed-loop on ``local[<nproc>]``: one driver thread
issues the next operation only after the previous one completed. Every
operation's output is checked against a numpy oracle. The last stdout
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Everything written (data, Spark scratch, the
OOF sink) stays under ``.perfbench_work/`` and is removed at exit; span
dumps of traced runs go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from typing import Optional

ROOT = os.getcwd()
#: an op is measured until this many have run, even past ``--seconds``
MIN_OPS = 2
#: generation + parquet write is repeated this many times in set-up
SETUP_REPS = 3
#: untimed ops run in set-up, after the session starts: the first pays
#: class loading and compilation, the second still ran ~8% slower than
#: the ops after it
WARMUP_OPS = 2


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ----------------------------------------------------------------------
# process-tree memory
# ----------------------------------------------------------------------


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the Python
    driver, the JVM it launched and Spark's Python workers)."""
    kids = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Samples the process tree's resident memory every ``period``
    seconds on a background thread and keeps the peak."""

    def __init__(self, period: float = 0.2) -> None:
        self.peak = 0
        self._period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            if self._stop.wait(self._period):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ----------------------------------------------------------------------
# Spark session
# ----------------------------------------------------------------------


def start_session(work: str, nproc: int):
    from pyspark.sql import SparkSession

    # C1-only JIT: with tiered C2 compilation op times kept falling for
    # over a minute (one run is ~20 s of ops), and the point a run stopped
    # on the curve dominated its median. With C1 the ops after the
    # warm-up ops are at the steady level.
    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", "-XX:TieredStopAtLevel=1")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * nproc))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def versions(spark) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    jvm = spark.sparkContext._jvm
    return {"spark": spark.version, "pyspark": pyspark.__version__,
            "jvm": jvm.System.getProperty("java.version"),
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
            "pandas": pandas.__version__, "python": sys.version.split()[0]}


# ----------------------------------------------------------------------
# the run
# ----------------------------------------------------------------------


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio"):
        return "share"
    return "count"


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def attempt(wl, spark, data_dir: str, sink: str, counters=None):
    """One operation: ``(seconds, spark counters, mismatches)``. Only the
    op is timed; the oracle check runs after the clock stops. An op that
    raises has no time and one mismatch holding its traceback."""
    last_job = counters.last_job_id() if counters else None
    t0 = time.perf_counter()
    try:
        res = wl.op(spark, data_dir, sink)
    except Exception:
        return None, None, ["raised:\n" + traceback.format_exc()]
    dt = time.perf_counter() - t0
    c = counters.since(last_job) if counters else None
    try:
        bad = wl.check(spark, res, sink)
    except Exception:
        bad = ["check raised:\n" + traceback.format_exc()]
    return dt, c, bad


def run(args, work: str, nproc: int, sampler: Optional[RssSampler]):
    import panel as pn
    import tracing
    from workloads import WORKLOADS

    from panelsplit_spark.utils import storage

    wl = WORKLOADS[args.workload](nproc)
    wl.prepare(wl.make_panel(args.seed))  # oracle: outside set-up time

    t0 = time.perf_counter()
    spark = start_session(work, nproc)
    session_s = time.perf_counter() - t0
    try:
        gen_write = []
        for k in range(SETUP_REPS):
            data_dir = os.path.join(work, f"data{k}")
            t0 = time.perf_counter()
            pn.write_panel(wl.make_panel(args.seed),
                           os.path.join(data_dir, "panel.parquet"), nproc)
            gen_write.append(time.perf_counter() - t0)
        sink = os.path.join(work, "oof.parquet")
        warm_s, warm_bad = [], []
        for _ in range(WARMUP_OPS):
            dt, _, bad = attempt(wl, spark, data_dir, sink)
            warm_s.append(dt or 0.0)
            warm_bad += bad
            storage.release_all_pinned(spark)
        setup_s = session_s + _median(gen_write) + sum(warm_s)

        tracer = tracing.Tracer() if args.trace else None
        counters = tracing.SparkCounters(spark) if args.trace else None
        traced_s, untraced_s = [], []
        per_op_spark, pinned, failures = [], [], []
        traced_ops = []
        deadline = time.perf_counter() + args.seconds
        op_id = 0
        while time.perf_counter() < deadline or op_id < MIN_OPS:
            traced = bool(args.trace) and op_id % 2 == 1
            if traced:
                tracer.install()
                tracer.begin_op(op_id)
                traced_ops.append(op_id)
            try:
                dt, c, bad = attempt(wl, spark, data_dir, sink, counters)
                if dt is not None:
                    (traced_s if traced else untraced_s).append(dt)
                if c is not None:
                    c["spark.busy_ratio"] = (
                        c["spark.executor_run_s"] / (dt * nproc))
                    per_op_spark.append(c)
                if bad:
                    failures.append((op_id, bad))
                storage.release_all_pinned(spark)
                pinned.append(len(storage.pinned_rdd_ids(spark)))
            finally:
                if traced:
                    tracer.uninstall()
            op_id += 1
        attempted = op_id
        record = {"workload": wl.name, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace,
                  "nproc": nproc, "shape": wl.panel.shape,
                  "fold_rows": wl.fold_rows, "versions": versions(spark),
                  "setup": {"session_s": session_s,
                            "gen_write_s": gen_write, "warmup_ops_s": warm_s},
                  "op_samples": len(untraced_s), "op_s": untraced_s,
                  "warmup_failures": warm_bad,
                  "failures": [(i, b[:5]) for i, b in failures]}
    finally:
        stop_session(spark)

    for i, bad in failures:
        print(f"op {i} failed: " + "; ".join(bad[:5]), file=sys.stderr)
    if warm_bad:
        print("warm-up op failed: " + "; ".join(warm_bad[:5]),
              file=sys.stderr)
    failed = len(failures)
    correct = failed == 0 and not warm_bad
    if not args.trace:
        p50 = _median(untraced_s)
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_s_p50": (p50, "s"),
            "fold_rows_per_s": (wl.fold_rows / p50 if p50 else 0.0, "rows/s"),
            "ops_ok_ratio": ((attempted - failed) / attempted, "share"),
        }
        print(f"{wl.name}: op_s_p50={p50:.4f} s over {len(untraced_s)} ops, "
              f"setup_s={setup_s:.3f} s, ops_failed_ratio="
              f"{failed / attempted:.4f} ({failed}/{attempted}), "
              f"fold_rows_per_s={metrics['fold_rows_per_s'][0]:.0f}")
    else:
        metrics = {name: (_median(vals), _unit(name))
                   for name, vals in tracer.per_op(traced_ops).items()}
        for name in tracing.COUNTERS + ("spark.busy_ratio",):
            metrics[name] = (_median([c[name] for c in per_op_spark]),
                             _unit(name))
        metrics["storage.pinned_after_release"] = (max(pinned), "count")
        metrics["trace.overhead_s"] = (
            _median(traced_s) - _median(untraced_s), "s")
        metrics["peak_rss_mb"] = (sampler.peak / 2**20, "MB")
        exact = ("spark.jobs", "spark.stages", "spark.tasks",
                 "spark.input_records")
        record["spark_counts_repeat"] = all(
            len({c[k] for c in per_op_spark}) == 1 for k in exact)
        record["spark_per_op"] = per_op_spark
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(
            out_dir, f"spans-{wl.name}-seed{args.seed}.json"))
    print(json.dumps({"run_record": record}))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))


def make_workdir(name: str) -> str:
    """Create ``.perfbench_work/<name>`` in the checkout and point every
    temp location of this process and its children at it: Python's
    ``tempfile``, Spark's scratch, the program's parquet layout cache,
    and the temp files of every JVM started (the ``spark-submit``
    launcher included). Spark's Python workers import the program from
    the checkout root."""
    work = os.path.join(ROOT, ".perfbench_work", name)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CACHE_DIR": os.path.join(work, "layout-cache"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return work


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "panelsplit_spark",
                                       "__init__.py")):
        print("perfbench: panelsplit_spark/ not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = make_workdir(f"{args.workload}-{os.getpid()}")
    try:
        # memory is a per-layer number: sample it only in traced runs,
        # so the end-to-end runs carry no instrumentation thread
        if args.trace:
            with RssSampler() as sampler:
                run(args, work, nproc, sampler)
        else:
            run(args, work, nproc, None)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
