"""Closed-loop benchmark of whitebox_tools_spark on local[nproc].

    python3 perfbench/run.py --workload docs_pip_tile --seed 1 --seconds 10 --trace 0

One driver process, one client: each pass starts when the previous one
returns. A run starts a Spark session, materializes the seeded inputs
(three times, for a steady set-up time), runs a cold pass and the
workload's warm-up passes, then measures passes for --seconds (at least
three). Only the passes are timed, and peak PSS is sampled only while
one runs. Every pass's output digest must equal the first pass's, and
after the last pass the first output is checked against brute-force
references; a mismatch or an exception counts as a failed pass.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0; per-layer span metrics from
one extra traced pass with --trace 1). The line before it holds
diagnostics, among them a host-speed probe taken before the run, so
that drift of the host can be told from a change of the program.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPEATS = 3
# Warm-up passes after the cold one are set per workload (its
# `warmup_passes`), from the pass times of a long session (README.md).
MIN_MEASURED = 3
UNTRACED_BEFORE_TRACE = 3
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s_p50": "s",
    "items_per_s": "1/s",
    "peak_pss_mb": "MB",
}

# Spans of all workloads; a traced run reports every one, and a span the
# workload never enters reads 0 (the layer did no work in it).
SPANS = ("docs.extract", "pip_join.tag", "tiling.count",
         "pip_join.cellcover", "knn.join", "lineage.write", "lineage.resume",
         "hydro.fill", "hydro.d8", "clump.label")
COUNTS = ("docs.points", "pip_join.tag_rows", "tiling.groups",
          "lineage.rows", "lineage.partitions", "clump.clumps")


def per_layer_units() -> dict[str, str]:
    units = {}
    for span in SPANS:
        units[f"{span}_s"] = "s"
        units[f"{span}.jobs"] = "count"
        units[f"{span}.tasks"] = "count"
        units[f"{span}.cpu_util"] = "ratio"
    units.update({c: "count" for c in COUNTS})
    units["trace.pass_s"] = "s"
    units["trace.overhead_s"] = "s"
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["docs_pip_tile", "cellcover_knn_dem"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="input size; tiny is for the benchmark's own smoke tests")
    return p.parse_args(argv)


def start_session(work: str, cores: int):
    """The package's session factory on local[cores], with every file
    Spark, the JVM and the Python workers write kept under `work`."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the launcher too) keeps its temp files in the checkout and
    # writes no perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    # the refine and fill kernels run in Python workers, which import the
    # package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from whitebox_tools_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", cores=cores, shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from procfs import is_running, process_tree

    started = process_tree(os.getpid())[1:]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)
    # the workers are the JVM's children, so they cannot be waited on here
    deadline = time.monotonic() + 30
    while True:
        alive = [pid for pid in started if is_running(pid)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            return
        time.sleep(0.1)


def hygiene(spark, pass_dir: str | None) -> None:
    """Between passes: free Python references, then let the JVM collect
    (its cleaner drops checkpoint blocks no longer referenced), drop the
    SQL cache and delete the pass's written output and lineage."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()
    spark.catalog.clearCache()
    if pass_dir is not None:
        shutil.rmtree(pass_dir, ignore_errors=True)


class Runner:
    """Runs passes of one workload and keeps the verdicts.

    Only `run_pass` is timed and sampled for PSS. The digest of each
    pass is taken after it; the first pass's output (and its directory)
    is kept for `verify`, which runs once, after the last pass."""

    def __init__(self, spark, workload, work: str, pss):
        self.spark = spark
        self.wl = workload
        self.work = work
        self.pss = pss
        self.ok: list[bool] = []
        self.first_digest = None
        self.first = None
        self.problems: list[str] = []
        self.checked = False

    def one_pass(self, tr) -> float:
        n = len(self.ok)
        pass_dir = os.path.join(self.work, f"pass{n}")
        ok = True
        try:
            with self.pss.window():
                t = time.perf_counter()
                try:
                    out = self.wl.run_pass(tr, pass_dir)
                finally:
                    dt = time.perf_counter() - t
            digest = self.wl.digest(out)
            if self.first_digest is None:
                self.first_digest = digest
                self.first = (out, pass_dir)
            elif digest != self.first_digest:
                self.problems.append(f"pass {n}: output digest differs from pass 0")
                ok = False
        except Exception:
            traceback.print_exc()
            self.problems.append(f"pass {n} raised")
            ok = False
        self.ok.append(ok)
        hygiene(self.spark, None if self.first and self.first[1] == pass_dir else pass_dir)
        return dt

    def verify(self) -> None:
        """Check the first good output against the references; a
        mismatch fails that pass."""
        if self.first is None:
            return
        out, pass_dir = self.first
        self.checked = True
        found = self.wl.check(out)
        if found:
            self.problems.extend(found)
            self.ok[self.ok.index(True)] = False
        shutil.rmtree(pass_dir, ignore_errors=True)

    @property
    def attempted(self) -> int:
        return len(self.ok)

    @property
    def failed(self) -> int:
        return self.ok.count(False)

    @property
    def correct(self) -> bool:
        return self.checked and not self.problems


def measure(runner: Runner, seconds: float, tr) -> list[float]:
    times = []
    start = time.perf_counter()
    while len(times) < MIN_MEASURED or time.perf_counter() - start < seconds:
        times.append(runner.one_pass(tr))
    return times


def run(args) -> dict:
    from tracing import NullTracer, Tracer
    from procfs import PeakPss, host_speed_probe
    import workloads

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    diag = {"workload": args.workload, "seed": args.seed, "cores": cores,
            "host_probe_s": host_speed_probe(cores)}
    untraced = NullTracer()
    with PeakPss(os.getpid()) as pss:
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        session_s = time.perf_counter() - t0
        try:
            wl = workloads.make(args.workload, spark, args.seed,
                                os.path.join(work, "inputs"), args.size)
            mats = []
            for _ in range(SETUP_REPEATS if not args.trace else 1):
                t = time.perf_counter()
                wl.materialize()
                mats.append(time.perf_counter() - t)
            runner = Runner(spark, wl, work, pss)
            cold = runner.one_pass(untraced)
            warm = [runner.one_pass(untraced) for _ in range(wl.warmup_passes)]
            if args.trace:
                passes = [runner.one_pass(untraced) for _ in range(UNTRACED_BEFORE_TRACE)]
                tracer = Tracer(spark, cores)
                traced = runner.one_pass(tracer)
                layer = {name: 0.0 for name in per_layer_units()}
                layer.update(tracer.metrics())
                layer["trace.pass_s"] = traced
                layer["trace.overhead_s"] = traced - statistics.median(passes)
            else:
                passes = measure(runner, args.seconds, untraced)
            runner.verify()
        finally:
            stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)
    p50 = statistics.median(passes)
    diag.update({"session_s": session_s, "materialize_s": mats, "cold_pass_s": cold,
                 "warmup_s": warm, "measured_s": passes, "problems": runner.problems})
    if args.trace:
        metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer_units().items()}
    else:
        values = {
            "setup_s": session_s + statistics.median(mats),
            "cold_pass_s": cold,
            "pass_s_p50": p50,
            "items_per_s": wl.items / p50,
            # each measured pass's own peak, then their median
            "peak_pss_mb": statistics.median(pss.window_peaks_mb[-len(passes):]),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"diagnostics": diag}))
    return {"correct": runner.correct, "attempted": runner.attempted, "failed": runner.failed,
            "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "whitebox_tools_spark", "__init__.py")):
        print(f"whitebox_tools_spark not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
