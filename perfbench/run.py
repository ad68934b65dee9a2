"""Benchmark of the lucene_plugin_spark search service.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve_zipf --seed 1 --seconds 10 --trace 0

One process, one closed-loop client, Spark on ``local[4]``.  The workload's
inputs come from ``--seed`` (see ``gen.py``).  After the timed run every
answer sampled for checking is compared with ``oracle.py`` and the index with
``storage.checker``; failed and wrong operations count in ``failed``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is the separate
traced run: it wraps the package's entry points, prints a self-time table per
layer, writes the spans to ``.perfbench_out/`` and prints the per-layer
metrics.  The last line of standard output is always one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  Metric definitions and
the layer map are in ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = 4


def _metric(v: float, unit: str) -> dict:
    return {"value": float(v), "unit": unit}


def end_to_end(w, setup_s: float, peak_rss_mb: float) -> dict:
    import numpy as np
    lat = np.asarray(w.lat, dtype=np.float64) * 1e3
    return {
        "setup_s": _metric(setup_s, "s"),
        "p50_ms": _metric(np.percentile(lat, 50), "ms"),
        "items_per_s": _metric(w.throughput(), "1/s"),
        "peak_rss_mb": _metric(peak_rss_mb, "MB"),
    }


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "lucene_plugin_spark", "__init__.py")):
        print("perfbench: run from the root of a lucene_plugin_spark checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # Spark, its Python workers and temp files stay inside the checkout
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -UsePerfData: no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # A 1 GB driver heap in place of get_spark's 8 GB default: with 8 GB the
    # JVM's resident set follows when the collector happens to run, and
    # peak_rss_mb read 2.9-4.4 GB over seeds of one workload.  See
    # perfbench/NOTES.md.
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")

    from lucene_plugin_spark.session import get_spark
    spark = get_spark("perfbench", cores=CORES, shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return _run(args, spark, work, root, t_start)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Ctx:
    def __init__(self, spark, gen, work, rec, proc):
        self.spark, self.gen, self.work, self.rec, self.proc = spark, gen, work, rec, proc


def _run(args, spark, work, root, t_start) -> int:
    from gen import Generator
    from spans import ProcSampler, Recorder, hwm_mb
    from workloads import WORKLOADS

    proc = ProcSampler(spark.sparkContext._gateway.proc.pid)
    rec = Recorder(spark) if args.trace else None
    if rec:
        rec.patch()
    ctx = Ctx(spark, Generator(args.seed), work, rec, proc)
    w = WORKLOADS[args.workload](ctx)
    w.setup()
    setup_s = time.perf_counter() - t_start
    proc.sample(force=True)
    # the checks' own state is neither set-up time nor the program's memory
    rss0 = hwm_mb(os.getpid(), "VmRSS")
    w.prepare_checks()
    proc.harness_mb = max(hwm_mb(os.getpid(), "VmRSS") - rss0, 0.0)
    cpu0, use0 = proc.cpu(), w.usage()
    t_run = time.perf_counter()
    w.run(args.seconds)
    run_wall = time.perf_counter() - t_run
    cpu1, use1 = proc.cpu(), w.usage()
    proc.sample(force=True)
    if rec:
        rec.unpatch()
    t_check = time.perf_counter()
    w.check()
    check_s = time.perf_counter() - t_check
    failed = min(len(w.failures), w.attempted)

    print(f"workload {w.name}: {w.why}")
    print(f"ops {w.attempted} ({len(w.lat)} timed) in {run_wall:.1f} s; failed {failed}; "
          f"answer checks took {check_s:.1f} s")
    for f in w.failures:
        print(f"FAILED {f}")
    lines = [("setup_s", setup_s, "s"),
             ("failed_op_ratio", failed / max(w.attempted, 1), "ratio"),
             ("peak_rss_mb", proc.peak_rss_mb, "MB")] + w.report()
    for name, v, unit in lines:
        print(f"metric {name} {v:.6g} {unit}")

    if rec:
        from layers import per_layer
        metrics = per_layer(w, rec, cpu1[0] - cpu0[0], cpu1[1] - cpu0[1],
                            tuple(b - a for a, b in zip(use0, use1)),
                            os.path.join(root, ".perfbench_out"), args.seed)
    else:
        metrics = end_to_end(w, setup_s, proc.peak_rss_mb)
    print(json.dumps({"correct": failed == 0, "attempted": w.attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
