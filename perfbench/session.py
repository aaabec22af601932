"""The measured process: one Spark driver that sets up, warms up and runs
timed passes of a workload through the program's public entry points.

``run.py`` starts this script as a child process, so the child's process
tree (driver, JVM, Python workers) is exactly the program being measured.
The child writes its figures to ``--result`` as JSON and exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())   # the checkout root holds snacktory_spark

import hostspeed  # noqa: E402
import proctree  # noqa: E402


def start_session():
    """Set up exactly as a user of the program does: build_session with
    its defaults on local[<cores>], ship the package to the workers, and
    start one Python worker per core with the extraction modules
    imported."""
    from snacktory_spark.pipeline.extract_job import (build_session,
                                                      ensure_py_files)
    cores = len(os.sched_getaffinity(0))
    spark = build_session(app="perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_py_files(spark)

    def import_udf(batches):
        import snacktory_spark.udf  # noqa: F401
        for pdf in batches:
            yield pdf[["id"]]

    spark.range(0, cores, 1, cores).mapInPandas(import_udf, "id long").count()
    return spark


def run_pass(spark, workload: str, inputs: dict, out: str) -> dict:
    """One call of the workload's entry point; returns its metrics."""
    if workload == "corpus_prep":
        from snacktory_spark.pipeline.corpus_prep_job import run_corpus_prep
        return run_corpus_prep(spark, inputs["transcripts"], out,
                               bench_grams_path=inputs["grams"])
    from snacktory_spark.pipeline.extract_job import run_extract
    return run_extract(spark, inputs["transcripts"], out + "/extracted")


def timed_pass(spark, workload, inputs, out, rows, sampler, tracer=None):
    """Run one pass and measure it from outside: wall time, CPU seconds of
    the whole process tree, peak summed RSS, and the host-speed kernel
    before and after."""
    me = os.getpid()
    rec = {"host_before_ms": hostspeed.kernel_ms()}
    sampler.reset()
    cpu0 = proctree.tree_cpu_s(me)
    t0 = time.perf_counter()
    if tracer is not None:
        with tracer.span("pass") as desc:
            spark.sparkContext.setJobDescription(desc)
            try:
                rec["metrics"] = run_pass(spark, workload, inputs, out)
            finally:
                spark.sparkContext.setJobDescription(None)
        rec["description"] = desc
    else:
        rec["metrics"] = run_pass(spark, workload, inputs, out)
    rec["wall_s"] = time.perf_counter() - t0
    rec["cpu_s"] = proctree.tree_cpu_s(me) - cpu0
    rec["peak_rss_mb"] = sampler.peak()   # {"total", "jvm", "python"}
    rec["host_after_ms"] = hostspeed.kernel_ms()
    rec["turns_per_s"] = rows / rec["wall_s"]
    rec["out"] = out
    return rec


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--spawned-at", type=float, required=True,
                   help="time.time() at which the parent started this process")
    p.add_argument("--result", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--work", required=True, help="run directory of run.py")
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    a = p.parse_args()

    spark = start_session()
    res = {"setup_s": time.time() - a.spawned_at}
    try:
        res.update(measure(spark, a.workload, a.work, a.seconds,
                           bool(a.trace)))
    finally:
        spark.stop()
    with open(a.result, "w") as f:
        json.dump(res, f)


def measure(spark, workload: str, work: str, seconds: float,
            trace: bool) -> dict:
    with open(os.path.join(work, "input", "shares.json")) as f:
        rows = json.load(f)["rows"]
    inputs = {"transcripts": os.path.join(work, "input",
                                          "transcripts.parquet"),
              "grams": os.path.join(work, "input", "grams.parquet")}
    out_root = os.path.join(work, "out")
    res: dict = {"passes": []}
    with proctree.RssSampler(os.getpid()) as sampler:
        # the first pass after start-up runs up to 2x slower (JIT, codegen
        # caches) and the JIT keeps gaining after it: warm up with one
        # untimed pass over the same input, so a run times pass 2 on
        t0 = time.perf_counter()
        run_pass(spark, workload, inputs, os.path.join(out_root, "warm"))
        res["warmup_s"] = time.perf_counter() - t0
        shutil.rmtree(os.path.join(out_root, "warm"), ignore_errors=True)

        tracer = None
        if trace:
            from tracing import Tracer
            tracer = Tracer()
        start = time.perf_counter()
        i = 0
        # in a traced run, untraced and traced passes alternate starting
        # and ending untraced, so the traced passes' overhead is measured
        # against untraced passes on both sides of them in the same window
        while (i < (3 if trace else 1)
               or time.perf_counter() - start < seconds
               or (trace and i % 2 == 0)):
            traced = tracer if trace and i % 2 == 1 else None
            rec = timed_pass(spark, workload, inputs,
                             os.path.join(out_root, f"pass{i}"), rows,
                             sampler, traced)
            rec["traced"] = traced is not None
            res["passes"].append(rec)
            i += 1
        res["timed_s"] = time.perf_counter() - start
    if trace:
        from tracing import layer_metrics
        res["layers"] = layer_metrics(spark, work, res["passes"], tracer)
    return res


if __name__ == "__main__":
    main()
