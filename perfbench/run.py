"""Job-level benchmark of the quality-filter engine.

Run from the repository root:

    python3 perfbench/run.py --workload fresh_crawl --seed 1 \\
        --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``fresh_crawl`` and ``crash_resume``,
the two in BENCHMARK.json, and ``igt_classify``.
The engine runs on ``local[<cores>]`` with the shipped
``session.get_spark`` defaults; this program adds no Spark conf.

One run:

1. set-up: a cold JVM start, the session and a first tiny UDF job,
   once (``setup_s``). Each costs about 14 s on a 4-core host, so
   repeating it would leave no time for the job within the run
   budget. Input generation is not part of it.
2. untimed preparation: seeded inputs (cached under ``.bench_cache``)
   and, for ``crash_resume``, the uninterrupted reference run, which
   also warms the session.
3. with ``--trace 0``: timed repetitions until ``--seconds`` have
   passed, each checked. With ``--trace 1``: one repetition whose job
   and re-run each run in a Spark job group, so the status stores give
   the counters of the program's own plan; then the job decomposed
   into its public calls, one span each, for the per-layer times
   (``trace.overhead_s`` is the decomposed job's time minus the
   untraced one's); then the workload's probe of the layers its job
   does not use.
4. the full correctness gate on the last untraced repetition's output.

Every metric is printed as ``metric <name> <value> <unit> n=<samples>``;
the last line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``; a layer the
workload does not run reads 0). The exit code is 0 only when every
check passed, and 2 when the engine is missing.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s", "job_s": "s", "docs_per_s": "docs/s", "noop_rerun_s": "s",
}
PER_LAYER = {
    "session.start_s": "s", "session.udf_warm_s": "s",
    "dedup.busy_s": "s", "dedup.rows_in": "count", "dedup.rows_out": "count",
    "dedup.collapse_ratio": "ratio", "dedup.shuffle_mb": "MiB",
    "udf.busy_s": "s", "udf.rows": "count", "udf.useful_ratio": "ratio",
    "udf.py_run_s": "s", "udf.py_init_s": "s", "udf.arrow_in_mb": "MiB",
    "udf.arrow_out_mb": "MiB", "udf.task_p50_s": "s", "udf.task_max_s": "s",
    "sink.busy_s": "s", "sink.out_mb": "MiB",
    "lineage.busy_s": "s", "lineage.resume_probe_s": "s",
    "lineage.audit_s": "s",
    # crash_resume's probe
    "neardup.busy_s": "s", "neardup.jobs": "count",
    "neardup.shuffle_mb": "MiB", "neardup.rows_in": "count",
    "neardup.losers": "count",
    # fresh_crawl's probe
    "mentions.busy_s": "s", "mentions.rows": "count",
    "instances.busy_s": "s", "instances.rows": "count",
    "train.busy_s": "s", "train.jobs": "count", "score.busy_s": "s",
    # the untraced job's own Spark jobs
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.tasks_failed": "count", "spark.shuffle_write_mb": "MiB",
    "spark.spill_mb": "MiB", "job.self_s": "s", "trace.overhead_s": "s",
    # CPU seconds of the JVM and its Python workers over the job and
    # re-run: the work, without the time a shared host steals
    "job.cpu_s": "s", "noop.cpu_s": "s",
    # JVM heap grows lazily up to the shipped 8g, so peak RSS follows GC
    # timing (5.0-7.1 GiB between runs of one workload) — too loose to
    # bound end to end
    "peak_rss_mb": "MiB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None,
                   help="input size override (self-test only)")
    args = p.parse_args(argv)
    if args.seed < 0:
        p.error("--seed must be >= 0")
    return args


def log(msg: str) -> None:
    # leading newline: Spark's console progress bar ends without one
    print(f"\nperfbench: {msg}", file=sys.stderr, flush=True)


def emit(name: str, value: float, unit: str, n: int = 1) -> None:
    print(f"metric {name} {value:.6g} {unit} n={n}")


def start_session(cores: int, warm_pages):
    """Session start, then the first tiny job through the fused UDF
    (Python worker spawn, model broadcast). Returns (spark, start_s,
    warm_s)."""
    from pyspark.sql import functions as F

    from lgid_spark.pipeline import quality_pipeline
    from lgid_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    labelled = quality_pipeline(spark, spark.createDataFrame(warm_pages))
    labelled.select(F.sum(F.length("scrubbed_text"))).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_spark(spark) -> None:
    """Stop the context and the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def report(rep: dict) -> bool:
    """Print a repetition's failed checks; True if there were any."""
    if rep["errors"]:
        log("check failed: " + "; ".join(rep["errors"]))
    return bool(rep["errors"])


def timed_reps(wl, seconds: float):
    """Repetitions until ``seconds`` passed; a repetition that raises is
    counted as failed."""
    reps, attempted, failed = [], 0, 0
    t0 = time.perf_counter()
    while True:
        attempted += 1
        try:
            rep = wl.run()
        except Exception:
            traceback.print_exc()
            failed += 1
        else:
            failed += report(rep)
            reps.append(rep)
        if time.perf_counter() - t0 >= seconds:
            return reps, attempted, failed


def traced_run(wl, tracer, status):
    """The ``--trace 1`` part: an untraced repetition in job groups,
    the decomposed one, then the workload's probe. Returns (the
    untraced repetition, per-layer metrics, extra metrics, errors)."""
    from perfbench.spans import self_times

    base = wl.run(tracer)
    layer = wl.plan_metrics(tracer, status, base)
    eng = status.stage_counters(
        status.job_ids(tracer.by_name("job")[0].group))
    rep, decomposed = wl.traced(tracer, status)
    layer.update(decomposed)
    probe, extra, errors = wl.probe(tracer, status)
    layer.update(probe)
    root = tracer.by_name("traced")[0]
    layer.update({
        "spark.jobs": eng["jobs"],
        "spark.tasks": eng["tasks"],
        "spark.tasks_failed": eng["tasks_failed"],
        "spark.shuffle_write_mb": eng["shuffle_write_bytes"] / 2**20,
        "spark.spill_mb": eng["spill_bytes"] / 2**20,
        "job.self_s": self_times(tracer.spans)[root.span_id],
        "trace.overhead_s": rep["job_s"] - base["job_s"],
    })
    return base, layer, extra, errors + rep["errors"]


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import lgid_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}",
              file=sys.stderr)
        return 2
    from lgid_spark.datagen import pandas_web_pages
    from perfbench.proctree import PeakRss
    from perfbench.spans import Tracer
    from perfbench.status import StatusReader
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    Workload = WORKLOADS[args.workload]
    work = ROOT / ".bench_work" / f"run-{os.getpid()}"
    work.mkdir(parents=True)
    # Python workers import the engine from this checkout; Spark's
    # scratch space and every temporary file stay inside it too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tmp = work / "tmp"
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""),
         f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]).strip()
    cores = len(os.sched_getaffinity(0))

    spark = None
    errors, extra, layer = [], {}, {}
    try:
        spark, start_s, warm_s = start_session(cores, pandas_web_pages(8))
        log(f"set-up {start_s:.2f} + {warm_s:.2f} s")
        t_prep = time.perf_counter()
        wl = Workload(spark, args.seed, args.docs or Workload.default_docs,
                      work)
        log(f"preparation {time.perf_counter() - t_prep:.1f} s")
        status = StatusReader(spark)
        with PeakRss(spark.sparkContext._gateway.proc.pid) as rss:
            if args.trace:
                tracer = Tracer(f"s{args.seed}", spark.sparkContext)
                base, layer, extra, errors = traced_run(wl, tracer, status)
                reps, attempted, failed = [base], 2, int(report(base))
            else:
                reps, attempted, failed = timed_reps(wl, args.seconds)
        log(f"job_s {[round(r['job_s'], 2) for r in reps]}")
        t_check = time.perf_counter()
        if reps:
            more, gate = wl.check(reps[-1])
            extra.update(more)
            errors += gate
        else:
            errors.append("no repetition finished")
        log(f"gate {time.perf_counter() - t_check:.1f} s")
        if errors:
            log("check failed: " + "; ".join(errors))
            if reps and not reps[-1]["errors"]:
                failed += 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if not reps:
        return 1
    med = statistics.median(r["job_s"] for r in reps)
    e2e = {
        "setup_s": start_s + warm_s,
        "job_s": med,
        "docs_per_s": wl.docs / med,
    }
    layer.update({
        "session.start_s": start_s,
        "session.udf_warm_s": warm_s,
        "peak_rss_mb": rss.peak / 2**20,
        "job.cpu_s": statistics.median(r["job_cpu_s"] for r in reps),
    })
    if "noop_rerun_s" in reps[0]:  # the classify workload has no re-run
        e2e["noop_rerun_s"] = statistics.median(
            r["noop_rerun_s"] for r in reps)
        layer["noop.cpu_s"] = statistics.median(r["noop_cpu_s"] for r in reps)
    for k, v in e2e.items():
        emit(k, v, END_TO_END[k], 1 if k == "setup_s" else len(reps))
    for k, (v, unit) in extra.items():
        emit(k, v, unit)
    emit("fail_frac", failed / attempted, "ratio", attempted)
    if args.trace:
        for k, unit in PER_LAYER.items():
            emit(k, layer.get(k, 0.0), unit)
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        for k in ("job.cpu_s", "noop.cpu_s", "peak_rss_mb"):
            if k in layer:
                emit(k, layer[k], PER_LAYER[k], len(reps))
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    correct = failed == 0 and not errors
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
