"""The benchmark's workloads: inputs, one timed repetition, one traced
repetition, a probe of the layers the job itself does not use, and the
correctness gate, each through the engine's public entry points only.

* ``fresh_crawl`` — an all-unique crawl slice through the default
  ``lineage.run_incremental`` job (exact dedup on, near-dup off) into
  empty output and metrics paths: the product's steady state. The
  fused UDF, the dedup exchange and the sink carry the load; resume
  has nothing to skip. The job is timed as the session's first, as
  each submission of the filter job runs it. Its probe runs the
  classify layers on a small IGT corpus.
* ``crash_resume`` — a dup-saturated slice (every 4th page has a
  messy-url exact twin, every 8th a near-duplicate twin) of which an
  earlier run committed 48 of the 64 buckets. A repetition restores
  that crashed state, times the resumed job, then times one more
  re-run that must process 0 rows. Dedup collapses the exact twins,
  and resume decides what is written. Its probe runs
  ``pipeline.near_dup_losers`` on the deduped slice.
* ``igt_classify`` — a freki-shaped IGT corpus through train-then-
  classify ``classify.classify_documents``; it never enters
  ``pipeline``. One job takes about 40 s at any corpus size on a
  4-core host — too long for BENCHMARK.json's run budget — so it runs
  only when named and in the self-test.

Every crawl repetition ends with the idempotent re-run of the finished
job, so ``noop_rerun_s`` exists on both crawl workloads.
"""

from __future__ import annotations

import shutil
import time
from contextlib import nullcontext
from pathlib import Path

from pyspark.sql import functions as F

from . import inputs
from .proctree import engine_cpu_seconds
from .spans import Tracer

N_BUCKETS = 64
CLASSIFY_DOCS = 300  # a classify job costs about the same at any size


def _tree_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*.parquet"))


def _bucket_books(spark, metrics_path: str):
    """Per-bucket lineage summed over snapshots, as {bucket: tuple}."""
    rows = (
        spark.read.parquet(metrics_path).groupBy("bucket").agg(
            F.sum("input_count"), F.sum("kept_count"),
            F.sum("dedup_dropped"), F.expr("bit_xor(checksum)"))
        .collect())
    return {r[0]: tuple(r[1:]) for r in rows}


def keep_f1(oracle_keep: dict, got_keep: dict) -> float:
    """F1 of keep=True over the oracle's urls; a url missing from the
    output counts as a wrong label."""
    tp = fp = fn = 0
    for url, want in oracle_keep.items():
        got = got_keep.get(url)
        tp += bool(want and got)
        fp += bool(got and not want)
        fn += bool(want and not got)
    fp += sum(1 for u, k in got_keep.items() if k and u not in oracle_keep)
    return 1.0 if tp + fp + fn == 0 else 2 * tp / (2 * tp + fp + fn)


def _no_span(name):
    return nullcontext()


class Crawl:
    """A crawl slice through the default ``run_incremental`` job (exact
    dedup on, near-dup off). Subclasses fix the slice's shape: how
    often a page has a messy-url twin or a near-duplicate twin, and how
    many buckets an earlier run had committed before the timed job
    starts."""

    name = ""
    dup_every = 0
    near_every = 0
    committed = 0
    default_docs = 0

    def __init__(self, spark, seed: int, n_docs: int, work: Path):
        from lgid_spark.lineage import run_incremental

        self.spark, self.seed, self.work = spark, seed, work
        self.input = str(inputs.crawl_pages_path(
            seed, n_docs, self.dup_every, self.near_every))
        pages = spark.read.parquet(self.input)
        self.n_input, self.html_bytes = pages.agg(
            F.count("*"), F.sum(F.length("html"))).collect()[0]
        self.docs = self.n_input
        self.rep_no = 0
        if not self.committed:
            # all pages unique: every row reaches the output, and the
            # first repetition's books are the reference for the others.
            # No warm-up: the timed job is the session's first filter
            # job, as in each submission of the filter job. An untimed
            # warm-up job costs about 20 s on a 4-core host, more than
            # the run budget leaves.
            self.expected_rows = self.n_input
            self.ref_metrics = str(work / "rep1" / "metrics")
            return
        # the uninterrupted run (also the session's warm-up), and the
        # state a crash right after committing buckets 0..committed-1
        # leaves behind
        ref = work / "reference"
        run_incremental(spark, pages, str(ref / "out"),
                        str(ref / "metrics"), "uninterrupted")
        self.ref_metrics = str(ref / "metrics")
        ref_books = _bucket_books(spark, self.ref_metrics)
        self.expected_rows = sum(
            v[0] for b, v in ref_books.items() if b >= self.committed)
        crash = work / "crash"
        for b in range(self.committed):
            src = ref / "out" / f"bucket={b}"
            if src.exists():
                shutil.copytree(src, crash / "out" / src.name)
        (spark.read.parquet(self.ref_metrics)
         .where(F.col("bucket") < self.committed)
         .write.parquet(str(crash / "metrics")))

    def _restore(self) -> tuple[Path, Path]:
        """Fresh output and metrics paths holding the starting state."""
        self.rep_no += 1
        d = self.work / f"rep{self.rep_no}"
        if self.committed:
            shutil.copytree(self.work / "crash" / "out", d / "out")
            shutil.copytree(self.work / "crash" / "metrics", d / "metrics")
        return d / "out", d / "metrics"

    def run(self, tracer: Tracer | None = None) -> dict:
        """One repetition: the job, then the idempotent re-run of the
        finished job, which must process 0 rows. With a tracer the two
        calls run in spans ``job`` and ``noop_rerun``, whose Spark job
        groups let :meth:`plan_metrics` read the status stores."""
        from lgid_spark.lineage import run_incremental

        span = tracer.span if tracer else _no_span
        spark = self.spark
        out, met = map(str, self._restore())
        pages = spark.read.parquet(self.input)
        with span("job"):
            t0, c0 = time.perf_counter(), engine_cpu_seconds(spark)
            r = run_incremental(spark, pages, out, met, "timed")
            t1, c1 = time.perf_counter(), engine_cpu_seconds(spark)
        with span("noop_rerun"):
            again = run_incremental(spark, pages, out, met, "rerun")
            t2, c2 = time.perf_counter(), engine_cpu_seconds(spark)
        rep = dict(job_s=t1 - t0, job_cpu_s=c1 - c0, noop_rerun_s=t2 - t1,
                   noop_cpu_s=c2 - c1, rows=r["processed_rows"], errors=[],
                   out=out, metrics=met)
        if r["processed_rows"] != self.expected_rows:
            rep["errors"].append(
                f"job processed {r['processed_rows']} rows, "
                f"expected {self.expected_rows}")
        if again["processed_rows"] != 0:
            rep["errors"].append(
                f"re-run processed {again['processed_rows']} rows")
        return rep

    def plan_metrics(self, tracer: Tracer, status, rep: dict) -> dict:
        """Fused-UDF and sink counters of the job that ``run(tracer)``
        ran, read from the status stores of its own plan."""
        jobs = status.job_ids(tracer.by_name("job")[0].group)
        py = status.node_metrics(jobs, "ArrowEvalPython")
        udf_rows = py.get("number of output rows", 0.0)
        p50, pmax = status.node_task_quantiles(jobs, "ArrowEvalPython")
        return {
            "udf.rows": udf_rows,
            # rows written per row the UDF labelled: the share of the
            # UDF's work that was needed
            "udf.useful_ratio": rep["rows"] / udf_rows if udf_rows else 0.0,
            "udf.py_run_s": py.get("time to run Python workers", 0.0),
            "udf.py_init_s":
                py.get("time to initialize Python workers", 0.0),
            "udf.arrow_in_mb":
                py.get("data sent to Python workers", 0) / 2**20,
            "udf.arrow_out_mb":
                py.get("data returned from Python workers", 0) / 2**20,
            "udf.task_p50_s": p50,
            "udf.task_max_s": pmax,
            "sink.out_mb": _tree_bytes(Path(rep["out"])) / 2**20,
        }

    def traced(self, tracer: Tracer, status) -> tuple[dict, dict]:
        """The job decomposed into the public calls ``run_incremental``
        makes, each materialised in its own span under ``traced``, then
        the audit. The spans give the layers' busy times; the dedup span
        also the counters of ``exact_dedup_pages`` called on its own."""
        from lgid_spark.lineage import (
            audit_lineage, committed_buckets, lineage_rows)
        from lgid_spark.pipeline import exact_dedup_pages, quality_pipeline

        spark = self.spark
        out, met = map(str, self._restore())
        pages = spark.read.parquet(self.input)
        with tracer.span("traced") as root:
            with tracer.span("lineage.resume_probe"):
                done = committed_buckets(spark, met)
                done.collect()
            with tracer.span("dedup"):
                deduped = exact_dedup_pages(
                    pages.select("url", "warc_ts", "html", "lang"),
                    N_BUCKETS).persist()
                dedup_rows = deduped.count()
            with tracer.span("udf"):
                todo = quality_pipeline(
                    spark, deduped, n_buckets=N_BUCKETS,
                    emit_extracted=False, extra_cols=("dup_count",),
                ).join(F.broadcast(done), "bucket", "left_anti").persist()
                n_rows = todo.count()
            with tracer.span("sink"):
                todo.write.mode("append").partitionBy("bucket").parquet(out)
            with tracer.span("lineage"):
                lin = lineage_rows(todo, "traced").persist()
                lin.count()
                lin.write.mode("append").parquet(met)
                lin.unpersist()
            todo.unpersist()
            deduped.unpersist()
        with tracer.span("lineage.audit"):
            audit_rows = audit_lineage(spark, out, met).count()

        def dur(name):
            return tracer.by_name(name)[0].duration

        dd = status.stage_counters(
            status.job_ids(tracer.by_name("dedup")[0].group))
        layer = {
            "dedup.busy_s": dur("dedup"),
            "dedup.rows_in": self.n_input,
            "dedup.rows_out": dedup_rows,
            "dedup.collapse_ratio": dedup_rows / self.n_input,
            "dedup.shuffle_mb": dd["shuffle_write_bytes"] / 2**20,
            "udf.busy_s": dur("udf"),
            "sink.busy_s": dur("sink"),
            "lineage.busy_s": dur("lineage"),
            "lineage.resume_probe_s": dur("lineage.resume_probe"),
            "lineage.audit_s": dur("lineage.audit"),
        }
        errors = []
        if n_rows != self.expected_rows:
            errors.append(f"traced job wrote {n_rows} rows, "
                          f"expected {self.expected_rows}")
        if audit_rows:
            errors.append(f"audit found {audit_rows} disagreeing buckets")
        return dict(job_s=root.duration, errors=errors), layer
    def check(self, rep: dict) -> tuple[dict, list[str]]:
        """Full gate on a finished repetition's output: the audit is
        empty, every input row is accounted for, and the books equal
        the reference run's per bucket (the uninterrupted run when
        resuming, else the first repetition). On a fresh crawl one
        golden bucket must also match the pure-pandas oracle byte for
        byte."""
        from lgid_spark.lineage import audit_lineage

        spark, errors = self.spark, []
        audit_rows = audit_lineage(spark, rep["out"], rep["metrics"]).count()
        if audit_rows:
            errors.append(f"audit found {audit_rows} disagreeing buckets")
        books = _bucket_books(spark, rep["metrics"])
        accounted = sum(v[0] + v[2] for v in books.values())
        if accounted != self.n_input:
            errors.append(f"books hold {accounted} of {self.n_input} rows")
        if self.ref_metrics != rep["metrics"]:
            ref_books = _bucket_books(spark, self.ref_metrics)
            bad = sorted(b for b in set(books) | set(ref_books)
                         if books.get(b) != ref_books.get(b))
            if bad:
                errors.append(f"buckets {bad[:8]} differ from the "
                              "reference run")
        extra = {"out_bytes_per_in_byte": (
            _tree_bytes(Path(rep["out"])) / self.html_bytes, "ratio")}
        if not self.committed:
            f1, scrub, n = self._golden_parity(rep["out"])
            extra.update(keep_f1=(f1, "ratio"),
                         scrub_exact_frac=(scrub, "ratio"),
                         golden_docs=(n, "count"))
            if f1 != 1.0 or scrub != 1.0:
                errors.append(f"golden bucket: keep_f1={f1:.4f} "
                              f"scrub_exact_frac={scrub:.4f}")
        return extra, errors

    def _golden_parity(self, out: str) -> tuple[float, float, int]:
        """(keep_f1, scrub_exact_frac, docs) of one seed-chosen bucket
        against ``oracle.reference.process_pages`` on its input pages."""
        from lgid_spark.oracle.reference import process_pages
        from lgid_spark.pipeline import canonical_url

        golden = self.seed % N_BUCKETS
        canon = canonical_url(F.col("url"))
        gold_in = (
            self.spark.read.parquet(self.input)
            .where(F.pmod(F.xxhash64(canon), F.lit(N_BUCKETS)) == golden)
            .toPandas())
        gold_in["warc_ts"] = gold_in["warc_ts"].dt.tz_localize(None)
        want = process_pages(gold_in)
        got = (self.spark.read.parquet(out)
               .where(F.col("bucket") == golden)
               .select("url", "keep", "scrubbed_text").toPandas())
        got_keep = dict(zip(got["url"], got["keep"]))
        got_text = dict(zip(got["url"], got["scrubbed_text"]))
        f1 = keep_f1(dict(zip(want["url"], want["keep"])), got_keep)
        exact = sum(got_text.get(u) == t
                    for u, t in zip(want["url"], want["scrubbed_text"]))
        return f1, exact / len(want) if len(want) else 1.0, len(want)


class FreshCrawl(Crawl):
    name = "fresh_crawl"
    default_docs = 2000

    def probe(self, tracer: Tracer, status):
        """The classify layers, which no crawl job uses, on a small IGT
        corpus in span ``classify``, off the timed path."""
        igt = IgtClassify(self.spark, self.seed, CLASSIFY_DOCS, self.work)
        with tracer.span("classify"):
            best, layer = igt.layers(tracer, status)
        extra, errors = igt.check(dict(best=best))
        return layer, extra, errors


class CrashResume(Crawl):
    name = "crash_resume"
    dup_every = 4
    near_every = 8
    committed = 48  # about 3/4 of the 64 buckets
    default_docs = 1000

    def probe(self, tracer: Tracer, status):
        """``pipeline.near_dup_losers`` — MinHash, LSH, exact Jaccard and
        connected components — on the slice after exact dedup, as
        ``run_incremental(near_dup=True)`` calls it, in span
        ``neardup``, off the timed path. Every near-duplicate twin of
        the input must come out as a loser."""
        from lgid_spark.pipeline import exact_dedup_pages, near_dup_losers

        pages = self.spark.read.parquet(self.input)
        twins = {r.url for r in pages.where(
            F.col("url").endswith(inputs.NEAR_SUFFIX)).select("url")
            .collect()}
        with tracer.span("neardup.input"):
            deduped = exact_dedup_pages(
                pages.select("url", "warc_ts", "html", "lang", "text"),
                N_BUCKETS).persist()
            rows_in = deduped.count()
        with tracer.span("neardup") as span:
            losers = {r.url for r in
                      near_dup_losers(deduped).select("url").collect()}
        deduped.unpersist()
        jobs = status.job_ids(span.group)
        layer = {
            "neardup.busy_s": span.duration,
            "neardup.jobs": len(jobs),
            "neardup.shuffle_mb":
                status.stage_counters(jobs)["shuffle_write_bytes"] / 2**20,
            "neardup.rows_in": rows_in,
            "neardup.losers": len(losers),
        }
        missed = len(twins - losers)
        errors = [f"near-dup kept {missed} of {len(twins)} twins"] \
            if missed else []
        return layer, {}, errors


class IgtClassify:
    name = "igt_classify"
    default_docs = 2000

    def __init__(self, spark, seed: int, n_docs: int, work: Path):
        self.spark = spark
        self.lines_path = str(inputs.igt_lines_path(spark, seed, n_docs))
        self.docs = n_docs
        self.n_gold = 2 * n_docs  # two L-lines per doc

    def _lines(self):
        return self.spark.read.parquet(self.lines_path)

    def run(self, tracer: Tracer | None = None) -> dict:
        from lgid_spark.classify import classify_documents
        from lgid_spark.fixtures import LANG_TABLE

        span = tracer.span if tracer else _no_span
        lines = self._lines()
        with span("job"):
            t0, c0 = time.perf_counter(), engine_cpu_seconds(self.spark)
            best = classify_documents(self.spark, lines, LANG_TABLE)
            t1, c1 = time.perf_counter(), engine_cpu_seconds(self.spark)
        return dict(job_s=t1 - t0, job_cpu_s=c1 - c0, errors=[], best=best)

    def plan_metrics(self, tracer: Tracer, status, rep: dict) -> dict:
        return {}

    def layers(self, tracer: Tracer, status):
        """classify_documents decomposed into its public calls, one span
        each: mentions → instances → train → score + best_candidates.
        Returns (best, per-layer metrics)."""
        from lgid_spark.classify import (
            build_instances, release_instance_caches)
        from lgid_spark.fixtures import LANG_TABLE
        from lgid_spark.operators.classifier import (
            N_FEATURES, best_candidates, score, train)
        from lgid_spark.operators.mentions import extract_mentions

        spark = self.spark
        lines = self._lines().persist()
        with tracer.span("mentions"):
            m = extract_mentions(
                spark, lines.select("doc_id", "lineno", "text"),
                LANG_TABLE).persist()
            n_mentions = m.count()
            m.unpersist()
        with tracer.span("instances"):
            inst = build_instances(spark, lines, LANG_TABLE).persist()
            n_inst = inst.count()
        with tracer.span("train"):
            mdl = train(inst, num_features=N_FEATURES)
        with tracer.span("score"):
            best = best_candidates(score(inst, mdl, N_FEATURES)).select(
                "doc_id", "span_id", "lineno", "lang_name", "lang_code",
                "prediction", "p_true", "norm_prob", "signed_prob",
                "label").persist()
            best.count()
        inst.unpersist()
        lines.unpersist()
        release_instance_caches(inst)

        def span(name):
            return tracer.by_name(name)[0]

        return best, {
            "mentions.busy_s": span("mentions").duration,
            "mentions.rows": n_mentions,
            "instances.busy_s": span("instances").duration,
            "instances.rows": n_inst,
            "train.busy_s": span("train").duration,
            "train.jobs": len(status.job_ids(span("train").group)),
            "score.busy_s": span("score").duration,
        }

    def traced(self, tracer: Tracer, status) -> tuple[dict, dict]:
        with tracer.span("traced") as root:
            best, layer = self.layers(tracer, status)
        best.unpersist()
        return dict(job_s=root.duration, errors=[]), layer

    def probe(self, tracer: Tracer, status):
        return {}, {}, []

    def check(self, rep: dict) -> tuple[dict, list[str]]:
        """Exactly one prediction per gold L-line."""
        best = rep["best"]
        n, keys, acc = best.agg(
            F.count("*"),
            F.countDistinct("doc_id", "span_id", "lineno"),
            F.avg(F.col("label").cast("double"))).collect()[0]
        best.unpersist()
        errors = []
        if not n == keys == self.n_gold:
            errors.append(f"{n} predictions over {keys} L-lines, "
                          f"expected one for each of {self.n_gold}")
        return {"classify_acc": (acc or 0.0, "ratio")}, errors


WORKLOADS = {w.name: w for w in (FreshCrawl, CrashResume, IgtClassify)}
