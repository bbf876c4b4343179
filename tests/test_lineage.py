"""Idempotent resume + lineage semantics (north_rule)."""

from __future__ import annotations

import os
import shutil

import pytest

from lgid_spark.datagen import spark_web_pages
from lgid_spark.lineage import committed_buckets, lineage_rows, run_incremental
from lgid_spark.pipeline import exact_dedup_pages, quality_pipeline

N = 300
N_BUCKETS = 16


@pytest.fixture()
def paths(tmp_path):
    return str(tmp_path / "out"), str(tmp_path / "metrics")


def test_full_run_then_noop(spark, paths):
    out, metrics = paths
    pages = spark_web_pages(spark, N)
    r1 = run_incremental(spark, pages, out, metrics, "snap1", N_BUCKETS)
    assert r1["processed_rows"] == N
    assert r1["processed_buckets"] == N_BUCKETS
    # re-run: everything committed → no-op
    r2 = run_incremental(spark, pages, out, metrics, "snap2", N_BUCKETS)
    assert r2 == {"processed_rows": 0, "processed_buckets": 0}
    # output has exactly N rows, no duplicates
    assert spark.read.parquet(out).count() == N


def test_resume_after_partial_commit(spark, paths, tmp_path):
    out, metrics = paths
    pages = spark_web_pages(spark, N)
    run_incremental(spark, pages, out, metrics, "snap1", N_BUCKETS)

    # simulate a crashed run: drop half the committed buckets + output
    mdf = spark.read.parquet(metrics)
    schema = mdf.schema
    m = mdf.where("bucket < 8").collect()
    shutil.rmtree(metrics)
    shutil.rmtree(out)
    spark.createDataFrame(m, schema=schema).write.parquet(metrics)
    # re-create output for the surviving buckets only, in the SAME
    # composed shape run_incremental writes (dedup stage + emit flags),
    # or the append-schema guard would rightly refuse the resume
    full = quality_pipeline(
        spark, exact_dedup_pages(pages, N_BUCKETS), n_buckets=N_BUCKETS,
        emit_extracted=False, extra_cols=("dup_count",))
    full.where("bucket < 8").write.partitionBy("bucket").parquet(out)

    r = run_incremental(spark, pages, out, metrics, "snap2", N_BUCKETS)
    assert r["processed_buckets"] == 8  # only the missing half
    assert spark.read.parquet(out).count() == N
    assert committed_buckets(spark, metrics).count() == N_BUCKETS


def test_checksum_deterministic_and_partition_invariant(spark):
    pages = spark_web_pages(spark, N)
    lab1 = quality_pipeline(spark, pages, n_buckets=N_BUCKETS)
    lab2 = quality_pipeline(
        spark, pages.repartition(7), n_buckets=N_BUCKETS)  # different layout
    a = {r["bucket"]: r["checksum"]
         for r in lineage_rows(lab1, "s").collect()}
    b = {r["bucket"]: r["checksum"]
         for r in lineage_rows(lab2, "s").collect()}
    assert a == b and len(a) == N_BUCKETS


def test_drop_hist_matches_oracle(spark):
    from lgid_spark.datagen import pandas_web_pages
    from lgid_spark.oracle.reference import process_pages

    pages = spark_web_pages(spark, N)
    lab = quality_pipeline(spark, pages, n_buckets=N_BUCKETS)
    lin = lineage_rows(lab, "s").collect()
    golden = process_pages(pandas_web_pages(N))
    want: dict[str, int] = {}
    for reasons in golden.drop_reasons:
        for r in reasons:
            want[r] = want.get(r, 0) + 1
    got: dict[str, int] = {}
    for row in lin:
        assert row["drop_hist"] != {}  # no drops is NULL, not an empty map
        for k, v in (row["drop_hist"] or {}).items():
            got[k] = got.get(k, 0) + v
    assert got == want


def test_lineage_rows_is_one_aggregate(spark):
    """The per-bucket summary is ONE aggregate: a single exchange on
    the bucket key, no second drop-reason aggregate joined back."""
    lab = quality_pipeline(spark, spark_web_pages(spark, N),
                           n_buckets=N_BUCKETS)
    plan = lineage_rows(lab, "s")._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_drop_hist_null_without_drops(spark):
    """A bucket whose rows all pass has drop_hist NULL; the others
    count only the reasons that occur."""
    lab = spark.createDataFrame(
        [(0, "u0", True, [], "a"),
         (1, "u1", False, ["too_short"], "b"),
         (1, "u2", False, ["bad_lang", "too_short"], "c"),
         (1, "u3", True, [], "d")],
        "bucket int, url string, keep boolean, drop_reasons array<string>, "
        "scrubbed_text string")
    got = {r["bucket"]: (r["input_count"], r["kept_count"], r["drop_hist"])
           for r in lineage_rows(lab, "s").collect()}
    assert got == {0: (1, 1, None),
                   1: (3, 1, {"bad_lang": 1, "too_short": 2})}


def test_merge_books_equals_spark_aggregate(spark):
    """merge_books is the driver-side twin of a groupBy("bucket") over
    the same metrics rows: counts sum, checksums bit_xor as signed
    longs (full-range and NULL; all-NULL stays NULL) and drop_hist maps
    add (NULL, empty and overlapping maps; NULL when no reason is
    left). The merge is order-insensitive and tags the snapshot."""
    import pyspark.sql.functions as F

    from lgid_spark.lineage import METRICS_SCHEMA, merge_books
    from lgid_spark.session import local_frame

    lo, hi = -2**63, 2**63 - 1
    rows = [
        (0, "a", 3, 1, 2, 0, {"too_short": 2}, hi),
        (0, "b", 4, 2, 0, 1, {"too_short": 1, "bad_lang": 1}, lo),
        (0, "c", 0, 0, 1, 5, None, None),
        (1, "a", 2, 2, 0, 0, None, lo),
        (1, "b", 0, 0, 0, 3, {}, None),
        (1, "c", 1, 0, 0, 0, {}, lo),
        (2, "a", 0, 0, 4, 2, {}, None),
        (3, "a", 5, 5, 0, 0, None, 0x5DEECE66D),
        (3, "b", 1, 0, 0, 0, {"bad_lang": 1}, -1),
        (3, "c", 2, 1, 1, 1, {"bad_lang": 2, "too_short": 1}, hi),
    ]
    counts = METRICS_SCHEMA.names[2:6]
    df = local_frame(spark, rows, METRICS_SCHEMA)
    want = {r["bucket"]: tuple(r)[1:] for r in df.groupBy("bucket").agg(
        *[F.sum(c) for c in counts],
        F.expr("bit_xor(checksum)")).collect()}
    hists: dict[int, dict[str, int]] = {}
    for r in (df.select("bucket", F.explode("drop_hist"))
              .groupBy("bucket", "key").agg(F.sum("value")).collect()):
        hists.setdefault(r[0], {})[r[1]] = r[2]

    got = merge_books(rows, "merged")
    assert set(got) == set(want) == {0, 1, 2, 3}
    for b, (bucket, snap, *n, hist, checksum) in got.items():
        assert (bucket, snap) == (b, "merged")
        assert (*n, checksum) == want[b]
        assert hist == hists.get(b)
    assert (got[0][7], got[1][7], got[2][7]) == (-1, 0, None)  # hi ^ lo
    assert got[1][6] is None and got[2][6] is None  # NULL and empty maps
    assert merge_books(reversed(rows), "merged") == got
    assert merge_books(got.values()) == merge_books(rows)


def test_one_metrics_file_per_run_written_after_output(spark, paths,
                                                       monkeypatch):
    """A run collects its lineage rows once and appends them as ONE
    metrics file, after the output write (write-ahead order): a fresh
    run leaves one file, a resume adds one more."""
    import pyspark.sql.functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from lgid_spark.pipeline import bucket_id, canonical_url

    out, metrics = paths
    writes: list[str] = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        writes.append(path)
        return parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)

    def n_files():
        return sum(f.endswith(".parquet") for f in os.listdir(metrics))

    pages = spark_web_pages(spark, N)
    half = pages.where(
        bucket_id(canonical_url(F.col("url")), N_BUCKETS) < N_BUCKETS // 2)
    r1 = run_incremental(spark, half, out, metrics, "snap1", N_BUCKETS)
    assert r1["processed_buckets"] == N_BUCKETS // 2
    assert n_files() == 1
    r2 = run_incremental(spark, pages, out, metrics, "snap2", N_BUCKETS)
    assert r2["processed_buckets"] == N_BUCKETS // 2
    assert r1["processed_rows"] + r2["processed_rows"] == N
    assert n_files() == 2
    assert writes == [out, metrics, out, metrics]


def test_metrics_commit_runs_no_python_worker(spark, tmp_path,
                                              monkeypatch):
    """The metrics write reads a frame built through Arrow, not from a
    PythonRDD (a Python worker per task): on a fresh run, a resume and
    a near-dup run. The committed-bucket frame and the audit of missing
    tables are built the same way."""
    import pyspark.sql.functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from lgid_spark.lineage import audit_lineage
    from lgid_spark.pipeline import bucket_id, canonical_url

    def lineage_of(df):
        return df._jdf.queryExecution().toRdd().toDebugString()

    metrics_plans: list[str] = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        if os.path.basename(path).startswith("metrics"):
            metrics_plans.append(lineage_of(self._df))
        return parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    pages = spark_web_pages(spark, 120)
    half = pages.where(
        bucket_id(canonical_url(F.col("url")), N_BUCKETS) < N_BUCKETS // 2)
    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    run_incremental(spark, half, out, metrics, "fresh", N_BUCKETS)
    run_incremental(spark, pages, out, metrics, "resume", N_BUCKETS)
    run_incremental(spark, pages, str(tmp_path / "nd_out"),
                    str(tmp_path / "metrics_nd"), "nd", N_BUCKETS,
                    near_dup=True)
    assert len(metrics_plans) == 3
    for plan in metrics_plans:
        assert "PythonRDD" not in plan, plan
    assert "PythonRDD" not in lineage_of(committed_buckets(spark, metrics))
    assert "PythonRDD" not in lineage_of(audit_lineage(
        spark, str(tmp_path / "none_out"), str(tmp_path / "none_met")))


def test_local_frame_round_trip(spark):
    """local_frame gives the schema and rows createDataFrame gives:
    int64 extremes, NULL and non-empty maps, a NULL checksum (no
    float64 detour), and an empty row list."""
    from lgid_spark.lineage import METRICS_SCHEMA
    from lgid_spark.session import local_frame

    rows = [
        (0, "s", -2**63, 2**63 - 1, 0, 0, {"too_short": 3, "bad_lang": 1},
         2**63 - 1),
        (1, "s", 0, 0, 2**63 - 1, -2**63, None, None),
        (63, "s", 5, 2, 0, 1, {}, -2**63),
    ]
    for data in (rows, []):
        got = local_frame(spark, data, METRICS_SCHEMA)
        ref = spark.createDataFrame(data, METRICS_SCHEMA)
        assert got.schema == ref.schema == METRICS_SCHEMA
        assert got.collect() == ref.collect()
    assert [tuple(r) for r in local_frame(
        spark, rows, METRICS_SCHEMA).collect()] == rows


def test_bucket_partition_pruning_on_readback(spark, tmp_path):
    """North-rule partitioning claim, verified in the plan: the filter
    output is written partitionBy(bucket), so a bucket-keyed read-back
    (the resume path, a backfill, a single-bucket audit) must prune to
    that partition's files instead of scanning the table."""
    from lgid_spark.datagen import spark_web_pages
    from lgid_spark.lineage import run_incremental

    out = str(tmp_path / "pruned_out")
    metrics = str(tmp_path / "pruned_metrics")
    run_incremental(
        spark, spark_web_pages(spark, 200), out, metrics, "snap-prune", 8)

    df = spark.read.parquet(out).where("bucket = 3")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    frag = plan.split("PartitionFilters")[1][:120]
    assert "bucket" in frag  # the filter reached the partition pruner
    assert df.count() > 0


def test_append_schema_guard(spark, paths):
    """ADVICE r3: flipping emit_extracted between snapshots would append
    a different column set into one parquet dataset (mixed footers).
    run_incremental must fail fast instead, and still work when the
    emit shape matches the existing dataset."""
    out, metrics = paths
    pages = spark_web_pages(spark, N)
    run_incremental(spark, pages, out, metrics, "snap1", N_BUCKETS,
                    emit_extracted=True)
    with pytest.raises(ValueError, match="emit"):
        run_incremental(spark, pages, out, metrics, "snap2", N_BUCKETS,
                        emit_extracted=False)
    # matching shape on a complete dataset: clean no-op, no raise
    r = run_incremental(spark, pages, out, metrics, "snap3", N_BUCKETS,
                        emit_extracted=True)
    assert r == {"processed_rows": 0, "processed_buckets": 0}


def test_path_exists_handles_uri_schemes(spark, tmp_path):
    """Review r4: existence checks go through the Hadoop FileSystem API
    so scheme-qualified URIs work (os.path.exists is always False for
    them, which silently disabled resume + the schema guard). The
    owned-bucket delete uses the same handle: on a file:// URI it
    removes the uncommitted bucket dirs and nothing else."""
    from lgid_spark.lineage import _delete_owned_buckets, _path_exists

    p = tmp_path / "ds"
    assert not _path_exists(spark, f"file://{p}")
    assert not _path_exists(spark, str(p))
    _delete_owned_buckets(spark, f"file://{p}", [])  # nothing to delete
    p.mkdir()
    assert _path_exists(spark, f"file://{p}")
    assert _path_exists(spark, str(p))

    for b in (0, 1, 12):
        (p / f"bucket={b}").mkdir()
        (p / f"bucket={b}" / "part-0.parquet").write_bytes(b"x")
    (p / "_SUCCESS").write_bytes(b"")
    _delete_owned_buckets(spark, f"file://{p}", [1, 5])
    assert sorted(os.listdir(p)) == ["_SUCCESS", "bucket=1"]
    assert os.listdir(p / "bucket=1") == ["part-0.parquet"]


def test_audit_lineage_sound_and_detects_divergence(spark, paths, tmp_path):
    """audit_lineage is the operator-facing books check: empty after
    an honest run (including a resume that appended a snapshot), and
    it names the bucket when output and metrics tables diverge."""
    import pyspark.sql.functions as F

    from lgid_spark.lineage import audit_lineage

    out, metrics = paths
    pages = spark_web_pages(spark, N)
    run_incremental(spark, pages, out, metrics, "snap1", N_BUCKETS)
    assert audit_lineage(spark, out, metrics).count() == 0

    # resume over an EXTENDED input appends a second snapshot; the
    # combined books must still audit clean
    more = spark_web_pages(spark, N + 64).join(
        pages.select("url"), "url", "left_anti")
    run_incremental(spark, more, out, metrics, "snap2", N_BUCKETS)
    assert audit_lineage(spark, out, metrics).count() == 0

    # tamper with the OUTPUT (drop one bucket partition dir wholesale —
    # the crash-between-writes shape): audit must flag exactly that
    # bucket with both sides of the count
    victim = spark.read.parquet(out).groupBy("bucket").count() \
        .orderBy("bucket").first()
    shutil.rmtree(f"{out}/bucket={victim['bucket']}")
    bad = audit_lineage(spark, out, metrics).collect()
    assert [r["bucket"] for r in bad] == [victim["bucket"]]
    assert bad[0]["output_rows"] is None
    assert bad[0]["lineage_rows"] == victim["count"]

    # tamper with a VALUE (flip one keep flag via rewrite of one
    # bucket): counts still reconcile row-wise but kept/checksum don't
    out2, metrics2 = str(tmp_path / "out2"), str(tmp_path / "m2")
    run_incremental(spark, pages, out2, metrics2, "snap1", N_BUCKETS)

    def rewrite(bucket, col, value):
        df = spark.read.parquet(out2).where(F.col("bucket") == bucket)
        new = df.withColumn(col, value).drop("bucket").persist()
        new.count()
        shutil.rmtree(f"{out2}/bucket={bucket}")
        new.write.parquet(f"{out2}/bucket={bucket}")
        new.unpersist()

    b0 = spark.read.parquet(out2).first()["bucket"]
    rewrite(b0, "keep", ~F.col("keep"))
    bad2 = audit_lineage(spark, out2, metrics2).collect()
    assert [r["bucket"] for r in bad2] == [b0]
    assert bad2[0]["lineage_rows"] == bad2[0]["output_rows"]
    assert bad2[0]["lineage_kept"] != bad2[0]["output_kept"]

    # tamper with the TEXT only (append to every scrubbed_text of one
    # bucket): rows and kept reconcile, only the checksums disagree
    b1 = spark.read.parquet(out2).where(
        (F.col("bucket") != b0) & F.col("keep")).first()["bucket"]
    rewrite(b1, "scrubbed_text", F.concat("scrubbed_text", F.lit("x")))
    bad3 = {r["bucket"]: r for r in audit_lineage(
        spark, out2, metrics2).collect()}
    assert sorted(bad3) == sorted([b0, b1])
    r = bad3[b1]
    assert r["lineage_rows"] == r["output_rows"]
    assert r["lineage_kept"] == r["output_kept"]
    assert None not in (r["lineage_checksum"], r["output_checksum"])
    assert r["lineage_checksum"] != r["output_checksum"]


def _per_url(spark, out):
    """The output as {url: row dict}, bucket included."""
    return {r["url"]: r.asDict() for r in spark.read.parquet(out).collect()}


def _uninterrupted(spark, tmp_path, pages):
    """Output and metrics paths of an uninterrupted run over ``pages``."""
    ref_out, ref_met = str(tmp_path / "ref_out"), str(tmp_path / "ref_met")
    run_incremental(spark, pages, ref_out, ref_met, "ref", N_BUCKETS)
    return ref_out, ref_met


def _assert_equals(spark, out, metrics, ref_out, ref_met):
    """The output audits clean, and its books and per-url rows equal
    the reference run's."""
    from lgid_spark.lineage import audit_lineage

    assert audit_lineage(spark, out, metrics).count() == 0
    assert _books(spark, metrics) == _books(spark, ref_met)
    assert _per_url(spark, out) == _per_url(spark, ref_out)


def test_crash_between_output_and_metrics_write(spark, paths, tmp_path,
                                                monkeypatch):
    """Fault injection in the commit's crash window: the output write
    lands and the run dies before the metrics write. The retry finds
    nothing committed, so it owns every bucket: it deletes the crashed
    attempt's bucket dirs and rewrites them, and the output, the books
    and the audit equal an uninterrupted run's."""
    from pyspark.sql.readwriter import DataFrameWriter

    out, metrics = paths
    parquet = DataFrameWriter.parquet

    def crash_at_commit(self, path, *a, **kw):
        if path == metrics:
            raise RuntimeError("crash before the metrics write")
        return parquet(self, path, *a, **kw)

    pages = spark_web_pages(spark, 120)
    monkeypatch.setattr(DataFrameWriter, "parquet", crash_at_commit)
    with pytest.raises(RuntimeError, match="crash before"):
        run_incremental(spark, pages, out, metrics, "crashed", N_BUCKETS)
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    assert not os.path.exists(metrics)
    assert spark.read.parquet(out).count() == 120

    r = run_incremental(spark, pages, out, metrics, "retry", N_BUCKETS)
    assert r == {"processed_rows": 120, "processed_buckets": N_BUCKETS}
    assert spark.read.parquet(out).count() == 120
    _assert_equals(spark, out, metrics,
                   *_uninterrupted(spark, tmp_path, pages))


def test_crash_during_output_commit(spark, paths, tmp_path):
    """A kill in the middle of the output commit: some bucket dirs of
    the run have landed, the rest and the metrics have not. The resume
    owns every bucket, so it replaces the landed dirs instead of
    appending next to them."""
    out, metrics = paths
    pages = spark_web_pages(spark, 120)
    ref_out, ref_met = _uninterrupted(spark, tmp_path, pages)
    landed = sorted(d for d in os.listdir(ref_out)
                    if d.startswith("bucket="))[::2]
    assert landed
    for d in landed:
        shutil.copytree(os.path.join(ref_out, d), os.path.join(out, d))

    r = run_incremental(spark, pages, out, metrics, "resume", N_BUCKETS)
    assert r == {"processed_rows": 120, "processed_buckets": N_BUCKETS}
    assert spark.read.parquet(out).count() == 120
    _assert_equals(spark, out, metrics, ref_out, ref_met)


def test_audit_runs_no_join(spark, paths, monkeypatch):
    """The audit collects both sides' per-bucket books and diffs them
    on the driver: no query it runs plans a Join, and the frame it
    returns is built through Arrow."""
    from lgid_spark.lineage import audit_lineage

    out, metrics = paths
    run_incremental(spark, spark_web_pages(spark, 120), out, metrics,
                    "snap1", N_BUCKETS)
    DataFrame = type(spark.range(1))  # the concrete (classic) class
    plans: list[str] = []
    collect = DataFrame.collect

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    audit = audit_lineage(spark, out, metrics)
    monkeypatch.setattr(DataFrame, "collect", collect)
    assert audit.count() == 0
    assert len(plans) == 2, plans  # the metrics rows, the output books
    for plan in plans + [
            audit._jdf.queryExecution().executedPlan().toString()]:
        assert "Join" not in plan, plan


@pytest.mark.parametrize("kw", [{}, {"dedup": False}, {"near_dup": True}],
                         ids=["dedup", "no_dedup", "near_dup"])
def test_filter_path_persists_nothing(spark, paths, monkeypatch, kw):
    """The run books its lineage from the files it wrote, so the UDF
    output is computed once, by the write, and never cached: on the
    dedup and --no-dedup paths no persist is called and no plan the
    run executes (its collects and writes) scans a cache. Near-dup's
    deduped frame, shared by the loser scan and the UDF pass, is the
    one persist left."""
    from pyspark.sql.readwriter import DataFrameWriter

    DataFrame = type(spark.range(1))  # the concrete (classic) class
    persist, collect = DataFrame.persist, DataFrame.collect
    parquet = DataFrameWriter.parquet
    plans: list[str] = []
    persists: list[DataFrame] = []

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def spy_persist(self, *a, **k):
        persists.append(self)
        return persist(self, *a, **k)

    def spy_collect(self):
        plans.append(plan_of(self))
        return collect(self)

    def spy_parquet(self, path, *a, **k):
        plans.append(plan_of(self._df))
        return parquet(self, path, *a, **k)

    monkeypatch.setattr(DataFrame, "persist", spy_persist)
    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    monkeypatch.setattr(DataFrameWriter, "parquet", spy_parquet)
    out, metrics = paths
    r = run_incremental(spark, spark_web_pages(spark, 120), out, metrics,
                        "snap1", N_BUCKETS, **kw)
    assert r["processed_rows"] > 0
    assert len(plans) >= 3  # the output write, the books, the metrics
    if kw.get("near_dup"):
        assert len(persists) == 1
    else:
        assert persists == []
        for plan in plans:
            assert "InMemoryTableScan" not in plan, plan


def _books(spark, metrics):
    """Per-bucket books summed over every snapshot of a metrics table."""
    import pyspark.sql.functions as F

    return {
        r["bucket"]: tuple(r)[1:]
        for r in spark.read.parquet(metrics).groupBy("bucket").agg(
            F.sum("input_count"), F.sum("kept_count"),
            F.sum("dedup_dropped"), F.sum("near_dup_dropped"),
            F.expr("bit_xor(checksum)")).collect()
    }


def _component_closed_half(spark, pages, near_dup):
    """Half of the input's buckets, closed under near-dup components.

    A near-dup drop is booked on the canonical doc's bucket, so copying
    an uninterrupted run's rows is a faithful crash state only if no
    component straddles the committed/uncommitted line."""
    from lgid_spark.pipeline import near_dup_losers

    deduped = exact_dedup_pages(pages, N_BUCKETS)
    parent = {r["bucket"]: r["bucket"]
              for r in deduped.select("bucket").distinct().collect()}

    def root(b):
        while parent[b] != b:
            b = parent[b]
        return b

    if near_dup:
        for r in near_dup_losers(deduped).collect():
            parent[root(r["bucket"])] = root(r["canon_bucket"])
    groups: dict[int, list[int]] = {}
    for b in parent:
        groups.setdefault(root(b), []).append(b)
    committed: list[int] = []
    for g in sorted(groups.values(), key=min):
        if len(committed) + len(g) <= len(parent) // 2:
            committed += g
    return sorted(committed)


@pytest.mark.parametrize("mode", ["dedup", "no_dedup", "near_dup"])
def test_crash_resume_equals_uninterrupted(spark, tmp_path, mode):
    """A crash that committed some buckets, then a resume: the per-bucket
    books (counts, drops, checksum) equal an uninterrupted run's, and
    the output audits clean. The resume filter drops committed rows
    before dedup, so it must not change any winner or near-dup loser."""
    import pyspark.sql.functions as F

    from lgid_spark.datagen import spark_web_pages_with_dups
    from lgid_spark.lineage import audit_lineage

    kw = {"dedup": mode != "no_dedup", "near_dup": mode == "near_dup"}
    pages = spark_web_pages_with_dups(spark, 120)
    ref_out, ref_met = str(tmp_path / "ref_out"), str(tmp_path / "ref_met")
    ref = run_incremental(spark, pages, ref_out, ref_met, "ref",
                          N_BUCKETS, **kw)
    committed = _component_closed_half(spark, pages, kw["near_dup"])
    assert committed

    out, met = tmp_path / "out", str(tmp_path / "met")
    for b in committed:
        src = tmp_path / "ref_out" / f"bucket={b}"
        if src.exists():
            shutil.copytree(src, out / src.name)
    (spark.read.parquet(ref_met).where(F.col("bucket").isin(committed))
     .write.parquet(met))

    def committed_files():
        return {d: sorted(os.listdir(out / d)) for d in os.listdir(out)
                if d.startswith("bucket=") and int(d[7:]) in committed}

    before = committed_files()
    res = run_incremental(spark, pages, str(out), met, "resume",
                          N_BUCKETS, **kw)
    assert committed_files() == before  # the resume never touches them
    ref_rows = spark.read.parquet(ref_out)
    assert res["processed_rows"] == ref_rows.where(
        ~F.col("bucket").isin(committed)).count() > 0
    assert res["processed_rows"] < ref["processed_rows"]
    assert _books(spark, met) == _books(spark, ref_met)
    assert audit_lineage(spark, str(out), met).count() == 0


@pytest.mark.parametrize("kw", [{}, {"dedup": False}, {"near_dup": True}])
def test_noop_rerun_never_evaluates_html(spark, paths, kw):
    """Re-running a complete dataset is decided by the committed-bucket
    probe alone: no dedup, no UDF, no near-dup chain — proven by an
    input whose html column raises if it is ever evaluated."""
    import pyspark.sql.functions as F

    out, metrics = paths
    pages = spark_web_pages(spark, 120)
    run_incremental(spark, pages, out, metrics, "snap1", N_BUCKETS, **kw)
    poisoned = pages.withColumn(
        "html", F.raise_error(F.lit("html evaluated")).cast("binary"))
    with pytest.raises(Exception, match="html evaluated"):
        poisoned.select("html").collect()
    r = run_incremental(spark, poisoned, out, metrics, "snap2",
                        N_BUCKETS, **kw)
    assert r == {"processed_rows": 0, "processed_buckets": 0}


def _run_in_group(spark, group, fn):
    """Run ``fn`` with its Spark jobs in job group ``group``; return the
    jobs and, per stage that ran (not skipped), its task count and
    whether its RDD graph holds an ArrowEvalPython (the fused UDF) —
    read from the status store, which works with the UI disabled."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()

    def scopes(cluster):
        yield cluster.name()
        it = cluster.childClusters().iterator()
        while it.hasNext():
            yield from scopes(it.next())

    jobs = list(tracker.getJobIdsForGroup(group))
    stages = {}
    for j in jobs:
        for sid in tracker.getJobInfo(j).stageIds:
            info = tracker.getStageInfo(sid)
            if info is None or info.numCompletedTasks == 0:
                continue  # skipped: its shuffle output was reused
            udf = "ArrowEvalPython" in scopes(
                store.operationGraphForStage(sid).rootCluster())
            stages[sid] = (info.numTasks, udf)
    return jobs, stages


@pytest.mark.parametrize("near_dup", [False, True],
                         ids=["dedup", "near_dup"])
def test_udf_stage_is_coalesced_by_aqe(spark, paths, near_dup):
    """A small input runs the fused UDF in fewer tasks than
    spark.sql.shuffle.partitions (one Python-worker init per task).
    The --near-dup run persists its deduped frame, which feeds the
    UDF: AQE must still coalesce the dedup exchange inside that cached
    plan, which it does only with
    spark.sql.optimizer.canChangeCachedPlanOutputPartitioning (that
    case fails without it). The dedup path persists nothing."""
    out, metrics = paths
    pages = spark_web_pages(spark, N)
    _, stages = _run_in_group(
        spark, "lgid_udf_stage", lambda: run_incremental(
            spark, pages, out, metrics, "snap1", N_BUCKETS,
            near_dup=near_dup))
    udf_tasks = [n for n, udf in stages.values() if udf]
    assert udf_tasks, stages
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert max(udf_tasks) < shuffle_partitions, stages


def test_noop_rerun_lists_output_on_driver(spark, paths):
    """A no-op re-run over a 64-bucket output lists the bucket dirs on
    the driver: no stage as wide as the directory count (a parallel
    listing job) and at most 4 Spark jobs (the two guards, the
    committed-id read and the probe)."""
    out, metrics = paths
    pages = spark_web_pages(spark, N)
    run_incremental(spark, pages, out, metrics, "snap1", 64)
    n_dirs = sum(d.startswith("bucket=") for d in os.listdir(out))
    assert n_dirs > 32  # above Spark's default listing threshold
    result = {}
    jobs, stages = _run_in_group(
        spark, "lgid_noop", lambda: result.update(run_incremental(
            spark, pages, out, metrics, "snap2", 64)))
    assert result == {"processed_rows": 0, "processed_buckets": 0}
    assert len(jobs) <= 4, (jobs, stages)
    assert all(n < n_dirs for n, _ in stages.values()), stages
