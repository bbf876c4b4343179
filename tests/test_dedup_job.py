"""Dedup composed into the production job (VERDICT r3 items 1+4): the
canonical-url exact-dedup stage runs BEFORE the Arrow UDF pass, the
optional near-dup stage drops all but one doc per duplicate component,
and lineage rows carry dedup_dropped / near_dup_dropped counts."""

from __future__ import annotations

import datetime as dt
import json
import re

import pytest
from pyspark.sql import functions as F

from lgid_spark.datagen import (
    DUP_EVERY,
    html_for,
    spark_web_pages_with_dups,
    url_for,
)
from lgid_spark.lineage import run_incremental
from lgid_spark.pipeline import (
    exact_dedup_pages,
    near_dup_losers,
    quality_pipeline,
)

N = 200
N_BUCKETS = 16
N_DUPS = len(range(0, N, DUP_EVERY))  # 50


def test_exact_dedup_collapses_messy_spellings(spark):
    pages = spark_web_pages_with_dups(spark, N)
    assert pages.count() == N + N_DUPS
    deduped = exact_dedup_pages(pages, N_BUCKETS)
    rows = deduped.collect()
    # one winner per page, and the winner is the ORIGINAL spelling
    # (earliest crawl wins the min (warc_ts, url) order)
    assert len(rows) == N
    assert {r["url"] for r in rows} == {url_for(i) for i in range(N)}
    # dup_count records the collapse; buckets hash the canonical url
    assert sum(r["dup_count"] - 1 for r in rows) == N_DUPS
    assert all(0 <= r["bucket"] < N_BUCKETS for r in rows)


def test_dedup_runs_before_udf_pass(spark):
    """Duplicates must cost ZERO Arrow-UDF work: in the physical plan
    the pandas-UDF eval node sits strictly ABOVE the dedup aggregate
    (plans print top-down), so only winners reach Python."""
    pages = spark_web_pages_with_dups(spark, N)
    labelled = quality_pipeline(
        spark, exact_dedup_pages(pages, N_BUCKETS),
        emit_extracted=False, extra_cols=("dup_count",))
    plan = labelled._jdf.queryExecution().executedPlan().toString()
    udf_at = plan.index("ArrowEvalPython")
    agg_at = plan.index("partial_min")
    assert udf_at < agg_at, "dedup aggregate must be upstream of the UDF"


def _resume_filter_at(plan: str) -> int:
    """Offset of the committed-bucket filter (NOT bucket IN committed)."""
    m = re.search(r"Filter NOT .*xxhash64.*(?:INSET|IN) ", plan)
    assert m, plan
    return m.start()


def test_resume_filter_runs_before_dedup_and_udf(spark):
    """A resumed job drops committed buckets from the RAW rows: the
    filter sits below the dedup's partial aggregate and the UDF (plans
    print top-down), so committed rows cost neither the exchange nor
    Python."""
    from lgid_spark.lineage import resume_frames

    pages = spark_web_pages_with_dups(spark, N)
    todo = resume_frames(spark, pages, [0, 1, 2], N_BUCKETS)
    plan = todo.labelled._jdf.queryExecution().executedPlan().toString()
    assert (plan.index("ArrowEvalPython") < plan.index("partial_min")
            < _resume_filter_at(plan))


def test_resume_filter_keeps_bucketed_input_exchange_free(spark, tmp_path):
    """Over a table bucketed by url_canon the resume filter keeps the
    scan's layout: the resumed plan up to the UDF has no Exchange."""
    from lgid_spark.lineage import resume_frames
    from lgid_spark.pipeline import (
        register_bucketed_pages,
        write_bucketed_pages,
    )

    table = "resume_filter_bucketed_test"
    path = str(tmp_path / "tbl")
    try:
        write_bucketed_pages(spark_web_pages_with_dups(spark, 120), table,
                             n_buckets=8, path=path)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        register_bucketed_pages(spark, table, path, n_buckets=8)
        todo = resume_frames(spark, spark.table(table), [0, 1, 2], 8,
                             trust_url_canon=True)
        plan = todo.labelled._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert plan.index("ArrowEvalPython") < _resume_filter_at(plan)
        assert {r["bucket"] for r in todo.labelled.select("bucket")
                .distinct().collect()} == set(range(3, 8))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_udf_pass_runs_on_url_canon_partitions(spark):
    """On an untrusted input (here one carrying a url_canon column it
    must not trust) the resumed labelled plan has ONE Exchange: the
    dedup aggregate's hashpartitioning on url_canon, between its partial
    and final halves. Nothing upstream of the UDF is keyed by bucket,
    so the UDF pass spreads over every shuffle partition instead of at
    most n_buckets of them."""
    from lgid_spark.lineage import resume_frames

    pages = spark_web_pages_with_dups(spark, N).withColumn(
        "url_canon", F.lit("bogus"))
    todo = resume_frames(spark, pages, [0, 1, 2], N_BUCKETS)
    plan = todo.labelled._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange (\w+\([^)]*\))", plan)
    assert len(exchanges) == 1, plan
    assert re.match(r"hashpartitioning\(url_canon#\d+, ", exchanges[0]), plan
    assert (plan.index("ArrowEvalPython") < plan.index("Exchange")
            < plan.index("partial_min"))


def _files_per_bucket(out):
    return {d.name: len(list(d.glob("*.parquet")))
            for d in out.iterdir() if d.name.startswith("bucket=")}


def test_dedup_sink_writes_one_file_per_bucket(spark, tmp_path):
    """The sink rebalances by bucket, so a run writes ONE parquet file
    into every bucket= directory: on a fresh run over half the buckets,
    and again on the resume that processes the rest."""
    from lgid_spark.pipeline import bucket_id, canonical_url

    out, metrics = tmp_path / "out", str(tmp_path / "metrics")
    pages = spark_web_pages_with_dups(spark, N)
    half = pages.where(
        bucket_id(canonical_url(F.col("url")), N_BUCKETS) < N_BUCKETS // 2)
    run_incremental(spark, half, str(out), metrics, "snap1", N_BUCKETS)
    assert _files_per_bucket(out) == {
        f"bucket={b}": 1 for b in range(N_BUCKETS // 2)}
    r = run_incremental(spark, pages, str(out), metrics, "snap2", N_BUCKETS)
    assert r["processed_buckets"] == N_BUCKETS // 2
    assert _files_per_bucket(out) == {
        f"bucket={b}": 1 for b in range(N_BUCKETS)}


@pytest.mark.parametrize("kw", [dict(dedup=False), dict(near_dup=True)],
                         ids=["no_dedup", "near_dup"])
def test_sink_writes_one_file_per_bucket_without_exact_dedup_layout(
        spark, tmp_path, kw):
    """The no-dedup and near-dup paths reach the sink in the input's or
    the loser anti-join's partitions, each holding rows of many buckets;
    the sink's rebalance still leaves one file per bucket."""
    out = tmp_path / "out"
    pages = spark_web_pages_with_dups(spark, 60).repartition(4)
    run_incremental(spark, pages, str(out), str(tmp_path / "metrics"),
                    "snap", N_BUCKETS, **kw)
    buckets = spark.read.parquet(str(out)).select("bucket").distinct()
    assert _files_per_bucket(out) == {
        f"bucket={r.bucket}": 1 for r in buckets.collect()}


def test_run_incremental_dedup_lineage(spark, tmp_path):
    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    pages = spark_web_pages_with_dups(spark, N)
    res = run_incremental(
        spark, pages, out, metrics, "snap1", N_BUCKETS)
    # only the N winners were processed and written
    assert res["processed_rows"] == N
    written = spark.read.parquet(out)
    assert written.count() == N
    assert "dup_count" in written.columns
    lin = spark.read.parquet(metrics)
    agg = lin.agg(
        F.sum("dedup_dropped").alias("dd"),
        F.sum("near_dup_dropped").alias("nd"),
        F.sum("input_count").alias("n"),
    ).collect()[0]
    assert agg["dd"] == N_DUPS and agg["nd"] == 0 and agg["n"] == N
    # idempotent resume still holds with the dedup stage in the DAG
    res2 = run_incremental(
        spark, pages, out, metrics, "snap2", N_BUCKETS)
    assert res2 == {"processed_rows": 0, "processed_buckets": 0}


def _near_dup_corpus(spark):
    """3 same-text docs on distinct urls (near-dup component) + 2
    unrelated docs; exact dedup can't collapse them (different pages),
    the near-dup stage must."""
    shared = "\n".join(
        "the quick brown fox jumps over the lazy dog line %d" % j
        for j in range(6))
    uniq = ["completely different words entirely %d" % k for k in range(40)]
    rows = []
    for i in range(3):
        rows.append((f"https://site.example/copy/{i}",
                     dt.datetime(2024, 1, 1 + i), html_for(i, shared),
                     shared, "eng"))
    for i in range(2):
        text = " ".join(uniq[i * 20:(i + 1) * 20])
        rows.append((f"https://other.example/doc/{i}",
                     dt.datetime(2024, 2, 1 + i), html_for(10 + i, text),
                     text, "eng"))
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string")


def test_near_dup_losers_component_canonical(spark):
    pages = exact_dedup_pages(_near_dup_corpus(spark), N_BUCKETS)
    losers = near_dup_losers(pages, jaccard_min=0.9).collect()
    # the min-url canonical (copy/0) survives; copy/1 and copy/2 drop
    assert sorted(r["url"] for r in losers) == [
        "https://site.example/copy/1", "https://site.example/copy/2"]


def test_run_incremental_near_dup(spark, tmp_path):
    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    res = run_incremental(
        spark, _near_dup_corpus(spark), out, metrics, "snap1", N_BUCKETS,
        near_dup=True)
    assert res["processed_rows"] == 3  # 1 canonical + 2 unrelated
    urls = {r["url"] for r in spark.read.parquet(out).select("url").collect()}
    assert urls == {
        "https://site.example/copy/0",
        "https://other.example/doc/0",
        "https://other.example/doc/1",
    }
    lin = spark.read.parquet(metrics)
    assert lin.agg(F.sum("near_dup_dropped")).collect()[0][0] == 2


def test_near_dup_noop_resume_skips_chain(spark, tmp_path, monkeypatch):
    """Review r4: an idempotent resume of a finished --near-dup job must
    not pay the MinHash/Jaccard/components chain (connected_components
    materializes at DAG-build time) — the cheap bucket probe has to
    short-circuit first. Proven by poisoning near_dup_losers."""
    import lgid_spark.lineage as lineage_mod

    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    run_incremental(
        spark, _near_dup_corpus(spark), out, metrics, "snap1", N_BUCKETS,
        near_dup=True)

    def _boom(*a, **k):
        raise AssertionError("near-dup chain ran on a no-op resume")

    monkeypatch.setattr(lineage_mod, "near_dup_losers", _boom)
    res = run_incremental(
        spark, _near_dup_corpus(spark), out, metrics, "snap2", N_BUCKETS,
        near_dup=True)
    assert res == {"processed_rows": 0, "processed_buckets": 0}


def _bucket_of(spark, url, n_buckets=N_BUCKETS):
    from lgid_spark.pipeline import canonical_url

    return spark.range(1).select(
        F.pmod(F.xxhash64(canonical_url(F.lit(url))), F.lit(n_buckets))
        .cast("int").alias("b")).collect()[0]["b"]


_SHARED_TEXT = "\n".join(
    "the quick brown fox jumps over the lazy dog line %d" % j
    for j in range(6))
_CANON_URL = "https://site.example/copy/0"


def _page_row(url, day, text):
    return (url, dt.datetime(2024, 1, day), html_for(1, text), text, "eng")


def _pages_df(spark, rows):
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string")


def _fresh_bucket_url(spark, pattern, taken):
    """First url matching pattern whose bucket is not in `taken`.
    Urls sort AFTER _CANON_URL so the committed doc stays the
    component's min-url canonical."""
    for i in range(200):
        u = pattern % i
        b = _bucket_of(spark, u)
        if b not in taken:
            return u, b
    raise AssertionError("no fresh bucket found")


def test_near_dup_resume_extended_input_books_balance(spark, tmp_path):
    """ADVICE r4: a new doc that loses to a canonical doc in an
    already-committed bucket must still have its drop recorded — via a
    counts-only lineage row for the committed canon bucket — so the
    books (rows offered = input_count + dedup_dropped +
    near_dup_dropped) keep balancing across resumes."""
    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    base = [_page_row(_CANON_URL, 1, _SHARED_TEXT)]
    run_incremental(spark, _pages_df(spark, base), out, metrics,
                    "snap1", N_BUCKETS, near_dup=True)
    b_canon = _bucket_of(spark, _CANON_URL)

    # extend: a near-dup loser AND an unrelated doc, both in buckets
    # not yet committed (the loser sorts after the canonical)
    loser_url, b_loser = _fresh_bucket_url(
        spark, "https://site.example/copy/zz%d", {b_canon})
    other_url, b_other = _fresh_bucket_url(
        spark, "https://other.example/doc/%d", {b_canon, b_loser})
    other_text = " ".join("completely different words %d" % k
                          for k in range(25))
    extended = base + [_page_row(loser_url, 5, _SHARED_TEXT),
                       _page_row(other_url, 6, other_text)]
    res2 = run_incremental(spark, _pages_df(spark, extended), out,
                           metrics, "snap2", N_BUCKETS, near_dup=True)
    assert res2["processed_rows"] == 1  # only the unrelated doc

    # the loser never reaches the output; the canonical is not rewritten
    urls = [r["url"] for r in spark.read.parquet(out).select("url").collect()]
    assert sorted(urls) == sorted([_CANON_URL, other_url])

    lin = spark.read.parquet(metrics)
    agg = lin.agg(F.sum("input_count").alias("n"),
                  F.sum("dedup_dropped").alias("dd"),
                  F.sum("near_dup_dropped").alias("nd")).collect()[0]
    # 3 distinct rows ever offered = 2 processed + 0 exact + 1 near-dup
    assert (agg["n"], agg["dd"], agg["nd"]) == (2, 0, 1)
    # the drop rode a counts-only row on the COMMITTED canon bucket
    row = lin.where((F.col("bucket") == b_canon)
                    & (F.col("snapshot_id") == "snap2")).collect()
    assert len(row) == 1 and row[0]["near_dup_dropped"] == 1
    assert row[0]["input_count"] == 0 and row[0]["checksum"] is None

    # and the job converges: a third run over the same input is a no-op
    res3 = run_incremental(spark, _pages_df(spark, extended), out,
                           metrics, "snap3", N_BUCKETS, near_dup=True)
    assert res3 == {"processed_rows": 0, "processed_buckets": 0}


def test_near_dup_resume_loser_only_extension_converges(spark, tmp_path):
    """Worst shape of the same bug: the ONLY new rows are losers to
    committed canonicals, so `todo` is empty — the run must still
    commit the losers' buckets (zero-count rows) and record the drops,
    or every later resume re-runs the whole near-dup chain forever."""
    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    base = [_page_row(_CANON_URL, 1, _SHARED_TEXT)]
    run_incremental(spark, _pages_df(spark, base), out, metrics,
                    "snap1", N_BUCKETS, near_dup=True)
    b_canon = _bucket_of(spark, _CANON_URL)
    loser_url, b_loser = _fresh_bucket_url(
        spark, "https://site.example/copy/zz%d", {b_canon})
    extended = base + [_page_row(loser_url, 5, _SHARED_TEXT)]

    res2 = run_incremental(spark, _pages_df(spark, extended), out,
                           metrics, "snap2", N_BUCKETS, near_dup=True)
    assert res2["processed_rows"] == 0
    assert res2["processed_buckets"] == 2  # canon counts-row + emptied

    lin = spark.read.parquet(metrics)
    agg = lin.agg(F.sum("input_count").alias("n"),
                  F.sum("near_dup_dropped").alias("nd")).collect()[0]
    assert (agg["n"], agg["nd"]) == (1, 1)
    emptied = lin.where((F.col("bucket") == b_loser)
                        & (F.col("snapshot_id") == "snap2")).collect()
    assert len(emptied) == 1 and emptied[0]["input_count"] == 0

    res3 = run_incremental(spark, _pages_df(spark, extended), out,
                           metrics, "snap3", N_BUCKETS, near_dup=True)
    assert res3 == {"processed_rows": 0, "processed_buckets": 0}


def test_run_filter_cli_dedup(spark, tmp_path, capsys):
    """End-to-end CLI drive of the composed job: dup-saturated synthetic
    input through --near-dup; summary JSON reports the deduped rows."""
    from lgid_spark.jobs.run_filter import main

    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    rc = main([
        "--input", "synthdup:120", "--output", out, "--metrics", metrics,
        "--snapshot-id", "cli-snap", "--buckets", "8", "--near-dup",
    ])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    lin = spark.read.parquet(metrics)
    agg = lin.agg(
        F.sum("dedup_dropped").alias("dd"),
        F.sum("near_dup_dropped").alias("nd"),
    ).collect()[0]
    # 30 messy-url twins collapse in the exact stage (including twins
    # of docs the near-dup stage later removes); the generator's
    # tiny-word-set docs (spam/short injections) legitimately form
    # near-dup components. The books must balance:
    # 150 raw rows = processed + exact drops + near-dup drops
    assert agg["dd"] == 30
    assert agg["nd"] > 0
    assert res["processed_rows"] + agg["dd"] + agg["nd"] == 150
    assert spark.read.parquet(out).count() == res["processed_rows"]


def test_run_filter_cli_blocklist(spark, tmp_path, capsys):
    """--blocklist composes into the job: blocked hosts' rows are
    written keep=false with a 'blocked_domain' reason, and the reason
    lands in the lineage drop_hist like any built-in rule. The input
    triggers every reason, so per bucket the drop_hist values sum to
    the output's Σ size(drop_reasons) only if DROP_REASONS lists them
    all."""
    from lgid_spark.jobs.run_filter import main
    from lgid_spark.pipeline import DROP_REASONS

    bl = tmp_path / "blocked.txt"
    bl.write_text("# UT1-style list\nhost0.example\n")
    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    rc = main([
        "--input", "synth:120", "--output", out, "--metrics", metrics,
        "--snapshot-id", "bl-snap", "--buckets", "8",
        "--blocklist", str(bl),
    ])
    assert rc == 0
    rows = spark.read.parquet(out).collect()
    blocked = [r for r in rows if r["url"].startswith("https://host0.example/")]
    assert blocked  # the skewed host always has pages
    for r in blocked:
        assert "blocked_domain" in r["drop_reasons"] and not r["keep"]
    hist = spark.read.parquet(metrics).collect()
    total = sum((r["drop_hist"] or {}).get("blocked_domain", 0)
                for r in hist)
    assert total == len(blocked)
    assert {x for r in rows for x in r["drop_reasons"]} == set(DROP_REASONS)
    want: dict[int, int] = {}
    for r in rows:
        want[r["bucket"]] = want.get(r["bucket"], 0) + len(r["drop_reasons"])
    assert {r["bucket"]: sum((r["drop_hist"] or {}).values())
            for r in hist} == want


def test_near_dup_hot_bucket_cap(spark):
    """LSH hot-bucket guard: a band value shared by more docs than
    max_band_bucket is excluded from candidate generation (B² pairs on
    a viral template bucket is the classic crawl-scale job killer),
    while normal-sized near-dup groups still dedup."""
    shared = " ".join("common words for the near dup group %d" % j
                      for j in range(8))
    viral = " ".join("viral template boilerplate words %d" % j
                     for j in range(8))
    rows = []
    for i in range(3):  # small group: under any cap
        rows.append((f"https://g.example/{i}", 0, shared))
    for i in range(30):  # viral group
        rows.append((f"https://v.example/{i}", 1, viral))
    pages = spark.createDataFrame(
        rows, "url string, bucket int, text string")

    # cap below the viral group size: only the small group dedups
    losers = near_dup_losers(pages, jaccard_min=0.9, max_band_bucket=10)
    urls = sorted(r["url"] for r in losers.collect())
    assert urls == ["https://g.example/1", "https://g.example/2"]

    # cap disabled: the viral group collapses too (29 losers + 2)
    all_losers = near_dup_losers(
        pages, jaccard_min=0.9, max_band_bucket=None)
    assert all_losers.count() == 31


def test_run_filter_cli_bucketed_input(spark, tmp_path, capsys):
    """--input bucketed:PATH attaches write_bucketed_pages files to a
    fresh catalog and runs the job over them; the results (winners,
    dup counts, lineage books) must be identical to the same data fed
    as plain parquet — only the plan changes (dedup exchange-free)."""
    from lgid_spark.jobs.run_filter import main
    from lgid_spark.pipeline import write_bucketed_pages

    pages = spark_web_pages_with_dups(spark, 120)
    plain = str(tmp_path / "plain.parquet")
    pages.write.parquet(plain)
    bpath = str(tmp_path / "bucketed_tbl")
    write_bucketed_pages(pages, "cli_bucketed_src", n_buckets=8,
                         path=bpath)
    spark.sql("DROP TABLE IF EXISTS cli_bucketed_src")  # files only

    results = {}
    for name, inp in [("plain", plain), ("bucketed", f"bucketed:{bpath}")]:
        out = str(tmp_path / f"out_{name}")
        metrics = str(tmp_path / f"metrics_{name}")
        rc = main([
            "--input", inp, "--output", out, "--metrics", metrics,
            "--snapshot-id", f"snap-{name}", "--buckets", "8",
        ])
        assert rc == 0
        res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        rows = sorted(
            (r["url"], r["dup_count"], r["keep"])
            for r in spark.read.parquet(out).collect())
        books = spark.read.parquet(metrics).agg(
            F.sum("input_count").alias("inp"),
            F.sum("dedup_dropped").alias("dd")).collect()[0]
        results[name] = (res["processed_rows"], rows,
                         books["inp"], books["dd"])
    assert results["plain"] == results["bucketed"]
    # dup-saturated generator: the exact stage really dropped rows
    assert results["bucketed"][3] > 0


def test_untrusted_url_canon_is_recomputed(spark, tmp_path):
    """A plain input that merely HAPPENS to carry a url_canon column
    (foreign writer, or a layout predating a canonical_url change)
    must be re-canonicalized, not trusted: trust is opt-in and only
    run_filter's table:/bucketed: inputs set it."""
    pages = spark_web_pages_with_dups(spark, 60).withColumn(
        "url_canon", F.lit("bogus-collapses-everything"))
    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    res = run_incremental(
        spark, pages, out, metrics, "snap-untrusted", N_BUCKETS)
    dd = spark.read.parquet(metrics).agg(
        F.sum("dedup_dropped")).collect()[0][0]
    # honest canonical-url dedup: 15 messy twins collapse (60/DUP_EVERY);
    # trusting the bogus column would have collapsed all 75 rows to 1
    assert dd == 15
    assert res["processed_rows"] == 60


def test_emb_near_dup_hot_bucket_cap_cross_engine(spark, tmp_path):
    """The emb_near_dup_pairs viral-bucket guard, exercised for real
    (at sf0.01 no bucket exceeds the cap, so the driver gate never
    hits this path): 1100 identical vectors make BOTH their band
    buckets hot — the cap must suppress the ~10^6 candidate pairs
    they'd otherwise emit — while a planted pair agreeing on the hot
    band-0 bucket but meeting in its own cold band-1 bucket must
    SURVIVE via the first-match hot-band correction (without it, the
    band-1 join row is killed because band 0 'already agreed').
    Spark and the DuckDB oracle must agree row-for-row on this input."""
    import hashlib

    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lgid_spark.queries.coverage import (
        _DIM,
        _DUP_MAX_BUCKET,
        _N_DUP_PLANES,
        emb_near_dup_pairs,
    )
    from lgid_spark.entry_queries import ORACLE_SQL

    def _sign(k, i):
        h = hashlib.md5(f"dupplane|{k}|{i}".encode()).hexdigest()[0]
        return 1.0 if int(h, 16) & 1 else -1.0

    planes = np.array([[_sign(k, i) for i in range(1, _DIM + 1)]
                       for k in range(_N_DUP_PLANES)])

    def sig_bands(v):
        proj = planes @ v.astype(np.float32).astype(np.float64)
        s = int(sum(int(b) << k for k, b in enumerate(proj > 0)))
        return s & 0xFF, (s >> 8) & 0xFF

    rng = np.random.RandomState(7)
    viral = rng.randn(_DIM).astype(np.float32)
    b0v, b1v = sig_bands(viral)
    # planted survivor: same band-0 bucket as the viral mass (hot),
    # its own band-1 bucket (cold) — deterministic seeded search
    for _ in range(10000):
        w = (viral + rng.randn(_DIM).astype(np.float32) * 0.4)
        b0w, b1w = sig_bands(w)
        if b0w == b0v and b1w != b1v:
            break
    else:  # pragma: no cover
        pytest.fail("no planted vector found")
    # control pair in entirely cold buckets
    for _ in range(10000):
        x = rng.randn(_DIM).astype(np.float32)
        b0x, b1x = sig_bands(x)
        if b0x != b0v and b1x not in (b1v, b1w):
            break
    n_viral = _DUP_MAX_BUCKET + 100
    vecs = [viral] * n_viral + [w, w] + [x, x]
    ids = list(range(n_viral)) + [2000, 2001, 3000, 3001]
    table = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array([v.tolist() for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array([1] * len(ids), pa.int32()),
    })
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))

    got = sorted(
        (r["vec_a"], r["vec_b"], r["label"], r["cos_sim"])
        for r in emb_near_dup_pairs(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    pq_path = str(tmp_path / "embeddings.parquet").replace("'", "''")
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pq_path}')")
    want = sorted(map(tuple, con.execute(
        ORACLE_SQL["emb_near_dup_pairs"]).fetchall()))
    assert [(a, b, l, round(c, 6)) for a, b, l, c in got] \
        == [(a, b, l, round(c, 6)) for a, b, l, c in want]
    # both viral bands hot: no viral pair survives; the two planted
    # pairs do — (w,w) ONLY via the hot-band correction
    assert got == [(2000, 2001, 1, 1.0), (3000, 3001, 1, 1.0)]


def test_run_incremental_near_dup_staged_equals_persist(spark, tmp_path):
    """VERDICT r4 item 3: --near-dup-stage materializes the deduped
    frame as a bucketed table instead of persisting it; output AND
    lineage must be identical to the small-corpus persist default."""
    import os
    import re

    results = {}
    for mode in ("persist", "staged"):
        out = str(tmp_path / f"out_{mode}")
        metrics = str(tmp_path / f"metrics_{mode}")
        kw = ({"stage_path": str(tmp_path / "stage")}
              if mode == "staged" else {})
        res = run_incremental(
            spark, _near_dup_corpus(spark), out, metrics, "snap1",
            N_BUCKETS, near_dup=True, **kw)
        rows = sorted(
            (r.asDict() for r in spark.read.parquet(out).collect()),
            key=lambda d: d["url"])
        lin = sorted(
            map(tuple, spark.read.parquet(metrics)
                .drop("snapshot_id").collect()))
        results[mode] = (res, rows, lin)
    assert results["persist"] == results["staged"]
    # the stage dir holds write_bucketed_pages layout (…_NNNNN. files)
    # — re-attachable later as the committed dedup table
    staged_files = os.listdir(str(tmp_path / "stage"))
    assert any(re.search(r"_\d{5}\.", f) for f in staged_files)


def test_staged_near_dup_plans(spark, tmp_path):
    """One scan per consumer (VERDICT r4 item 3's done-bar): after
    staging, the near-dup loser branch and the UDF pass each plan a
    plain column-pruned parquet scan of the staged table — no replay
    of the dedup aggregate, no scan of the original input, no
    Exchange, nothing cached."""
    from lgid_spark.pipeline import write_bucketed_pages

    pages = exact_dedup_pages(_near_dup_corpus(spark), N_BUCKETS)
    write_bucketed_pages(pages, "lgid_stage_plan_test", N_BUCKETS,
                         path=str(tmp_path / "stage"))
    staged = spark.table("lgid_stage_plan_test")

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # the loser branch reads (url, bucket, text); the UDF pass reads
    # (url, warc_ts, html, dup_count) — each consumer's plan is ONE
    # bucketed FileScan of the staged table pruned to its columns
    consumers = {
        "losers": staged.select("url", "bucket", "text"),
        "udf_pass": staged.select("url", "warc_ts", "html", "dup_count"),
    }
    for name, df in consumers.items():
        plan = plan_of(df)
        assert plan.count("Scan parquet") == 1, name
        assert "stage" in plan, name          # the materialized table…
        assert "LocalTableScan" not in plan, name  # …not the raw input
        assert "HashAggregate" not in plan, name   # dedup agg not replayed
        assert "Exchange" not in plan, name
        assert "InMemoryTableScan" not in plan, name
    # column pruning reached the scan: the loser branch does not read
    # the (heavy) html column, the UDF pass does not read text
    assert "html" not in plan_of(consumers["losers"])
    assert "text" not in plan_of(consumers["udf_pass"])


def test_near_dup_resume_does_not_recount_old_losers(spark, tmp_path):
    """Review r5: near_dup_losers re-runs over the FULL input whenever
    ANY bucket is uncommitted, so a later extension (snap3, one
    unrelated new doc) re-discovers snap2's loser. Its drop was
    recorded when its own bucket committed in snap2 — it must NOT be
    appended again, or near_dup_dropped inflates on every resume."""
    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    base = [_page_row(_CANON_URL, 1, _SHARED_TEXT)]
    run_incremental(spark, _pages_df(spark, base), out, metrics,
                    "snap1", N_BUCKETS, near_dup=True)
    b_canon = _bucket_of(spark, _CANON_URL)
    loser_url, b_loser = _fresh_bucket_url(
        spark, "https://site.example/copy/zz%d", {b_canon})
    ext2 = base + [_page_row(loser_url, 5, _SHARED_TEXT)]
    run_incremental(spark, _pages_df(spark, ext2), out, metrics,
                    "snap2", N_BUCKETS, near_dup=True)

    # snap3: ONLY an unrelated doc in a fresh bucket is new — the old
    # loser is re-found by the chain but its drop is already on the
    # books (snap2's counts-only row on the canon bucket)
    other_url, _ = _fresh_bucket_url(
        spark, "https://other.example/doc/%d", {b_canon, b_loser})
    other_text = " ".join("completely different words %d" % k
                          for k in range(25))
    ext3 = ext2 + [_page_row(other_url, 7, other_text)]
    res3 = run_incremental(spark, _pages_df(spark, ext3), out, metrics,
                           "snap3", N_BUCKETS, near_dup=True)
    assert res3["processed_rows"] == 1  # just the unrelated doc

    lin = spark.read.parquet(metrics)
    agg = lin.agg(F.sum("input_count").alias("n"),
                  F.sum("dedup_dropped").alias("dd"),
                  F.sum("near_dup_dropped").alias("nd")).collect()[0]
    # 3 rows ever offered = 2 processed + 1 near-dup drop, EXACTLY once
    assert (agg["n"], agg["dd"], agg["nd"]) == (2, 0, 1)
    # no snap3 row re-attributes the old drop to the canon bucket
    snap3_canon = lin.where((F.col("snapshot_id") == "snap3")
                            & (F.col("bucket") == b_canon)).collect()
    assert snap3_canon == []
