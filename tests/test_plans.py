"""Physical-plan audits: the scale properties claimed in docstrings are
asserted here so regressions in plan shape fail CI, not the cluster.

(SURVEY §4: pushdown/pruning/broadcast come from Catalyst only if the
plan stays declarative — these tests pin that.)
"""

from __future__ import annotations

import os

import pytest

from lgid_spark.queries.relational import q1_pricing_summary, q3_top_revenue, region_rollup
from lgid_spark.queries.textops import token_stats
from lgid_spark.queries.windowed import error_window_join

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dimension_joins_broadcast(spark):
    plan = _plan(region_rollup(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q1_partial_aggregation_and_pushdown(spark):
    df = q1_pricing_summary(spark, SF)
    plan = _plan(df)
    # map-side combine: partial + final HashAggregate pair
    assert plan.count("HashAggregate") >= 2
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    scan = _plan(df)
    # shipdate filter reaches the parquet scan
    assert "PushedFilters: [" in scan and "l_shipdate" in scan.split("PushedFilters")[1][:200]


def test_q3_topk_is_take_ordered(spark):
    plan = _plan(q3_top_revenue(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_column_pruning_reaches_scan(spark):
    plan = _plan(token_stats(spark, SF))
    # only doc_id + text are read; lang/source/n_chars pruned
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read and "doc_id" in read
    assert "n_chars" not in read and "source" not in read


def test_range_join_is_hash_not_nested_loop(spark):
    # broadcast no longer forced (AQE picks it when the exploded errors
    # side is small; a shuffled hash/sort-merge join is equally fine at
    # scale) — what matters is that the bucketization kept it an
    # equi-join, never a nested loop
    plan = _plan(error_window_join(spark, SF))
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan)
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_build_instances_no_cartesian(spark):
    """The evidence stage is ~15 joins — every one must stay an equi/
    broadcast hash join; a drifted join condition that degrades to a
    nested loop would still return correct rows, just 100× slower."""
    from lgid_spark.classify import build_instances
    from lgid_spark.fixtures import LANG_TABLE
    from lgid_spark.operators.lm import build_lm_ngrams

    lines = spark.createDataFrame(
        [("d0", 1, "O", None, None, None, "about quenya"),
         ("d0", 2, "L", "s1", "quenya", "qya", "ex am ple")],
        "doc_id string, lineno int, tag string, span_id string, "
        "lang_name string, lang_code string, text string",
    )
    lm = build_lm_ngrams(
        spark.createDataFrame([("qya", "ex am ple")], ["lang", "text"]),
        char_n=3, word_n=1, morph_n=2)
    plan = _plan(build_instances(
        spark, lines, LANG_TABLE, odin_lm=lm,
        common_table={"quenya": ["qya"]}))
    assert "CartesianProduct" not in plan


def test_build_instances_scale_path_no_forced_broadcast(spark):
    """VERDICT r2 item 9: the evidence frames (spans, qualifying docs,
    feature aggregates) grow WITH the corpus — a forced F.broadcast on
    any of them OOMs the driver at 10^6+ docs. With auto-broadcast
    disabled (the 10^6-doc planner state), the whole instance build
    must degrade to shuffle joins: the only BroadcastExchanges allowed
    are for genuinely bounded dimensions (the common-codes table; the
    mention matcher ships via sc.broadcast, not a plan node)."""
    from lgid_spark.classify import build_instances
    from lgid_spark.fixtures import LANG_TABLE

    lines = spark.createDataFrame(
        [("d0", 1, "O", None, None, None, "about quenya"),
         ("d0", 2, "L", "s1", "quenya", "qya", "ex am ple")],
        "doc_id string, lineno int, tag string, span_id string, "
        "lang_name string, lang_code string, text string",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(build_instances(
            spark, lines, LANG_TABLE,
            common_table={"quenya": ["qya"]},
            evidence_strategy="shuffle"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in plan
    # one forced broadcast remains: the bounded common-codes dim
    assert plan.count("BroadcastExchange") <= 1
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_and_simhash_pairs_no_cartesian(spark):
    """Candidate generation must stay equi-join (bands / cells), never
    an all-pairs product: ivf_topk's only cross-join is probes×centroids
    (tiny broadcast), simhash pairs join on the banded signature half."""
    from lgid_spark.queries.similarity import ivf_topk
    from lgid_spark.queries.textops import simhash_near_pairs

    plan = _plan(simhash_near_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    plan = _plan(ivf_topk(spark, SF))
    # the vectors×centroids fan-outs are DELIBERATE broadcast nested
    # loops over the 4-row centroid dim (bounded ×N_CENTROIDS, the same
    # shape as knn_bruteforce's probe broadcast); what must NOT appear
    # is an unbroadcast cartesian — i.e. member×probe pairing must ride
    # the centroid_id equi-join
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # the two centroid fan-outs


def test_word_index_window_is_partitioned(spark):
    """Dense-id assignment must NOT run one global single-partition
    row_number: the heavy ranking is hash-partitioned on the prefix
    bucket; only the tiny per-bucket count frame goes SinglePartition."""
    from lgid_spark.queries.advanced import QUERIES

    plan = _plan(QUERIES["word_int_index"](spark, SF))
    rn = plan.index("row_number()")
    # the exchange feeding the row_number window is a hash partitioning
    feeding = plan[rn:].split("Exchange", 2)[1]
    assert "hashpartitioning(_bkt" in feeding


def test_word_index_prefix_buckets_break_skew(spark):
    """VERDICT r2 item 5: on a letter-skewed vocabulary (everything
    starts with 's') a first-CHARACTER bucket would re-concentrate the
    rank into one partition; the 3-char sorted prefix must spread it
    over many effective buckets while keeping ids dense and sorted."""
    from lgid_spark.operators.word_index import dense_word_ids

    vocab = [f"s{chr(97 + i)}{chr(97 + j)}word{k}"
             for i in range(26) for j in range(5) for k in range(3)]
    words = spark.createDataFrame([(w,) for w in vocab], ["word"])
    ids = dense_word_ids(words)
    n_buckets = (
        ids.selectExpr("substring(word, 1, 3) AS b")
        .distinct().count()
    )
    assert n_buckets > 26  # one bucket per 3-prefix, not per letter
    got = [r.word for r in ids.orderBy("word_id").collect()]
    assert got == sorted(vocab)  # dense ids still in global sorted order
    first = ids.agg({"word_id": "min"}).collect()[0][0]
    last = ids.agg({"word_id": "max"}).collect()[0][0]
    assert (first, last) == (10000, 10000 + len(vocab) - 1)


def test_emb_near_dup_no_cartesian(spark):
    from lgid_spark.queries.coverage import emb_near_dup_pairs

    # the near-dup candidate stage must be an equi-join on LSH bands —
    # the r1 all-pairs-within-label block was quadratic (VERDICT r1 #2)
    plan = _plan(emb_near_dup_pairs(spark, SF))
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_salted_agg_is_two_stage(spark):
    from lgid_spark.queries.skew import salted_host_agg

    df = salted_host_agg(spark, SF)
    plan = _plan(df)
    # two shuffles: (key, salt) pre-agg then key combine — the hot key
    # is split across salt partitions in the heavy first stage
    assert plan.count("Exchange") >= 2
    # correctness equal to plain agg
    import os
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    plain = {
        r["source"]: (r["n"], r["c"]) for r in docs.groupBy("source").agg(
            F.count("*").alias("n"),
            F.sum(F.col("n_chars").cast("long")).alias("c")).collect()
    }
    salted = {r["host"]: (r["n_docs"], r["total_chars"]) for r in df.collect()}
    assert plain == salted


def test_pipeline_is_shuffle_free(spark):
    from lgid_spark.datagen import spark_web_pages
    from lgid_spark.pipeline import quality_pipeline

    out = quality_pipeline(spark, spark_web_pages(spark, 64))
    plan = _plan(out.select("url", "keep"))
    # narrow map end-to-end: no Exchange until someone aggregates
    assert "Exchange" not in plan


def test_line_dedup_first_occurrence_has_map_side_combine(spark):
    """Round-4 skew fix (VERDICT r3): the C4-style first-occurrence rule
    must be a partial_min aggregate (map-side combine) + join, never a
    row_number window over partitionBy(line) — a window has no partial
    aggregation, so one viral boilerplate line would shuffle every
    occurrence to a single task at crawl scale."""
    from pyspark.sql import functions as F

    from lgid_spark.queries.textops import mark_first_occurrence

    # one viral line duplicated 100k times across many urls + uniques
    n = 100_000
    viral = spark.range(n).select(
        F.concat(F.lit("http://h"), F.col("id")).alias("url"),
        F.lit(0).alias("pos"),
        F.lit("All rights reserved. Do not reproduce.").alias("line"),
    )
    uniq = spark.range(1000).select(
        F.concat(F.lit("http://u"), F.col("id")).alias("url"),
        F.lit(1).alias("pos"),
        F.concat(F.lit("unique content line "), F.col("id")).alias("line"),
    )
    marked = mark_first_occurrence(viral.unionAll(uniq))
    plan = marked._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # the skew-unsafe shape is gone
    assert "partial_min" in plan  # map-side combine before the exchange

    agg = marked.agg(
        F.sum(F.col("keep").cast("long")).alias("kept"),
        F.count("*").alias("total"),
    ).collect()[0]
    # exactly one of the 100k viral occurrences survives; the winner is
    # the min (url, pos) — deterministic under any partitioning
    assert agg["total"] == n + 1000
    assert agg["kept"] == 1 + 1000
    winner = marked.where("keep AND pos = 0").collect()
    assert [r["url"] for r in winner] == ["http://h0"]


def test_bucketed_table_dedup_is_exchange_free(spark, tmp_path):
    """The 100-TB dedup endgame: once the crawl table is written
    bucketed by the canonical url (write_bucketed_pages), the exact
    dedup aggregate must run with ZERO Exchange — the catalog's bucket
    layout replaces the shuffle. Results must equal the shuffling
    one-off stage on the same data."""
    from lgid_spark.datagen import spark_web_pages_with_dups
    from lgid_spark.pipeline import exact_dedup_pages, write_bucketed_pages

    pages = spark_web_pages_with_dups(spark, 120)
    table = "bucketed_pages_plan_test"
    try:
        write_bucketed_pages(
            pages, table, n_buckets=8, path=str(tmp_path / "tbl"))
        deduped = exact_dedup_pages(spark.table(table), 8)
        plan = deduped._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # bucket layout replaces the shuffle
        assert plan.count("HashAggregate") >= 1 or "SortAggregate" in plan

        got = sorted(
            (r["url"], r["dup_count"]) for r in deduped.collect())
        want = sorted(
            (r["url"], r["dup_count"])
            for r in exact_dedup_pages(pages, 8).collect())
        assert got == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_registered_bucketed_table_pipeline_is_exchange_free(
        spark, tmp_path):
    """The steady-state production shape (round 4, TODO#3): a NEW
    session re-attaches the bucketed files via register_bucketed_pages
    (the in-memory-catalog stand-in for Iceberg table metadata), and
    the whole dedup → fused-UDF labelled plan — exactly what
    run_incremental builds upstream of the output write — runs with
    ZERO Exchange. The one-off dedup shuffle has become a table-write-
    time cost; every incremental/backfill run is shuffle-free until
    the lineage aggregate."""
    from lgid_spark.datagen import spark_web_pages_with_dups
    from lgid_spark.pipeline import (
        exact_dedup_pages,
        quality_pipeline,
        register_bucketed_pages,
        write_bucketed_pages,
    )

    pages = spark_web_pages_with_dups(spark, 120)
    table = "bucketed_pages_reattach_test"
    path = str(tmp_path / "tbl")
    try:
        write_bucketed_pages(pages, table, n_buckets=8, path=path)
        # simulate the next session: the catalog entry is gone, only
        # the files remain — re-declare the layout from the path
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        register_bucketed_pages(spark, table, path, n_buckets=8)

        t = spark.table(table)
        staged = exact_dedup_pages(
            t.select("url", "warc_ts", "html", "lang", "url_canon"), 8)
        labelled = quality_pipeline(
            spark, staged, n_buckets=8, emit_extracted=False,
            extra_cols=("dup_count",))
        plan = labelled._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

        got = sorted(
            (r["url"], r["dup_count"], r["keep"])
            for r in labelled.select("url", "dup_count", "keep").collect())
        want = sorted(
            (r["url"], r["dup_count"], r["keep"])
            for r in quality_pipeline(
                spark, exact_dedup_pages(
                    pages.select("url", "warc_ts", "html", "lang"), 8),
                n_buckets=8, emit_extracted=False,
                extra_cols=("dup_count",),
            ).select("url", "dup_count", "keep").collect())
        assert got == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_near_dup_losers_no_cartesian(spark):
    """The job's near-dup stage must stay banded-LSH equi-joins all the
    way down — a cartesian/nested-loop product here is the classic
    10^12-doc killer."""
    from pyspark.sql import functions as F

    from lgid_spark.pipeline import near_dup_losers

    pages = spark.range(200).select(
        F.concat(F.lit("https://h.example/p"), F.col("id")).alias("url"),
        (F.col("id") % 8).cast("int").alias("bucket"),
        F.concat(F.lit("some words repeated here "), (F.col("id") % 5))
        .alias("text"),
    )
    losers = near_dup_losers(pages, jaccard_min=0.9)
    plan = losers._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_emb_near_dup_reuses_the_band_exchange(spark):
    """Round 4: the banded self-join's two sides project IDENTICAL
    columns, so in the at-scale planner state (sides too large to
    broadcast) the two exchange subtrees canonicalize equal and ONE
    shuffle is reused — the signature pipeline runs once, not per
    side. Asserted with AQE/broadcast off for a deterministic plan;
    AQE performs the same reuse at runtime via its stage cache."""
    from lgid_spark.queries.coverage import emb_near_dup_pairs

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = emb_near_dup_pairs(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024))


def test_register_bucketed_pages_validates_layout(spark, tmp_path):
    """The declared bucket count must match the files: too small would
    make Spark silently drop every higher-numbered file from every
    scan, so it fails fast; None infers the count from the file names;
    an existing managed table is never dropped (its data would go with
    it)."""
    import pytest

    from lgid_spark.datagen import spark_web_pages_with_dups
    from lgid_spark.pipeline import (
        register_bucketed_pages,
        write_bucketed_pages,
    )

    pages = spark_web_pages_with_dups(spark, 120)
    path = str(tmp_path / "tbl8")
    try:
        write_bucketed_pages(pages, "reg_val_t", n_buckets=8, path=path)
        spark.sql("DROP TABLE IF EXISTS reg_val_t")

        with pytest.raises(ValueError, match="bucket ids up to"):
            register_bucketed_pages(spark, "reg_val_t", path, n_buckets=4)
        assert register_bucketed_pages(spark, "reg_val_t", path) == 8

        spark.range(1).write.mode("overwrite").saveAsTable("reg_val_managed")
        with pytest.raises(ValueError, match="MANAGED"):
            register_bucketed_pages(spark, "reg_val_managed", path, 8)
    finally:
        spark.sql("DROP TABLE IF EXISTS reg_val_t")
        spark.sql("DROP TABLE IF EXISTS reg_val_managed")
