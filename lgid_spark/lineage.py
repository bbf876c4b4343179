"""Per-partition lineage + idempotent resume (north_rule).

Every pipeline run appends one lineage row per url-hash bucket to a
metrics table:

    bucket int, snapshot_id string, input_count long, kept_count long,
    dedup_dropped long, near_dup_dropped long,
    drop_hist map<string,long>, checksum long

* One per-bucket summary (``bucket_summary``: a single groupBy on the
  bucket) computes the counts, the drop-reason histogram and the
  checksum from rows. The commit and the audit both run it over the
  output FILES, read by one reader (read_output), so there is one
  source of books; the run collects its at most N lineage rows once
  and writes them as one metrics file.
* Write-ahead commit over owned buckets: a run owns every bucket not
  yet in the metrics table. It deletes their ``bucket=`` directories,
  appends its rows, books them from a partition-pruned read of those
  directories, and only then appends the metrics rows that commit
  them. A crash anywhere before the metrics write leaves the buckets
  uncommitted, and the retry rewrites them instead of appending its
  rows next to the crashed attempt's; a committed bucket is never
  touched.
* Books merge: counts add, checksums bit_xor, drop histograms add.
  ``merge_books`` is that merge, on the driver, and every place that
  combines per-bucket books uses it: a near-dup run folds its drop
  counts into the summary rows, and the audit folds every snapshot's
  rows before it diffs them against the output's summary. Both sides
  are at most N rows, so no join is planned.
* Those rows go back to Spark through Arrow (session.local_frame), a
  JVM-side ParallelCollectionRDD: ``createDataFrame(list)`` would plan
  a PythonRDD, and the one-task metrics write would wait for a Python
  worker to unpickle N tuples: 0.75-0.8 s of executor time in a warm
  session and 2.2 s in its first run on a 4-core host, against
  0.04-0.08 s through Arrow.
* ``checksum`` is an order-insensitive fold: bit_xor of
  xxhash64(url || scrubbed_text) over the bucket — two runs that
  produced byte-identical output per url have equal checksums no
  matter how rows were partitioned or ordered.
* Resume filters the raw input BEFORE any shuffle: the committed
  bucket ids are read once into a driver-side list, and rows whose
  bucket is in it never reach the dedup exchange or the UDF. One probe
  (is any row left?) then decides the no-op, so a crashed run
  re-processes only the missing buckets and a re-run of a complete job
  costs the schema guards, the id read and that probe.

This is the Iceberg-metrics-table design from SURVEY.md §2.10/§4
expressed over plain parquet (the sandbox has no Iceberg runtime jar):
the metrics dir plays the metrics table, the snapshot_id column plays
the Iceberg snapshot lineage. Swapping the two ``spark.read/write``
calls to ``format("iceberg")`` is the only change a real deployment
needs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable, Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, MapType, StringType, StructField, StructType)

from .pipeline import (
    DROP_REASONS,
    apply_domain_blocklist,
    bucket_id,
    canonical_url,
    exact_dedup_pages,
    near_dup_losers,
    output_columns,
    quality_pipeline,
    with_bucket,
    write_bucketed_pages,
)
from .session import hadoop_fs, local_frame

# the row layout above as one StructType, shared by the metrics write,
# its append-schema guard and the metrics readers
METRICS_SCHEMA = StructType([
    StructField("bucket", IntegerType()),
    StructField("snapshot_id", StringType()),
    *[StructField(c, LongType()) for c in (
        "input_count", "kept_count", "dedup_dropped", "near_dup_dropped")],
    StructField("drop_hist", MapType(StringType(), LongType())),
    StructField("checksum", LongType()),
])


def bucket_summary(df: DataFrame) -> DataFrame:
    """The per-bucket books of a labelled or output frame, as ONE
    groupBy("bucket") aggregate: input_count, kept_count,
    dedup_dropped, drop_hist and checksum.

    ``dedup_dropped`` is Σ(dup_count − 1) — the duplicate
    spellings/copies the exact-dedup stage collapsed — or 0 without a
    dup_count column. ``drop_hist`` counts each reason of
    pipeline.DROP_REASONS with count_if (a row holds a reason at most
    once), keeps the non-zero counts and is NULL for a bucket without
    drops. ``checksum`` is NULL for a frame without scrubbed_text (a
    labels-only output cannot reproduce the fold). Consumers select
    what they need; Catalyst prunes the other aggregates."""
    counts = F.array(*[
        F.count_if(F.array_contains("drop_reasons", r))
        for r in DROP_REASONS])
    hist = F.map_filter(
        F.map_from_arrays(F.array(*map(F.lit, DROP_REASONS)), counts),
        lambda _, v: v > 0)
    return df.groupBy("bucket").agg(
        F.count("*").alias("input_count"),
        F.sum(F.col("keep").cast("long")).alias("kept_count"),
        (F.sum(F.col("dup_count") - 1) if "dup_count" in df.columns
         else F.lit(0)).cast("long").alias("dedup_dropped"),
        F.when(F.size(hist) > 0, hist).alias("drop_hist"),
        (F.expr("bit_xor(xxhash64(concat(url, scrubbed_text)))")
         if "scrubbed_text" in df.columns
         else F.lit(None).cast("bigint")).alias("checksum"),
    )


def lineage_rows(labelled: DataFrame, snapshot_id: str) -> DataFrame:
    """One metrics row per bucket of ``labelled``: its bucket_summary
    (one exchange, on the low-cardinality bucket key) tagged with the
    snapshot. ``near_dup_dropped`` is 0 here; a near-dup run merges its
    drop counts in on the driver (merge_books)."""
    return bucket_summary(labelled).select(
        "bucket", F.lit(snapshot_id).alias("snapshot_id"), "input_count",
        "kept_count", "dedup_dropped",
        F.lit(0).cast("long").alias("near_dup_dropped"),
        "drop_hist", "checksum",
    )


def merge_books(
    rows: Iterable[tuple], snapshot_id: str | None = None
) -> dict[int, tuple]:
    """Merge per-bucket books (tuples or Rows in METRICS_SCHEMA order)
    into one METRICS_SCHEMA tuple per bucket, tagged with
    ``snapshot_id``: the four counts add, the non-NULL checksums
    bit_xor (NULL if there are none) and the drop_hist maps add (NULL
    if empty). This is the merge of the metrics table's own states —
    what summing a bucket's snapshots means — so a bucket's books are
    the same however its rows were split across snapshots or sources.
    Python's ^ on two signed 64-bit ints is again a signed 64-bit int,
    equal to Spark's bit_xor on longs."""
    books: dict[int, list] = {}
    for bucket, _, *counts, hist, checksum in rows:
        b = books.setdefault(bucket, [0, 0, 0, 0, {}, None])
        for i, n in enumerate(counts):
            b[i] += n
        for reason, n in (hist or {}).items():
            b[4][reason] = b[4].get(reason, 0) + n
        if checksum is not None:
            b[5] = checksum if b[5] is None else b[5] ^ checksum
    return {bucket: (bucket, snapshot_id, *counts, hist or None, checksum)
            for bucket, (*counts, hist, checksum) in books.items()}


# the columns of the output that its books read, with their types:
# read_output reads the output with this schema instead of inferring it
# from the footers
OUTPUT_BOOKS_SCHEMA = ("bucket int, url string, keep boolean, "
                       "drop_reasons array<string>, scrubbed_text string")
AUDIT_SCHEMA = ("bucket int, lineage_rows long, lineage_kept long, "
                "lineage_checksum long, output_rows long, output_kept long, "
                "output_checksum long")


def read_output(
    spark: SparkSession, output_path: str, dedup: bool = False
) -> DataFrame:
    """The book columns of the output (OUTPUT_BOOKS_SCHEMA, plus
    dup_count for a dedup run's commit), read with that schema: no
    footer inference, and a filter on ``bucket`` prunes whole
    ``bucket=`` directories. The commit and the audit both read the
    output through it."""
    return spark.read.schema(OUTPUT_BOOKS_SCHEMA + (
        ", dup_count long" if dedup else "")).parquet(output_path)


def audit_lineage(
    spark: SparkSession, output_path: str, metrics_path: str
) -> DataFrame:
    """Integrity audit over a (possibly multi-snapshot, resumed) run:
    the OUTPUT table's bucket_summary — the same aggregate that wrote
    the lineage — diffed against the committed lineage per bucket (row
    count, kept count, order-insensitive checksum). Returns one row per
    disagreeing bucket (empty frame = books are sound) with both sides
    of every number, NULL on a side that has no such bucket — the
    operator-facing check that a crash/retry or a concurrent writer
    didn't leave the output and the metrics table telling different
    stories.

    Both sides are at most N rows, so they are collected and compared
    on the driver. Lineage side: every snapshot's rows merged per
    bucket (merge_books), which also folds in the counts-only rows a
    near-dup run commits. Output side: one bucket_summary of the
    output (read_output), its unused aggregates pruned. The commit
    books the files it wrote the same way, so this catches what
    happened to the files after their commit.
    A path that was never created (a run whose rows all vanished
    before the write) has no books, so a missing output with committed
    lineage reports every lineage bucket — and nothing-vs-nothing is
    sound."""
    lin = {bucket: (b[2], b[3], b[7]) for bucket, b in merge_books(
        read_metrics(spark, metrics_path)).items()}
    out = {}
    if _path_exists(spark, output_path):
        out = {r.bucket: (r.input_count, r.kept_count, r.checksum)
               for r in bucket_summary(read_output(spark, output_path))
               .select("bucket", "input_count", "kept_count", "checksum")
               .collect()}
    none = (None, None, None)
    bad = []
    for bucket in sorted(lin.keys() | out.keys()):
        l_rows, l_kept, l_sum = lin.get(bucket, none)
        o_rows, o_kept, o_sum = out.get(bucket, none)
        if ((l_rows or 0, l_kept or 0) != (o_rows or 0, o_kept or 0)
                or (None not in (l_sum, o_sum) and l_sum != o_sum)):
            bad.append((bucket, l_rows, l_kept, l_sum, o_rows, o_kept, o_sum))
    return local_frame(spark, bad, AUDIT_SCHEMA)


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through session.hadoop_fs: a bare
    os.path.exists is always False for remote URIs, which would
    silently disable the resume filter and the schema guard exactly
    where a real cluster runs."""
    fs, jpath = hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def _delete_owned_buckets(
    spark: SparkSession, output_path: str, done: list[int]
) -> None:
    """Delete the ``bucket=`` directories of the output whose bucket
    is not in ``done`` (the committed ids), through session.hadoop_fs
    so any storage URI works. Those are the buckets a run owns: what
    they hold is a crashed attempt's uncommitted rows, which the run
    replaces. Committed buckets and non-bucket entries stay."""
    fs, root = hadoop_fs(spark, output_path)
    if not fs.exists(root):
        return
    keep = {f"bucket={b}" for b in done}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if (st.isDirectory() and name.startswith("bucket=")
                and name not in keep):
            fs.delete(st.getPath(), True)


def _check_append_schema(
    spark: SparkSession, output_path: str, new_cols: list[str]
) -> None:
    """Fail fast instead of silently creating a mixed-schema dataset.

    Appending rows with a different column set (e.g. alternating
    --emit-extracted across snapshots, or resuming a pre-flag dataset
    with the new default) writes footers with differing schemas into
    ONE parquet dataset; readers without mergeSchema then see
    extracted_text or not depending on which footer Spark samples
    (ADVICE r3). Migration for an existing mixed/pre-change dataset:
    one-time compaction — read with mergeSchema=true, select the
    desired column set, rewrite, then resume appending."""
    if not _path_exists(spark, output_path):
        return
    from pyspark.errors import AnalysisException

    try:
        existing = spark.read.option("mergeSchema", "true").parquet(
            output_path).schema.names
    except AnalysisException:  # empty dir / no footers yet
        return
    if set(existing) != set(new_cols):
        raise ValueError(
            "run_incremental: output dataset at %r has columns %s but "
            "this run would append columns %s (emit flags changed?). "
            "Re-run with the matching emit shape, or compact the "
            "dataset once (read mergeSchema=true, select the desired "
            "columns, rewrite) before resuming."
            % (output_path, sorted(existing), sorted(new_cols)))


def read_metrics(
    spark: SparkSession, metrics_path: str,
    cols: Sequence[str] = METRICS_SCHEMA.names,
) -> list[Row]:
    """The ``cols`` of every row of the metrics table, collected (at
    most snapshots × N rows; none if the table doesn't exist yet): one
    scan job with the schema given — no inference, no shuffle."""
    if not _path_exists(spark, metrics_path):
        return []
    return (spark.read.schema(METRICS_SCHEMA).parquet(metrics_path)
            .select(*cols).collect())


def committed_bucket_ids(spark: SparkSession, metrics_path: str) -> list[int]:
    """Buckets already recorded in the metrics table, as a sorted
    driver-side list, deduplicated here (read_metrics of the bucket
    column)."""
    return sorted({r.bucket for r in read_metrics(
        spark, metrics_path, ["bucket"])})


def committed_buckets(spark: SparkSession, metrics_path: str) -> DataFrame:
    """committed_bucket_ids as a one-column (bucket) frame."""
    return local_frame(
        spark, [(b,) for b in committed_bucket_ids(spark, metrics_path)],
        "bucket int")


class Todo(NamedTuple):
    """What a resumed run has left to do (see resume_frames)."""

    labelled: DataFrame                 # rows to write: uncommitted buckets
    # near-dup: (bucket, near_dup_dropped, loser_dedup_dropped) per
    # canonical doc's bucket, committed or not; merged into the books
    near_dup_counts: DataFrame | None
    fresh_buckets: DataFrame | None     # near-dup: uncommitted input buckets
    cached: DataFrame | None            # persisted near-dup input


def resume_frames(
    spark: SparkSession,
    web_pages: DataFrame,
    done: list[int],
    n_buckets: int = 64,
    emit_extracted: bool = False,
    dedup: bool = True,
    near_dup: bool = False,
    near_dup_jaccard: float = 0.9,
    near_dup_max_bucket: int = 1000,
    blocked_hosts: DataFrame | None = None,
    trust_url_canon: bool = False,
    stage_path: str | None = None,
) -> Todo | None:
    """The frames run_incremental writes, for a metrics table that has
    committed the bucket ids ``done``; None when no input row falls in
    an uncommitted bucket (the no-op).

    The committed filter ``NOT bucket IN (done)`` applies to the RAW
    rows, before the dedup projection: the bucket is a pure function of
    the dedup group key (pipeline.bucket_id over the trusted url_canon,
    canonical_url(url), or url without dedup), so dropping whole buckets
    before the aggregate cannot change any winner, and committed rows
    never reach the exchange or the UDF. With committed buckets, one
    probe — isEmpty() over the filtered rows, a pruned url scan — runs
    before the fused UDF or the near-dup chain is even built
    (connected_components materializes at DAG-build time). A run with
    nothing committed pays no probe."""
    extra_cols: tuple[str, ...] = ()
    if dedup:
        # project BEFORE the dedup shuffle: the UDF pass reads html
        # (never the raw text column), so shipping text through the
        # exchange would roughly double the shuffle volume for nothing;
        # near-dup is the one consumer of text downstream. A trusted
        # url_canon (pre-canonicalized bucketed table) keeps the layout
        # column so the dedup aggregate runs exchange-free on its scan.
        # Trust is opt-in (run_filter sets it for table:/bucketed:
        # inputs only): a plain parquet input that merely HAPPENS to
        # carry a url_canon column — foreign, or written before a
        # canonical_url change — must be re-canonicalized
        trusted = trust_url_canon and "url_canon" in web_pages.columns
        needed = ["url", "warc_ts", "html", "lang"] + (
            ["text"] if near_dup else []) + (
            ["url_canon"] if trusted else [])
        pages = web_pages.select(
            *[c for c in needed if c in web_pages.columns])
        if not trusted:
            pages = pages.withColumn("url_canon", canonical_url(F.col("url")))
        key = bucket_id(F.col("url_canon"), n_buckets)
        extra_cols = ("dup_count",)
    else:
        pages = with_bucket(web_pages, n_buckets)
        key = F.col("bucket")

    def uncommitted(df: DataFrame, b: Column = F.col("bucket")) -> DataFrame:
        return df.where(~b.isin(done)) if done else df

    fresh = uncommitted(pages, key)
    # the probe: isEmpty is limit(1) + take — one job over the pruned
    # url (or url_canon) column, where limit(1).count() costs two
    if done and fresh.isEmpty():
        return None
    nd_counts = fresh_buckets = cached = None
    if near_dup:
        # near_dup_losers runs over the FULL deduped input: a canonical
        # doc in a committed bucket still decides losers in uncommitted
        # ones (ADVICE r4); the committed filter applies after the
        # loser anti-join
        deduped = exact_dedup_pages(pages, n_buckets) if dedup else pages
        if stage_path is not None:
            # crawl-scale staging: write the deduped frame once as a
            # bucketed table instead of persisting html+text in executor
            # memory. Each consumer below then plans a plain bucketed
            # scan pruned to its own columns — the loser scan reads no
            # html, the UDF pass no text — where a persist holds both,
            # spills, and replays nothing cheaper; the table doubles as
            # the committed dedup table (register_bucketed_pages)
            table = "lgid_stage_" + hashlib.md5(
                stage_path.encode()).hexdigest()[:10]
            write_bucketed_pages(deduped, table, n_buckets, path=stage_path)
            staged = spark.table(table)
        else:
            staged = cached = deduped.persist()
        losers = near_dup_losers(
            staged, jaccard_min=near_dup_jaccard,
            max_band_bucket=near_dup_max_bucket)
        # counts keyed on the CANONICAL doc's bucket — that bucket
        # always has a surviving row, so the lineage row exists. A
        # loser removed here also takes its exact-dedup dup_count out
        # of the labelled frame, so carry those drops along or the
        # books (input = processed + dedup + near_dup) stop balancing.
        loser_dd = (
            (F.sum(F.col("dup_count") - 1) if dedup else F.lit(0))
            .cast("long").alias("loser_dedup_dropped"))
        # only losers whose OWN bucket is uncommitted are new to the
        # books: a loser sitting in a committed bucket was already
        # accounted in the snapshot that committed it — processed (its
        # row stays in the append-only output) or dropped — and
        # re-counting it on every later resume (near_dup_losers re-runs
        # over the FULL input whenever any bucket is uncommitted) would
        # inflate near_dup_dropped without bound
        countable = uncommitted(losers)
        enriched = (countable.join(staged.select("url", "dup_count"), "url")
                    if dedup else countable)
        nd_counts = enriched.groupBy(
            F.col("canon_bucket").alias("bucket")).agg(
            F.count("*").alias("near_dup_dropped"), loser_dd)
        fresh = uncommitted(
            staged.join(losers.select("url"), "url", "left_anti"))
        fresh_buckets = uncommitted(staged.select("bucket")).distinct()
    elif dedup:
        fresh = exact_dedup_pages(fresh, n_buckets)
    labelled = quality_pipeline(
        spark, fresh, n_buckets=n_buckets,
        emit_extracted=emit_extracted, extra_cols=extra_cols)
    if blocked_hosts is not None:
        # optional UT1-style host blocklist (broadcast bounded dim);
        # blocked rows stay in the output with keep=false and a
        # 'blocked_domain' drop reason, counted in the lineage
        # drop_hist like any other rule
        labelled = apply_domain_blocklist(labelled, blocked_hosts)
    return Todo(labelled, nd_counts, fresh_buckets, cached)


def run_incremental(
    spark: SparkSession,
    web_pages: DataFrame,
    output_path: str,
    metrics_path: str,
    snapshot_id: str,
    n_buckets: int = 64,
    emit_extracted: bool = False,
    dedup: bool = True,
    near_dup: bool = False,
    near_dup_jaccard: float = 0.9,
    near_dup_max_bucket: int = 1000,
    blocked_hosts: DataFrame | None = None,
    trust_url_canon: bool = False,
    stage_path: str | None = None,
) -> dict:
    """Process only not-yet-committed buckets; append output + lineage.

    Idempotent: if every bucket is committed this is a no-op that costs
    the two append-schema guards, one read of the committed bucket ids
    and one probe — no dedup exchange, no fused UDF, no model
    broadcast. Rows of committed buckets are filtered out of the raw
    input before anything else (resume_frames).

    Otherwise the run owns every bucket not in the metrics table and
    commits write-ahead, in this order:

    1. delete the owned buckets' ``bucket=`` directories (what they
       hold is a crashed attempt's uncommitted rows);
    2. append the labelled rows once, one file per bucket (rebalanced
       by bucket before partitionBy);
    3. book them: lineage_rows over read_output of the owned buckets,
       a partition-pruned read of the files just written, collected
       once (at most N rows);
    4. append those rows as one metrics file, built through Arrow
       (session.local_frame) so the commit runs no Python worker.

    Nothing is persisted on the way: the UDF output is computed once,
    by the write. The books come from the files, as the audit's do,
    and their balance (input = processed + dedup_dropped +
    near_dup_dropped) checks the write. A crash anywhere before step 4
    — between the two writes or inside the output commit — leaves the
    buckets uncommitted, and the retry's step 1 clears them, so the
    output never holds a bucket twice. Downstream readers key on the
    metrics table (with real Iceberg both writes share one
    transaction).

    Dedup runs BEFORE the expensive Arrow UDF pass (round 4):

    * ``dedup`` (default on): canonical-url exact dedup — two
      spellings of one page collapse to the earliest crawl, cost the
      UDF pass zero work, and the bucket key becomes the CANONICAL
      url hash so variants co-locate; the output gains a ``dup_count``
      column and lineage a ``dedup_dropped`` count. With
      ``trust_url_canon`` (run_filter's table:/bucketed: inputs) a
      stored url_canon column is used as-is, which over a CLUSTERED BY
      (url_canon) table makes the stage exchange-free; untrusted
      inputs always re-canonicalize.
    * ``near_dup`` (opt-in): MinHash-band → exact-Jaccard →
      connected-components document dedup at ``near_dup_jaccard``;
      per component only the min-url canonical doc survives. The
      deduped frame is shared by the loser scan and the UDF pass:
      by default via persist() (spillable — the small-corpus shape);
      with ``stage_path`` it is instead WRITTEN once as a bucketed
      table (pipeline.write_bucketed_pages) and both consumers read it
      back as plain column-pruned FileScans — the crawl-scale shape,
      where the written table doubles as the committed dedup table.

    The production output carries scrubbed_text (the product) but NOT
    extracted_text by default: pre-scrub text roughly doubles both the
    Arrow return volume of the fused UDF and the output parquet size,
    and its per-url bytes are already pinned by the parity tests —
    pass emit_extracted=True for a debug/parity run."""
    _check_append_schema(spark, output_path, output_columns(
        emit_extracted, extra_cols=("dup_count",) if dedup else ()))
    _check_append_schema(spark, metrics_path, METRICS_SCHEMA.names)
    done = committed_bucket_ids(spark, metrics_path)
    todo = resume_frames(
        spark, web_pages, done, n_buckets=n_buckets,
        emit_extracted=emit_extracted, dedup=dedup, near_dup=near_dup,
        near_dup_jaccard=near_dup_jaccard,
        near_dup_max_bucket=near_dup_max_bucket,
        blocked_hosts=blocked_hosts, trust_url_canon=trust_url_canon,
        stage_path=stage_path)
    if todo is None:
        return {"processed_rows": 0, "processed_buckets": 0}
    try:
        _delete_owned_buckets(spark, output_path, done)
        # Rebalance by bucket first: a UDF task holds rows of every
        # bucket, so partitionBy alone writes one file per (task,
        # bucket). After the rebalance each bucket sits in one reducer
        # partition — one file per bucket — and AQE coalesces small
        # partitions and splits one above the advisory size, so a
        # crawl-scale bucket still writes in parallel. Only output rows
        # cross this exchange, after the UDF pass has run on the
        # url-hash partitions of the dedup stage.
        (
            todo.labelled.hint("rebalance", "bucket").write.mode("append")
            .partitionBy("bucket")
            .parquet(output_path)
        )
        rows = lineage_rows(
            read_output(spark, output_path, dedup)
            .where(~F.col("bucket").isin(done)), snapshot_id).collect()
        n_rows = sum(r.input_count for r in rows)
        if near_dup:
            # the near-dup books merge into the summary rows as
            # counts-only rows of two kinds:
            # * the drops of each canonical doc's bucket, together with
            #   the exact-dedup drops that left with its losers. The
            #   bucket may be committed (on a resume over an EXTENDED
            #   input a new doc can lose to a committed canonical
            #   doc), and then this row alone books the drop;
            # * a zero row per uncommitted input bucket: a bucket whose
            #   EVERY doc lost has no surviving row, and without a row
            #   resume would redo the whole near-dup chain forever just
            #   to rediscover the empty bucket
            rows = list(merge_books(rows + [
                (r.bucket, None, 0, 0, r.loser_dedup_dropped,
                 r.near_dup_dropped, None, None)
                for r in todo.near_dup_counts.collect()] + [
                (b, None, 0, 0, 0, 0, None, None)
                for (b,) in todo.fresh_buckets.collect()],
                snapshot_id).values())
        if rows:  # none for an empty input on a fresh run
            (
                local_frame(spark, rows, METRICS_SCHEMA).coalesce(1)
                .write.mode("append").parquet(metrics_path)
            )
        return {"processed_rows": n_rows, "processed_buckets": len(rows)}
    finally:
        if todo.cached is not None:
            todo.cached.unpersist()
