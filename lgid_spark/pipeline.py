"""The north-rule quality-filter pipeline, Spark-first.

Stages of the crawl filter job (lineage.run_incremental composes them):

  web_pages ──▶ resume filter: drop rows whose bucket is committed
                (lineage.py; before any shuffle)
            ──▶ exact dedup: one map-side-combinable min(struct)
                aggregate on the canonical url — the one exchange
                before the UDF (none over a table bucketed by url_canon)
            ──▶ optional near-dup losers (MinHash → Jaccard →
                connected components), anti-joined out
            ──▶ fused Arrow pandas UDF: extract → langid + perplexity →
                quality metrics → scrub, one JVM↔Python crossing,
                byte-identical to the oracle
            ──▶ drop_reasons / keep (SQL array assembly)
            ──▶ optional host blocklist (broadcast dimension join)
            ──▶ sink (lineage.run_incremental): delete the run's
                uncommitted bucket= dirs, rebalance by bucket, append
                partitionBy("bucket") — one file per bucket a run —
                then book the lineage from a pruned read of those dirs

Design notes for 100 TB:
  * Everything between the dedup exchange and the sink's rebalance is
    a narrow map over the url-hash partitions, so the UDF pass scales
    linearly with executors (it is never capped at the bucket count);
    the lineage groupBy (lineage.py) is on the low-cardinality bucket
    key.
  * Model weights (~5 MB float32) ship once per executor via
    SparkContext.broadcast, not per task.
  * The fused UDF tokenizes once and shares the tokens between langid
    and the metrics; per-process Python scales where JVM-side word
    arrays contended for one shared heap.

Reference semantics covered (SURVEY.md §2/§7): LM membership scoring →
perplexity (features.py:337-354), candidate-language scoring → langid,
normalization P3-P7 → extraction, per-group argmax (main.py:301-323) →
argmax inside langid scoring.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .lexicons import ALLOWED_LANGS
from .oracle import reference as R
from .session import hadoop_fs

# (?U) pins Java regex to Unicode character classes so \s behaves like
# Python's re.UNICODE when the near-dup stage splits text into words.
_WS_SPLIT = r"(?U)\s+"

# Every reason a drop_reasons array can hold: the six rules of
# with_drop_reasons plus apply_domain_blocklist's, sorted (the
# lineage drop_hist has one count per reason, in this order).
DROP_REASONS = ("bad_lang", "blocked_domain", "high_perplexity",
                "low_stopword", "repetitive", "too_short", "too_symbolic")


def with_drop_reasons(df: DataFrame) -> DataFrame:
    """Assemble drop_reasons (alphabetical, matching the oracle's sort)
    and keep, as pure SQL."""
    allowed = F.array(*[F.lit(x) for x in sorted(ALLOWED_LANGS)])
    conds = [
        (
            (~F.array_contains(allowed, F.col("lang_pred")))
            | (F.col("langid_conf") < R.CONF_THRESHOLD),
            "bad_lang",
        ),
        (F.col("ppl") > R.PPL_THRESHOLD, "high_perplexity"),
        (F.col("stopword_ratio") < R.MIN_STOPWORD_RATIO, "low_stopword"),
        (F.col("repetition_ratio") > R.MAX_REPETITION_RATIO, "repetitive"),
        (F.col("n_chars") < R.MIN_CHARS, "too_short"),
        (F.col("symbol_word_ratio") > R.MAX_SYMBOL_WORD_RATIO, "too_symbolic"),
    ]
    arr = F.array(*[F.when(c, F.lit(name)) for c, name in conds])
    df = df.withColumn("drop_reasons", F.array_compact(arr))
    return df.withColumn("keep", F.size("drop_reasons") == 0)


# ---------------------------------------------------------------------------
# Full pipeline
# ---------------------------------------------------------------------------

N_BUCKETS_DEFAULT = 64


def bucket_id(key: Column, n_buckets: int = N_BUCKETS_DEFAULT) -> Column:
    """pmod(xxhash64(key), N) — THE bucket function. with_bucket,
    exact_dedup_pages and the resume filter (lineage.run_incremental)
    all call it, so the bucket a row is filtered on before dedup is the
    bucket it is written to."""
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int = N_BUCKETS_DEFAULT) -> DataFrame:
    """url-hash bucket — the table's physical partition key (Iceberg
    `bucket(N, url)` transform equivalent)."""
    return df.withColumn("bucket", bucket_id(F.col("url"), n_buckets))


def _process_schema(emit_extracted: bool, emit_scrubbed: bool) -> T.StructType:
    fields = []
    if emit_extracted:
        fields.append(T.StructField("extracted_text", T.StringType()))
    fields += [
        T.StructField("lang_pred", T.StringType()),
        T.StructField("langid_conf", T.DoubleType()),
        T.StructField("ppl", T.DoubleType()),
        T.StructField("n_chars", T.IntegerType()),
        T.StructField("n_words", T.IntegerType()),
        T.StructField("mean_line_len", T.DoubleType()),
        T.StructField("symbol_word_ratio", T.DoubleType()),
        T.StructField("stopword_ratio", T.DoubleType()),
        T.StructField("repetition_ratio", T.DoubleType()),
    ]
    if emit_scrubbed:
        fields.append(T.StructField("scrubbed_text", T.StringType()))
    return T.StructType(fields)


def make_process_html_udf(spark: SparkSession,
                          emit_extracted: bool = True,
                          emit_scrubbed: bool = True):
    """Fused extract→langid→metrics→scrub in ONE Arrow crossing.

    Two scale reasons: (1) one UDF per stage would ship the full
    document text JVM→Python→JVM three times — 3× the Arrow volume of
    the hottest column; (2) metrics as JVM SQL expressions allocate
    word/trigram arrays per row on the shared executor heap — measured
    to ANTI-scale 8→32 local cores from GC contention, while
    per-process Python scales linearly. The single pass tokenizes once and shares it
    between langid and the metrics (see oracle.process_batch).

    The emit flags (VERDICT r2 item 6) drop the text fields from the
    returned struct for consumers that only need labels/metrics (e.g.
    a keep/drop histogram or lineage pass): document text is by far the
    heaviest Arrow column, and emit_scrubbed=False also skips the scrub
    regex CPU entirely."""
    model = R.get_langid_model()
    bc = spark.sparkContext.broadcast((model.logp, model.langs))
    schema = _process_schema(emit_extracted, emit_scrubbed)

    @F.pandas_udf(schema)
    def process_html_udf(html: pd.Series) -> pd.DataFrame:
        m = R.LangIDModel.from_weights(*bc.value)
        texts = [R.extract_text(h) for h in html]
        # dict-of-columns construction: no per-row dict inference
        return pd.DataFrame(R.process_batch_columns(
            texts, m, emit_extracted=emit_extracted,
            emit_scrubbed=emit_scrubbed))

    return process_html_udf


def output_columns(
    emit_extracted: bool = True,
    emit_scrubbed: bool = True,
    extra_cols: tuple[str, ...] = (),
) -> list[str]:
    """Columns quality_pipeline returns, in order — known without
    building the fused UDF (run_incremental's append-schema guard)."""
    return [
        "url", "warc_ts", "bucket", "lang",
        *(["extracted_text"] if emit_extracted else []),
        "lang_pred", "langid_conf", "ppl",
        "n_chars", "n_words", "mean_line_len", "symbol_word_ratio",
        "stopword_ratio", "repetition_ratio",
        "drop_reasons", "keep",
        *(["scrubbed_text"] if emit_scrubbed else []),
        *extra_cols,
    ]


def quality_pipeline(
    spark: SparkSession,
    web_pages: DataFrame,
    n_buckets: int = N_BUCKETS_DEFAULT,
    emit_extracted: bool = True,
    emit_scrubbed: bool = True,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """web_pages(url, warc_ts, html, text, lang) → filtered/labelled frame.

    Output schema ⊇ golden_labels (FIXTURES.md §6) with default emit
    flags; labels/metrics-only consumers pass emit_extracted=False /
    emit_scrubbed=False to keep document text out of the Arrow return
    path (and skip scrub work) — see make_process_html_udf.

    If the input already carries a `bucket` column (the dedup stage
    buckets on the CANONICAL url so spelling variants co-locate), it is
    reused instead of recomputed from the raw url. `extra_cols` names
    input columns to pass through to the output (e.g. the dedup
    stage's dup_count).
    """
    process_udf = make_process_html_udf(
        spark, emit_extracted=emit_extracted, emit_scrubbed=emit_scrubbed)
    df = (web_pages if "bucket" in web_pages.columns
          else with_bucket(web_pages, n_buckets))
    df = df.withColumn("_p", process_udf(F.col("html")))
    df = df.select("*", "_p.*").drop("_p")
    df = with_drop_reasons(df)
    return df.select(*output_columns(
        emit_extracted, emit_scrubbed, extra_cols))


def salted_repartition(df: DataFrame, key: str, salt_buckets: int = 16) -> DataFrame:
    """Skew-buster: repartition on (key, salt) so one hot host (the
    synthetic data puts ~20% of rows on host0) spreads over
    ``salt_buckets`` partitions instead of stalling one task."""
    return df.repartition(
        F.col(key), F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets))
    )


def host_of(url_col: Column) -> Column:
    return F.regexp_extract(url_col, r"https?://([^/]+)/", 1)


def apply_domain_blocklist(
    df: DataFrame,
    blocked_hosts: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Optional post-filter stage: add a 'blocked_domain' drop reason
    for rows whose url host appears in a blocklist (the UT1-style
    domain blocklists every production crawl filter consults).

    `blocked_hosts` is a one-column (`host`) frame — a true bounded
    dimension (even the largest public blocklists are a few million
    rows), so it is force-broadcast; `drop_reasons` stays sorted (the
    pipeline's invariant) and `keep` is recomputed. Not part of the
    default pipeline: keep/drop goldens and reference parity are
    blocklist-free.

    Matching is case-insensitive on the host with userinfo ('user@'),
    any explicit :port, and a trailing dot stripped, and works for
    URLs with no path after the host (ADVICE r3 + review: host_of's
    regex needs a trailing slash, and 'https://anyone@bad.example/x'
    is the classic blocklist-evasion spelling); the blocklist side is
    normalized the same way."""
    def norm_host(c: Column) -> Column:
        c = F.lower(c)
        c = F.regexp_replace(c, r"^[^@]*@", "")   # userinfo
        c = F.regexp_replace(c, r":\d+$", "")     # explicit port
        return F.regexp_replace(c, r"\.$", "")    # trailing-dot FQDN
    url_host = norm_host(
        F.regexp_extract(F.col(url_col),
                         r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    dim = F.broadcast(
        blocked_hosts.select(norm_host(F.col("host")).alias("host"))
        .distinct().withColumn("_blocked", F.lit(True)))
    out = df.join(dim, url_host == F.col("host"), "left")
    out = out.withColumn(
        "drop_reasons",
        F.when(
            F.col("_blocked"),
            F.array_sort(F.array_union(
                F.col("drop_reasons"), F.array(F.lit("blocked_domain")))),
        ).otherwise(F.col("drop_reasons")),
    )
    return out.withColumn(
        "keep", F.size("drop_reasons") == 0).drop("host", "_blocked")


def canonical_url(u: Column) -> Column:
    """Canonical form of a web URL — the dedup/bucketing key a crawl
    pipeline needs BEFORE url-exact dedup or url-hash partitioning
    (two spellings of one page must land in the same bucket):

      * drop the fragment (#…);
      * lowercase scheme and host;
      * strip the scheme-default port (:443 for https, :80 for http);
      * strip one trailing slash from the path ('' and '/' both → '/');
      * sort query parameters (?b=2&a=1 ≡ ?a=1&b=2), dropping a bare '?'.

    Pure codegen SQL (regex + array ops — no UDF); the DuckDB twin in
    queries/textops.py replays the same steps for the oracle."""
    u = F.regexp_replace(u, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?]+)", 1))
    host = (
        F.when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .otherwise(hostport)
    )
    pathq = F.regexp_extract(rest, r"^[^/?]+(.*)$", 1)
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    path = F.regexp_replace(path, r"/$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    sorted_q = F.array_join(
        F.array_sort(F.filter(F.split(query, "&"), lambda x: x != F.lit(""))),
        "&")
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q))
        .otherwise(F.lit("")),
    )


# ---------------------------------------------------------------------------
# Dedup stages (round 4) — composed into the production job so duplicate
# spellings/copies of a page never reach the expensive Arrow UDF pass.
# A crawl pipeline dedups BEFORE it filters; these run on the raw input
# columns (url, text), upstream of quality_pipeline.
# ---------------------------------------------------------------------------


def exact_dedup_pages(
    pages: DataFrame, n_buckets: int = N_BUCKETS_DEFAULT
) -> DataFrame:
    """Canonical-url exact dedup, upstream of the UDF pass.

    * bucket = hash of the CANONICAL url — two spellings of one page
      land in the same bucket (the Iceberg bucket(N, url) partition
      key a crawl table would use);
    * one winner per canonical url: the min (warc_ts, url, …) row —
      the earliest crawl, ties broken by the full row so the choice is
      deterministic under any partitioning;
    * dup_count = how many input spellings/copies collapsed into the
      winner (lineage: dedup_dropped = Σ(dup_count − 1)).

    Scale shape: ONE shuffle on the canonical key with map-side
    combine (min/count partial aggregation) — the same shape as the
    line-dedup fix; no window, no row_number, no skew pile-up.

    If the input already carries ``url_canon`` (a table written by
    write_bucketed_pages / attached by register_bucketed_pages), the
    column is trusted instead of recomputed and the aggregate groups
    on it directly — over a catalog-bucketed scan Spark then runs the
    dedup with ZERO Exchange (the steady-state 100-TB shape; the
    shuffle was paid once at table-write time).
    """
    pre_canonical = "url_canon" in pages.columns
    cols = [c for c in pages.columns if c != "url_canon"]
    rest = [c for c in cols if c not in ("warc_ts", "url")]
    canon = (pages if pre_canonical else
             pages.withColumn("url_canon", canonical_url(F.col("url"))))
    # group on url_canon ALONE: bucket is a pure function of it, and
    # keeping derived columns out of the grouping key lets a bucketed
    # scan's layout satisfy the aggregate's distribution requirement
    grouped = canon.groupBy("url_canon").agg(
        F.min(F.struct("warc_ts", "url", *rest)).alias("_w"),
        F.count("*").alias("dup_count"),
    )
    return grouped.select(
        bucket_id(F.col("url_canon"), n_buckets).alias("bucket"),
        *[F.col(f"_w.{c}").alias(c) for c in cols],
        "dup_count",
    )


def _page_words(t: Column) -> Column:
    return F.filter(F.split(F.trim(t), _WS_SPLIT), lambda w: w != F.lit(""))


def near_dup_losers(
    pages: DataFrame,
    jaccard_min: float = 0.9,
    n_minhash: int = 4,
    max_band_bucket: int = 1000,
) -> DataFrame:
    """Document-grain near-dup losers: one row per doc to drop, with
    its component's canonical url and that doc's bucket —
    (url, bucket, component, canon_bucket).

    The 100-TB chain on the job's own input: MinHash signatures over
    distinct words → 2-band LSH candidates (band equi-join, never
    all-pairs) → exact-Jaccard verify at ``jaccard_min`` → connected
    components (operators/components.py min-label loop) → per
    component every doc EXCEPT the min-url canonical is a loser.

    ``max_band_bucket`` is the LSH hot-bucket guard: a band value
    shared by B docs yields B² candidate pairs, so one viral template
    bucket (B=10^6 → 10^12 pairs) would kill the job. Buckets above
    the cap are excluded from candidate generation — the standard
    production trade (such mega-clusters are boilerplate that exact /
    line dedup already attacks; the pairwise verify that makes the
    stage safe is exactly what can't run on them). Pass None to
    disable.

    Only (url, bucket, text) are read — column pruning keeps html out
    of this branch.

    Signatures and set sizes are pure per-row ARRAY expressions
    (array_min over transform), not explode+groupBy: zero shuffle and
    zero aggregation state for the signature pass — at 10^12 docs an
    explode+groupBy signature build keeps a per-url hash-agg map alive
    across every word of every doc for no reason (the words of a doc
    are already co-located in its row). Only the exact-Jaccard verify
    explodes words, because intersecting two docs' sets genuinely
    needs word-grain rows."""
    # function-local import: lgid_spark.functions.__init__ re-exports
    # from THIS module, so a top-level import would be circular
    from .functions.texthash import make_minhash_udf
    from .operators.components import connected_components

    words_arr = F.array_distinct(_page_words(F.col("text")))
    # whitespace-only docs have no shingles and can never be near-dups;
    # without this filter their NULL minhashes would all collide into
    # one giant all-empty-docs band bucket.
    # r6: signatures via the Arrow MinHash kernel (same seeded md5
    # minima as the former per-seed HOF fold — functions/texthash.py,
    # pinned by tests/test_vecfold.py), with per-word hashes cached
    # process-wide instead of recomputed per document
    mh_udf = make_minhash_udf(n_minhash)
    sig = (
        pages.select("url", words_arr.alias("_ws"))
        .where(F.size("_ws") > 0)
        .select("url", F.size("_ws").alias("sz"), mh_udf("_ws").alias("_h"))
        .select("url", "sz", "_h.*")
    )
    w = pages.select(
        "url", F.explode(words_arr).alias("w"))
    bands = sig.select(
        "url",
        F.posexplode(F.array(
            F.md5(F.concat_ws("|", "h0", "h1")),
            F.md5(F.concat_ws("|", "h2", "h3")),
        )).alias("band_idx", "band_hash"),
    )
    if max_band_bucket is not None:
        # count-window-free hot-bucket filter: one map-side-combinable
        # count per (band_idx, band_hash), anti-join the over-cap keys
        hot = (
            bands.groupBy("band_idx", "band_hash")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > max_band_bucket)
            .select("band_idx", "band_hash")
        )
        bands = bands.join(hot, ["band_idx", "band_hash"], "left_anti")
    cand = (
        bands.select(F.col("url").alias("url_a"), "band_idx", "band_hash")
        .join(bands.select(F.col("url").alias("url_b"),
                           "band_idx", "band_hash"),
              ["band_idx", "band_hash"])
        .where(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b")
        .distinct()
    )
    sizes = sig.select("url", "sz")
    wa = w.select(F.col("url").alias("url_a"), "w")
    wb = w.select(F.col("url").alias("url_b"), "w")
    edges = (
        cand.join(wa, "url_a").join(wb, ["url_b", "w"])
        .groupBy("url_a", "url_b").agg(F.count("*").alias("inter"))
        .join(sizes.select(F.col("url").alias("url_a"),
                           F.col("sz").alias("sz_a")), "url_a")
        .join(sizes.select(F.col("url").alias("url_b"),
                           F.col("sz").alias("sz_b")), "url_b")
        .where(
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            >= F.lit(jaccard_min))
        .select("url_a", "url_b")
    )
    comp = connected_components(edges, "url_a", "url_b")
    losers = comp.where(F.col("component") != F.col("vertex")).select(
        F.col("vertex").alias("url"), "component")
    loc = pages.select("url", "bucket")
    # canon_bucket = the surviving canonical doc's bucket: drop counts
    # are attributed there (a loser's own bucket may end up with zero
    # surviving rows and thus no lineage row to carry the count). On a
    # resume the canon bucket may already be COMMITTED — lineage then
    # appends a counts-only row for it (lineage.run_incremental,
    # ADVICE r4) so the drop is never lost.
    return (
        losers.join(loc, "url")
        .join(loc.select(F.col("url").alias("component"),
                         F.col("bucket").alias("canon_bucket")),
              "component")
        .select("url", "bucket", "component", "canon_bucket")
    )


def write_bucketed_pages(
    pages: DataFrame,
    table_name: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
    path: str | None = None,
) -> None:
    """First-write canonicalization (the 100-TB table layout): persist
    the crawl table bucketed AND sorted by the canonical url, so every
    later canonical-url operation — exact dedup, point lookups, url
    joins — reads co-located buckets instead of shuffling 100 TB.

    Spark bucketing (`bucketBy` + `saveAsTable`) records the layout in
    the catalog; the Iceberg equivalent is `bucket(N, url_canon)`
    partition transforms. exact_dedup_pages over ``spark.table`` of it
    is the exchange-free consumer."""
    canon = pages.withColumn("url_canon", canonical_url(F.col("url")))
    # repartition ON the bucket key before the bucketed write: Spark's
    # bucket id and repartition(n, col) use the same Murmur3 hash, so
    # each write task holds exactly one bucket → one file per bucket
    # instead of (tasks × buckets) small files
    canon = canon.repartition(n_buckets, F.col("url_canon"))
    writer = (
        canon.write.mode("overwrite")
        .bucketBy(n_buckets, "url_canon")
        .sortBy("url_canon")
        .format("parquet")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def _bucket_file_ids(spark: SparkSession, path: str) -> list[int]:
    """Bucket ids parsed from the writer's file names (…_NNNNN.c000…)
    at ``path``, via the Hadoop FS API so hdfs://s3a:// paths work."""
    import re

    fs, hpath = hadoop_fs(spark, path)
    ids = []
    for st in fs.listStatus(hpath):
        m = re.search(r"_(\d{5})\.", st.getPath().getName())
        if m:
            ids.append(int(m.group(1)))
    return ids


def register_bucketed_pages(
    spark: SparkSession,
    table_name: str,
    path: str,
    n_buckets: int | None = None,
) -> int:
    """Attach an existing bucketed-pages dataset to THIS session's
    catalog (the Iceberg-metadata stand-in for the sandbox's
    in-memory catalog, which forgets tables between sessions).
    Returns the registered bucket count.

    ``path`` must hold files produced by write_bucketed_pages. The
    declared bucket count MUST match the writer's: Spark's bucketed
    scan tabulates file partitions for ids 0..N-1 only, so declaring
    too few silently drops every higher-numbered file from every scan,
    and declaring too many mis-states the hash distribution for bucket
    pruning and bucketed joins. The count is therefore checked against
    the bucket ids parsed from the file names; with n_buckets=None it
    is inferred as max_id+1 (exact unless the highest-numbered buckets
    happen to be empty — pass it explicitly when in doubt). The schema
    is inferred from the parquet footers; the DDL re-declares the
    CLUSTERED/SORTED BY layout so a brand-new session (a resume run, a
    different cluster) gets the zero-Exchange dedup without rewriting
    the table."""
    import re

    schema = spark.read.parquet(path).schema
    if "url_canon" not in schema.fieldNames():
        raise ValueError(
            f"{path} has no url_canon column — not a "
            "write_bucketed_pages dataset")
    ids = _bucket_file_ids(spark, path)
    if not ids:
        raise ValueError(
            f"{path} has no bucketed part files (…_NNNNN.…) — not a "
            "write_bucketed_pages dataset")
    if n_buckets is None:
        n_buckets = max(ids) + 1
    elif max(ids) >= n_buckets:
        raise ValueError(
            f"{path} holds bucket ids up to {max(ids)} but n_buckets="
            f"{n_buckets}: Spark would silently drop every file with "
            f"id >= {n_buckets} from all scans — pass the bucket count "
            "the table was written with")
    if not re.fullmatch(r"[A-Za-z0-9_]+", table_name):
        raise ValueError(f"invalid table name: {table_name!r}")
    if spark.catalog.tableExists(table_name):
        ttype = (spark.catalog.getTable(table_name).tableType or "").upper()
        if ttype != "EXTERNAL":
            raise ValueError(
                f"table {table_name} already exists and is {ttype or 'MANAGED'}"
                " — dropping it would delete its data; pick another name"
                " or drop it explicitly")
        spark.sql(f"DROP TABLE `{table_name}`")
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    loc = path.replace("'", "''")
    spark.sql(
        f"CREATE TABLE `{table_name}` ({cols}) USING parquet "
        f"CLUSTERED BY (url_canon) SORTED BY (url_canon) "
        f"INTO {n_buckets} BUCKETS LOCATION '{loc}'")
    return n_buckets
