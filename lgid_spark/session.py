"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design target (AQE on so skewed shuffles
re-plan at runtime, Arrow on so every Python crossing is columnar,
broadcast threshold generous because every dimension in this engine is
small) while remaining correct on local[N] test runs.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Tuned for local[N] testing; on a real cluster these come from spark-submit.
_DEFAULTS: dict[str, str] = {
    # Adaptive execution: runtime shuffle-partition coalescing + skew-join
    # splitting. At 100 TB this is what keeps one hot host from stalling a
    # stage (SURVEY.md §4).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-plan a persisted plan too. With Spark's default
    # (false) a cached plan's final shuffle is never coalesced, so
    # every stage that reads the cache runs one task per
    # spark.sql.shuffle.partitions. The filter job's own persist is
    # --near-dup's deduped frame (lineage.resume_frames), which feeds
    # the loser scan and the fused UDF: a --near-dup run of synth:2000
    # took 100.1 s without this and 64.9 s with it (4-core host, one
    # window), and its UDF stage, otherwise 32 tasks each paying a
    # fixed ~0.4 s "time to initialize Python workers", runs in one.
    # The classify and LM persists (classify.py) read the same way.
    # AQE still keeps defaultParallelism partitions once a shuffle
    # outgrows its minimum partition size, so a UDF-bound input stays
    # parallel.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Bounds the partition directories a driver lists itself before it
    # starts a Spark job to list them. Spark's default (32) is below the
    # 64 bucket= dirs of the filter output, so the output append-schema
    # guard of every re-run launched a 64-task listing job: 0.61-0.88 s
    # in 2 jobs, against 0.16-0.19 s in 1 job listed on the driver
    # (warm synth:2000 no-op, 4-core host, local dirs). An object-store
    # deployment, where each listing is a remote call, should set its
    # own value through the launcher (--conf), which
    # apply_engine_defaults leaves alone.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
    # Arrow for every pandas UDF / toPandas crossing. Batch size is a
    # first-order throughput lever for the fused pipeline UDF — measured
    # at 960k docs/local[32]: 2048 → 72k docs/s, 8192 → 94k, 16384 →
    # 93-100k, 32768 → 85k (regresses: batches outgrow cache). 8192 is
    # the safe knee: ~80 MB/batch at a 10 KB-average web document, fine
    # on modest executors, vs 2× that for ≤5% more at 16384.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
    # Every dimension table in this engine (lang table, stopword lists,
    # LM tables at the per-language grain) is << 64 MB: broadcast them all.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Sized so sf0.1 partitions fit comfortably; a real cluster overrides.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Deterministic session timezone for timestamp-epoch math in oracles.
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "lgid_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` falls back to ``local[$SPARK_GRAFT_CPUS]`` (default all
    cores) so the bench harness can pin parallelism for the N vs 4N
    scaling-efficiency measurement.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_submit_spark(app_name: str) -> SparkSession:
    """Session factory for the spark-submit entrypoints (jobs/).

    Under spark-submit the JVM already exists (PythonRunner exports
    PYSPARK_GATEWAY_PORT) and the launcher owns master/memory — attach
    and fill only the launcher-unset SQL defaults. Run as plain
    `python job.py`, the JVM hasn't started yet, so build it with the
    full engine defaults — critically spark.driver.memory=8g, which is
    inert after JVM launch (a bare getOrCreate gives a 1 GB driver that
    OOMs on a real corpus)."""
    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        spark = SparkSession.builder.appName(app_name).getOrCreate()
        apply_engine_defaults(spark)
        return spark
    return get_spark(app_name)


def apply_engine_defaults(spark: SparkSession) -> None:
    """For spark-submit entrypoints: the session comes from the launcher
    (getOrCreate), so apply the engine's runtime-settable SQL defaults
    only where the launcher did NOT set them explicitly (--conf keys show
    up in SparkConf; Spark's own built-in defaults do not). Without this,
    a bare local run inherits shuffle.partitions=200 and every tiny
    evidence join schedules 200 tasks — ~5× wall-clock on small inputs."""
    launcher = spark.sparkContext.getConf()
    for k, v in _DEFAULTS.items():
        if k.startswith("spark.sql.") and not launcher.contains(k):
            try:
                spark.conf.set(k, v)
            except Exception:
                pass  # non-runtime-settable under this deployment


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) of ``path`` through the Hadoop API, so file
    operations work for ANY storage URI (hdfs://, s3a://, file:, plain
    local) — os.path sees only local paths and is always False for a
    remote URI."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """A DataFrame of driver-side rows (tuples or Rows in schema order),
    built through Arrow: a pyarrow.Table typed by the schema and filled
    column by column, parallelized by the JVM.

    ``spark.createDataFrame(list)`` plans a PythonRDD that unpickles
    the rows, so every task that reads it waits for a Python worker —
    0.75-2.2 s of executor time for a one-task stage on a 4-core host,
    the most in a session's first job — where an Arrow-built frame is
    a ParallelCollectionRDD that the JVM reads alone (0.04-0.08 s). No pandas on the way: a None in a bigint
    column would turn it into float64 and lose the bits above 2^53 of
    a full-range xxhash64 checksum."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = zip(*rows) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Load the driver-provided parquet tables under ``sf_dir`` and register
    them as temp views. Returns name → DataFrame."""
    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(n)
            out[n] = df
    return out
