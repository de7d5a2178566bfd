"""SparkSession factory — every entry point builds (or adopts) a session here.

Scale posture: these configs are the local[32] test shape of a design meant
for a 1000-executor cluster at ~100 TB:

- AQE on → runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast demotion do at scale what no static config can.
- ``spark.sql.shuffle.partitions`` defaults to 2×cores locally; on a real
  cluster you'd set it ~2-3× total executor cores (or leave AQE's
  coalescing to shrink an intentionally-high initial number).
- Session timezone pinned UTC: the reference stores naive wall-clock
  timestamps (SURVEY.md §1.4); pinning UTC makes Spark's instant semantics
  coincide with DuckDB/naive semantics, which is load-bearing for every
  time-derived result.
- zstd parquet mirrors the reference lakehouse layout
  (/root/reference/trino/sql/init-tables.sql:7-8).
- Arrow on: all pandas-UDF interchange is Arrow-batched (the only sanctioned
  Python path; row-at-a-time UDFs are banned in hot paths).
- Whole-stage codegen cache sized to the registry: Spark keeps 100 compiled
  classes by default, and one cold pass of the 331 registered queries
  builds 3,460 (sf0.1), so a repeated query recompiled every class it ran
  (263 of 311 in one perfbench ``analyst_sql`` timed pass at 4 cores).
  The bound is a static SQL conf, read once when the JVM's CodeGenerator
  initializes, so only a session this module builds carries it.  Class
  names leave out the whole-stage codegen id, which AQE's concurrent
  stage planning makes timing-dependent, so a warm repeat hits the cache.
- Python workers run ``pyspark_graft_worker`` (checkout root), which
  stops each task re-reading pyspark.zip (0.51 s of a 0.55 s one-task
  job).  A static conf: a foreign session keeps the stock worker.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Session-level SQL confs that MUST hold for deterministic results even when
# we are handed a foreign SparkSession (the verify driver builds its own).
_RUNTIME_SQL_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    # The events fixture has shipped as both TIMESTAMP(NANOS) (r1-r2) and
    # TIMESTAMP(MICROS) (current); this conf keeps the legacy nanos branch
    # alive (harmless for µs files) and the loader branches on the
    # observed dtype (sources/tables.py, schema-on-read).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Spark 4's ICU case-mapping path (lower/upper/initcap) triggers a
    # CollationAwareUTF8String static init that walks the full Unicode
    # title-case table — observed 60-330 s when it lands on a JIT-pressured
    # JVM mid-benchmark.  JVM case mapping is identical on ASCII data and is
    # what DuckDB effectively does, so disable ICU for determinism AND speed.
    "spark.sql.icu.caseMappings.enabled": "false",
    # The whole-stage codegen id is part of a generated class's name, and
    # so of its codegen cache key (CODEGEN_CACHE_ENTRIES).  AQE plans
    # independent query stages concurrently, so a stage's id depends on
    # timing, and a warm repeat of a query could miss the cache and
    # recompile (x_dsir_sample at sf0.01: 0-10 classes per warm repeat
    # with the id in the name, 0 without).  Without it, identical stages
    # of different queries also share one class.  Runtime-settable, so a
    # foreign session gets it too.
    "spark.sql.codegen.useIdInClassName": "false",
}


# The checkout holding this package.  Python workers unpickle UDFs and
# mapInPandas functions that import it, and they start in the JVM's
# working directory with only Spark's own path, not the driver's sys.path.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the mutable session confs we depend on to an existing session.

    Safe on any session (these are runtime-settable SQL confs, not JVM
    start-up options).  Called by the table loader so that driver-owned
    sessions behave identically to ours.  Also puts the package's
    checkout on the Python workers' PYTHONPATH: the context's
    ``environment`` is shipped with every Python function, so a session
    run from any working directory finds the package.
    """
    for k, v in _RUNTIME_SQL_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the host environment — proceed
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_ROOT, *paths])
    return spark


# 100 TB streaming-state posture: the default HDFS-backed state store keeps
# every key in executor heap — fine for the fixture's 5 event types, fatal
# for, say, per-document dedup state over a 100 TB corpus.  RocksDB spills
# state to local disk with incremental checkpointing; Spark bundles both the
# provider and rocksdbjni, so this is a config flip, not a dependency.
ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_STATE_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def rocksdb_state_available(spark: SparkSession) -> bool:
    """True iff the RocksDB state-store provider is loadable (bundled with
    Spark ≥ 3.2, including this container's pyspark; gate kept for exotic
    builds)."""
    from data_pipeline_cursor_spark.capability import jvm_class_available

    return jvm_class_available(spark, ROCKSDB_STATE_PROVIDER)


@contextmanager
def rocksdb_state_store(spark: SparkSession):
    """Scope under which newly-STARTED streaming queries use the RocksDB
    state store (the provider is read at query start; running queries keep
    theirs).  Raises if the provider class is unavailable rather than
    silently running on-heap — state-store choice is a capacity decision
    the caller made explicitly."""
    if not rocksdb_state_available(spark):
        raise NotImplementedError(
            f"{ROCKSDB_STATE_PROVIDER} not loadable in this Spark build; "
            "the default HDFS-backed (on-heap) state store remains in "
            "effect"
        )
    prior = spark.conf.get(_STATE_PROVIDER_CONF, None)
    spark.conf.set(_STATE_PROVIDER_CONF, ROCKSDB_STATE_PROVIDER)
    try:
        yield spark
    finally:
        if prior is None:
            spark.conf.unset(_STATE_PROVIDER_CONF)
        else:
            spark.conf.set(_STATE_PROVIDER_CONF, prior)


# Compiled whole-stage codegen classes one session keeps.  Measured at
# sf0.1, 4 cores: one cold pass of the full 331-query registry with an
# unbounded cache builds 3,460 distinct classes (about 10.5 per query,
# at most 91 for x_canonical_pick), counted as the delta of
# CodegenMetrics.METRIC_COMPILATION_TIME's count read through py4j.
# 8192 is the next power of two above twice that.
CODEGEN_CACHE_ENTRIES = 8192


def get_spark(app_name: str = "data-pipeline-cursor-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # 2x cores: enough parallelism for local shuffles; AQE coalesces down.
        .config("spark.sql.shuffle.partitions", str(int(cpus) * 2))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Dozens of distinct queries per session → hundreds of whole-stage
        # codegen classes.  The JVM default 240m code cache fills, the JIT
        # stops compiling, and later queries run interpreted (observed 5-20×
        # slowdowns late in a bench run).  1g keeps every stage compiled.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        # Whole-stage codegen classes are cached per JVM, 100 by default:
        # a registry pass evicts each class before its query runs again,
        # so every repeat recompiles (CODEGEN_CACHE_ENTRIES).  Static SQL
        # conf, read once when CodeGenerator initializes: it belongs on
        # the builder, and a foreign session keeps Spark's default.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # The daemon finds it at the checkout root, which
        # apply_runtime_confs puts on the workers' PYTHONPATH.
        .config("spark.python.worker.module", "pyspark_graft_worker")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Every bucketed table in this repo exists FOR its layout
        # benefits (bucket-pruned point lookups, exchange-free merge
        # clause joins); the DisableUnnecessaryBucketedScan rule would
        # silently downgrade a lookup scan to non-bucketed and drop
        # SelectedBucketsCount pruning with it.  Scans that genuinely
        # need the distribution (joins/aggs) were never downgraded, so
        # this only re-enables pruning for the point-lookup path.
        .config(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled",
            "false",
        )
        # Every drain reports its progress from recentProgress
        # (sources.DrainReport); the default window of 100 progress
        # updates silently drops earlier batches' records on long
        # ordered-fixture drains, understating the sized table's honest
        # bounded-state number.  10k covers every fixture drain; the
        # report still flags saturation if a drain ever exceeds it.
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    )
    for k, v in _RUNTIME_SQL_CONFS.items():
        builder = builder.config(k, v)
    return apply_runtime_confs(builder.getOrCreate())
