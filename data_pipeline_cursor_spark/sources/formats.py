"""Multi-format source/sink round-trips (SURVEY.md §2.A widening).

The reference's lakehouse speaks exactly one at-rest format (Parquet+ZSTD
inside Iceberg, /root/reference/trino/sql/init-tables.sql:7-9) but its
ingest path is schemaless JSON (compose.yaml:171-172) and Trino itself
ships CSV/JSON/ORC-capable connectors.  These operators prove the engine's
format surface the same way: write a fixture table out in the foreign
format, read it back through the format's own parser, and aggregate — the
DuckDB oracle runs against the original parquet, so the round-trip is
byte-lossless by hash check, not by assumption.

Round-trip hazards each query pins deliberately:
- CSV: header naming, delimiter quoting, floats surviving text (Spark
  writes shortest-roundtrip decimal; re-parsed doubles are bit-identical).
- JSON lines: timestamps serialized as strings re-parsed under an explicit
  schema (the reference's exact ingest semantics, schema-on-read).
- ORC: the second columnar binary format; types survive natively.

Scale: the write side is a normal distributed sink (one file per task);
the read side is a normal distributed scan.  The tiny fixture slices here
keep bench cost honest — the plan shape is identical at any size.  Work
dirs live under the same pruned /tmp root as the streaming jobs', keyed by
(pid, sf) so concurrent sessions never collide and re-runs overwrite; a
process's first call removes the roots of processes that are gone.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_cursor_spark.registry import register
from data_pipeline_cursor_spark.sources.tables import load_table

_FMT_ROOT = os.path.join(tempfile.gettempdir(), "dpc_stream", "formats")


_SWEPT = False


def _sweep_dead_roots() -> None:
    """Remove the ``<pid>`` roots of processes that are gone — nothing
    else ever removes them.  A live pid's root is never touched.  Once
    per process."""
    global _SWEPT
    if _SWEPT:
        return
    _SWEPT = True
    if not os.path.isdir(_FMT_ROOT):
        return
    for entry in os.listdir(_FMT_ROOT):
        if entry.isdigit() and not os.path.exists(f"/proc/{entry}"):
            shutil.rmtree(os.path.join(_FMT_ROOT, entry), ignore_errors=True)


def _work_dir(sf_dir: str, fmt: str) -> str:
    _sweep_dead_roots()
    base = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(_FMT_ROOT, str(os.getpid()), base, fmt)


def _roundtrip(df: DataFrame, spark: SparkSession, sf_dir: str, fmt: str,
               write_opts: dict, read_opts: dict) -> DataFrame:
    path = _work_dir(sf_dir, fmt)
    writer = df.write.mode("overwrite")
    for k, v in write_opts.items():
        writer = writer.option(k, v)
    writer.format(fmt).save(path)
    reader = spark.read.schema(df.schema)
    for k, v in read_opts.items():
        reader = reader.option(k, v)
    return reader.format(fmt).load(path)


@register(
    "q_csv_roundtrip",
    oracle="""
    SELECT s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal,
           min(s_name) AS first_name
    FROM supplier
    GROUP BY s_nationkey
    ORDER BY s_nationkey
    """,
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → CSV source → aggregate, hash-checked against the
    original parquet (module docstring).  Header on, explicit schema on
    read (production CSV never infers), quote-safe by Spark's defaults."""
    s = load_table(spark, sf_dir, "supplier")
    back = _roundtrip(
        s, spark, sf_dir, "csv",
        write_opts={"header": "true"},
        read_opts={"header": "true"},
    )
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.col("s_acctbal").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_bal"),
            F.min("s_name").alias("first_name"),
        )
        .orderBy("s_nationkey")
    )


@register(
    "q_jsonl_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts
    FROM events
    WHERE hour(ts) = 12
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink → source → aggregate: the reference's ingest
    serialization (one JSON object per record, timestamps as strings,
    schema-on-read; /root/reference/logging-server/server.py:70) proven
    lossless.  The explicit read schema re-types ts to timestamp under
    the UTC session — the exact cast-at-read semantic the reference
    relies on."""
    ev = load_table(spark, sf_dir, "events").filter(F.hour("ts") == 12)
    back = _roundtrip(
        ev, spark, sf_dir, "json",
        write_opts={"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"},
        read_opts={"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"},
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        )
        .orderBy("event_type")
    )


@register(
    "q_orc_roundtrip",
    oracle="""
    SELECT l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → source → money aggregate: the second columnar binary
    format round-trips natively typed (no text loss path at all) — the
    check pins that nothing in the write/read pair perturbs doubles or
    timestamps."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp")
    )
    back = _roundtrip(li, spark, sf_dir, "orc", write_opts={}, read_opts={})
    return (
        back.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q_xml_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    ORDER BY n_nationkey
    """,
)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink → source round-trip (Spark 4 ships the XML data source
    natively — the spark-xml lineage merged upstream): write nation as
    <row> elements, read back under an explicit schema with the same
    rowTag, and return the typed rows — hash-checked against the original
    parquet, proving element naming and text→int re-typing lossless.
    DuckDB never parses XML; the oracle checks the VALUES, which is the
    round-trip contract (same as the CSV/JSONL twins)."""
    n = load_table(spark, sf_dir, "nation")
    path = _work_dir(sf_dir, "xml")
    (
        n.write.mode("overwrite")
        .option("rootTag", "nations")
        .option("rowTag", "row")
        .format("xml")
        .save(path)
    )
    back = (
        spark.read.schema(n.schema).option("rowTag", "row").format("xml").load(path)
    )
    return back.select("n_nationkey", "n_name", "n_regionkey").orderBy(
        "n_nationkey"
    )


def avro_available(spark: SparkSession) -> bool:
    """True iff the spark-avro module is deployed on this session's JVM.

    Avro has been an EXTERNAL module since Spark 2.4 — it ships with most
    distributions but must be on the classpath (--packages
    org.apache.spark:spark-avro_2.13).  Same gate posture as the Kafka
    connector (streaming/sources.py).  Probed through Spark's OWN data
    source resolution, not Class.forName: avro classes can be present on
    the compile classpath without the module's ServiceLoader registration
    (observed here), and only lookupDataSource answers the real question
    "will format('avro') work"."""
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


def avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro sink → source round-trip — the row-oriented binary format a
    Kafka-adjacent lakehouse speaks (the reference's Kafka Connect world
    serializes Avro when a schema registry is present).  GATED: raises
    with deployment instructions when spark-avro is absent (this sandbox);
    the non-gated structure mirrors q_csv_roundtrip exactly."""
    if not avro_available(spark):
        raise NotImplementedError(
            "spark-avro is not on the JVM classpath; deploy with "
            "--packages org.apache.spark:spark-avro_2.13:<spark-version> "
            "(external module since Spark 2.4).  Gate: avro_available()."
        )
    s = load_table(spark, sf_dir, "supplier")
    back = _roundtrip(s, spark, sf_dir, "avro", write_opts={}, read_opts={})
    return (
        back.groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
        .orderBy("s_nationkey")
    )
