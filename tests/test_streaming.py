"""Streaming-equivalence tests (SURVEY.md §5.2): each s_* job drained with
availableNow must match its batch twin over the same fixture — plus
semantics-specific checks (late-drop, upsert refinement, dedup)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_pipeline_cursor_spark.functions.math_ops import stable_round4
from data_pipeline_cursor_spark.registry import get_queries
from data_pipeline_cursor_spark.sources import load_table
from tests.conftest import SF_SMOKE
from tests.oracle_harness import canonical_rows

def assert_same_result(a_pdf, b_pdf):
    """Column-name set AND canonical values — canonical_rows alone encodes
    no names, so a rename that keeps sorted position would pass silently."""
    assert sorted(a_pdf.columns) == sorted(b_pdf.columns), (
        a_pdf.columns, b_pdf.columns
    )
    assert canonical_rows(a_pdf) == canonical_rows(b_pdf)



def _batch_tumble(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(
            stable_round4(F.avg("value")).alias("avg_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "avg_value",
            "n_events",
        )
    )


def test_tumble_batch_equivalence(spark):
    qs = get_queries()
    streamed = qs["s_tumble"](spark, SF_SMOKE).toPandas()
    batch = _batch_tumble(spark, SF_SMOKE).toPandas()
    # availableNow + append mode: every window is finalized once input is
    # drained, so the streamed table must equal the batch aggregation.
    assert_same_result(streamed, batch)


def test_sliding_batch_equivalence(spark):
    qs = get_queries()
    streamed = qs["s_sliding"](spark, SF_SMOKE).toPandas()
    ev = load_table(spark, SF_SMOKE, "events")
    batch = (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(
            stable_round4(F.avg("value")).alias("avg_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "avg_value",
            "n_events",
        )
        .toPandas()
    )
    assert_same_result(streamed, batch)


def test_session_batch_equivalence(spark):
    qs = get_queries()
    streamed = qs["s_session"](spark, SF_SMOKE).toPandas()
    ev = load_table(spark, SF_SMOKE, "events")
    # the landing record shape is second-precision (reference ts format);
    # session bounds = ts + gap, so truncate before comparing
    ev = ev.withColumn("ts", F.date_trunc("second", "ts"))
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "event_type",
            "n_events",
        )
        .toPandas()
    )
    assert_same_result(streamed, batch)


def test_dedup_stream_counts(spark):
    # fixture event_ids are unique → dedup is a no-op vs batch counts
    qs = get_queries()
    streamed = qs["s_dedup_stream"](spark, SF_SMOKE).toPandas()
    ev = load_table(spark, SF_SMOKE, "events")
    batch = (
        ev.dropDuplicates(["event_id"])
        .groupBy(F.window("ts", "60 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_unique",
        )
        .toPandas()
    )
    assert_same_result(streamed, batch)


def test_lakehouse_append_rows_survive(spark):
    qs = get_queries()
    out = qs["s_lakehouse_append"](spark, SF_SMOKE)
    total = out.agg(F.sum("n_rows")).collect()[0][0]
    expected = load_table(spark, SF_SMOKE, "events").count()
    assert total == expected  # every event landed in some hour partition


def test_lakehouse_schema_evolution_null_extends(spark, tmp_path):
    """A5 schema-evolution parity (reference run.sh:97-98: the Iceberg sink
    runs auto-create + evolve-schema, so a producer adding a JSON field is
    a supported mode, not an error).

    The Spark rendition: the landing job restarts with a widened source
    schema on the SAME checkpoint and output path — the file source resumes
    from the checkpoint (only new files process), the parquet sink appends
    files carrying the new column, and `read_lakehouse_evolved`
    (mergeSchema) serves the union with pre-evolution rows null-extended —
    Iceberg add-column semantics."""
    import json

    from pyspark.sql.types import StringType, StructField, StructType

    from data_pipeline_cursor_spark.catalog import read_lakehouse_evolved

    landing = tmp_path / "landing"
    landing.mkdir()
    table = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    v1 = StructType(
        [
            StructField("event_id", StringType()),
            StructField("event_type", StringType()),
            StructField("value", StringType()),
            StructField("ts", StringType()),
        ]
    )

    def run(schema):
        q = (
            spark.readStream.schema(schema)
            .json(str(landing))
            .writeStream.format("parquet")
            .option("path", table)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    (landing / "a.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"event_id": "1", "event_type": "click", "value": "1.0",
                 "ts": "2024-01-01 10:00:00"},
                {"event_id": "2", "event_type": "view", "value": "2.0",
                 "ts": "2024-01-01 11:00:00"},
            ]
        )
    )
    run(v1)

    # the producer evolves: new field appears in the payload; the landing
    # job redeploys with the widened schema, same checkpoint + path
    (landing / "b.json").write_text(
        json.dumps(
            {"event_id": "3", "event_type": "click", "value": "3.0",
             "ts": "2024-01-02 10:00:00", "source": "mobile"}
        )
    )
    run(v1.add("source", StringType()))

    out = read_lakehouse_evolved(spark, table).toPandas()
    assert len(out) == 3
    assert "source" in out.columns
    old = out[out["event_id"].isin(["1", "2"])]
    assert old["source"].isna().all()  # pre-evolution rows null-extend
    new = out[out["event_id"] == "3"]
    assert list(new["source"]) == ["mobile"]


def test_watermark_drops_too_late_row(spark):
    qs = get_queries()
    pdf = qs["s_watermark_late"](spark, SF_SMOKE).toPandas()
    w = pdf[pdf["window_start"] == pd.Timestamp("2024-01-01 10:00:00")]
    assert len(w) == 1
    # the 999.0 replay arrived after the watermark closed the window:
    # avg stays (10+20)/2, count stays 2
    assert float(w.iloc[0]["avg_value"]) == 15.0
    assert int(w.iloc[0]["n_events"]) == 2


def test_upsert_serving_table_unique_keys(spark):
    qs = get_queries()
    out = qs["s_upsert_foreachbatch"](spark, SF_SMOKE)
    pdf = out.toPandas()
    assert len(pdf) == len(pdf[["event_type", "window_start"]].drop_duplicates())
    # refinement semantics: final serving rows equal the batch aggregation
    batch = _batch_tumble(spark, SF_SMOKE).toPandas()
    assert_same_result(pdf, batch)


def test_custom_state_batch_equivalence(spark):
    """s_custom_state: the last per-key emission of the running
    applyInPandasWithState aggregate must equal the batch groupBy."""
    qs = get_queries()
    streamed = qs["s_custom_state"](spark, SF_SMOKE).toPandas()
    ev = load_table(spark, SF_SMOKE, "events")
    batch = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round4(F.avg("value")).alias("avg_value"),
        )
        .toPandas()
    )
    assert_same_result(streamed, batch)


def test_transform_state_batch_equivalence(spark):
    """s_transform_state: same contract as s_custom_state via the
    transformWithStateInPandas API (or its documented fallback where
    protobuf is unavailable)."""
    qs = get_queries()
    streamed = qs["s_transform_state"](spark, SF_SMOKE).toPandas()
    ev = load_table(spark, SF_SMOKE, "events")
    batch = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round4(F.avg("value")).alias("avg_value"),
        )
        .toPandas()
    )
    assert_same_result(streamed, batch)


def test_kafka_source_gate(spark):
    """The Kafka source is a gated production path: absent the connector
    it must fail loudly (clear remedy), never silently fall back."""
    from data_pipeline_cursor_spark.streaming.sources import (
        kafka_available,
        read_event_stream_kafka,
    )

    from data_pipeline_cursor_spark.streaming.sources import (
        write_event_stream_kafka,
    )

    if kafka_available(spark):
        df = read_event_stream_kafka(spark, "localhost:9092", "events")
        assert set(df.columns) == {"event_id", "event_type", "value", "event_time"}
    else:
        import pytest

        with pytest.raises(NotImplementedError, match="spark-sql-kafka"):
            read_event_stream_kafka(spark, "localhost:9092", "events")
        from data_pipeline_cursor_spark.sources import load_table
        from tests.conftest import SF_SMOKE

        ev = load_table(spark, SF_SMOKE, "events").withColumnRenamed(
            "ts", "event_time"
        )
        with pytest.raises(NotImplementedError, match="spark-sql-kafka"):
            write_event_stream_kafka(ev, "localhost:9092", "events", "/tmp/x")


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Stop a file-stream job, land more files, restart on the SAME
    checkpoint: the parquet sink must contain every record exactly once —
    the offset log skips already-committed files and processes only new
    ones (the engine's exactly-once story for the lakehouse path)."""
    import json

    from data_pipeline_cursor_spark.streaming.sources import (
        read_event_stream,
        stream_state_partitions,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def land(name, ids):
        recs = [
            {"event_id": str(i), "event_type": "click", "value": str(i),
             "ts": "2024-01-01 10:00:00"}
            for i in ids
        ]
        (landing / name).write_text("\n".join(json.dumps(r) for r in recs))

    def drain():
        with stream_state_partitions(spark):
            q = (
                read_event_stream(spark, str(landing))
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    land("a.json", range(0, 5))
    drain()
    land("b.json", range(5, 9))
    drain()  # resume: must pick up ONLY b.json
    got = sorted(
        r["event_id"] for r in spark.read.parquet(out_dir).collect()
    )
    assert got == sorted(range(9)), got


def test_upsert_drains_resume_without_empty_batches(spark, tmp_path):
    """Two landed files, each drained by run_upsert_stream resuming ONE
    checkpoint: each drain runs a single data micro-batch (no 0-row
    watermark batch), yet the watermark file 1 set still holds when file
    2 is drained — an in-watermark row refines file 1's window row and a
    row more than FIXTURE_WATERMARK older than file 1's maximum is
    dropped — and the serving table equals the batch tumbling aggregate
    of the rows kept."""
    import json

    from data_pipeline_cursor_spark.streaming import sources
    from data_pipeline_cursor_spark.streaming.jobs import tumble_agg
    from data_pipeline_cursor_spark.streaming.sinks import (
        read_serving_table,
        run_upsert_stream,
    )

    assert sources.FIXTURE_WATERMARK == "35 days"  # the late row below
    progress = []
    landing = tmp_path / "landing"
    landing.mkdir()
    serving, ckpt = str(tmp_path / "serving"), str(tmp_path / "ckpt")

    def land_and_drain(name, rows):
        (landing / name).write_text(
            "\n".join(
                json.dumps(dict(zip(("event_id", "event_type", "value", "ts"), r)))
                for r in rows
            )
        )
        report = run_upsert_stream(
            tumble_agg(sources.read_event_stream(spark, str(landing))),
            serving,
            ckpt,
        )
        progress.extend(report.progress)

    land_and_drain("a.json", [
        ("1", "click", "10", "2024-03-10 10:00:00"),
        ("2", "view", "5", "2024-03-10 10:02:00"),
        ("3", "click", "30", "2024-03-10 12:00:00"),
    ])
    land_and_drain("b.json", [
        ("4", "click", "20", "2024-03-10 10:03:00"),  # refines 10:00 click
        ("5", "view", "7", "2024-01-01 09:00:00"),  # > 35 days late: dropped
        ("6", "view", "9", "2024-03-11 08:00:00"),
    ])
    assert [p["numInputRows"] for p in progress] == [3, 3], progress

    got = read_serving_table(spark, serving).drop("last_updated").toPandas()
    click = got[
        (got["event_type"] == "click")
        & (got["window_start"] == pd.Timestamp("2024-03-10 10:00:00"))
    ]
    assert list(click["n_events"]) == [2] and list(click["avg_value"]) == [15.0]
    assert not (got["window_start"] == pd.Timestamp("2024-01-01 09:00:00")).any()
    kept = sources._typed_events(
        spark.read.schema(sources.EVENT_SCHEMA).json(str(landing))
    ).filter(F.col("event_id") != 5)
    assert_same_result(got, tumble_agg(kept, with_watermark=False).toPandas())


def _state_width(ckpt: str) -> int:
    """State partitions the checkpoint's one stateful operator holds."""
    import os

    return sum(1 for n in os.listdir(os.path.join(ckpt, "state", "0")) if n.isdigit())


def _upsert_drains(spark, tmp_path, widths):
    """Land one file per entry of ``widths`` and drain it into one serving
    table through one checkpoint, passing that entry as ``state_parts``;
    returns (checkpoint, serving table without last_updated)."""
    import json

    from data_pipeline_cursor_spark.streaming.jobs import tumble_agg
    from data_pipeline_cursor_spark.streaming.sinks import (
        read_serving_table,
        run_upsert_stream,
    )
    from data_pipeline_cursor_spark.streaming.sources import read_event_stream

    landing = tmp_path / "landing"
    landing.mkdir(parents=True)
    serving, ckpt = str(tmp_path / "serving"), str(tmp_path / "ckpt")
    for i, width in enumerate(widths):
        (landing / f"{i}.json").write_text("\n".join(
            json.dumps({"event_id": str(10 * i + j), "event_type": t,
                        "value": str(j), "ts": f"2024-03-10 1{i}:0{j}:00"})
            for j, t in enumerate(("click", "view", "click"))
        ))
        run_upsert_stream(
            tumble_agg(read_event_stream(spark, str(landing))),
            serving, ckpt, state_parts=width,
        )
    got = read_serving_table(spark, serving).drop("last_updated").toPandas()
    return ckpt, got


@pytest.mark.parametrize("width", [None, 3])
def test_upsert_stream_state_width(spark, tmp_path, width):
    """A fresh serving-drain checkpoint gets the width rule's floor;
    ``state_parts`` still overrides it."""
    from data_pipeline_cursor_spark.streaming.sources import STATE_PARTS_MIN

    ckpt, _ = _upsert_drains(spark, tmp_path, [width])
    assert _state_width(ckpt) == (width or STATE_PARTS_MIN)


def test_upsert_checkpoint_resumes_at_its_frozen_width(spark, tmp_path):
    """A checkpoint created at width 8 keeps 8 when later drains pass no
    width, and serves the same table as one created at the floor."""
    from data_pipeline_cursor_spark.streaming.sources import STATE_PARTS_MIN

    ckpt8, got8 = _upsert_drains(spark, tmp_path / "w8", [8, None])
    ckpt_floor, got_floor = _upsert_drains(spark, tmp_path / "floor", [None, None])
    assert _state_width(ckpt8) == 8
    assert _state_width(ckpt_floor) == STATE_PARTS_MIN
    assert_same_result(got8, got_floor)
    assert len(got8) == 4  # click and view, one window per file


@pytest.mark.parametrize("prior", ["set", "unset"])
def test_drain_failure_raises_and_restores_confs(spark, tmp_path, prior):
    """A foreachBatch that raises on batch 1 surfaces from drain, and the
    three confs drain sets for an update-mode drain are back as they were
    before it: a value set earlier is restored, an unset one is unset."""
    import json

    from pyspark.errors import StreamingQueryException

    from data_pipeline_cursor_spark.streaming.sources import (
        drain,
        read_event_stream,
    )

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "spark.sql.streaming.statefulOperator.allowMultiple",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    before = (
        dict(zip(keys, ("5", "true", "true")))
        if prior == "set"
        else dict.fromkeys(keys)
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(2):  # one file per micro-batch: batches 0 and 1
        (landing / f"{i}.json").write_text(json.dumps({
            "event_id": str(i), "event_type": "click", "value": "1",
            "ts": "2024-01-01 10:00:00",
        }))
    seen = []

    def fail_on_batch_1(batch, batch_id):
        seen.append(batch_id)
        if batch_id == 1:
            raise ValueError("boom on batch 1")

    def set_confs(confs):
        for k, v in confs.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    try:
        set_confs(before)
        with pytest.raises(StreamingQueryException, match="boom on batch 1"):
            drain(
                read_event_stream(spark, str(landing), 1),
                str(tmp_path / "ckpt"),
                fail_on_batch_1,
                state_parts=3,
                no_data_batches=False,
            )
        assert seen == [0, 1]
        assert {k: spark.conf.get(k, None) for k in keys} == before
    finally:
        set_confs(saved)


def test_jdbc_upsert_sink_gate(spark):
    """The JDBC upsert sink is the reference's ACTUAL serving path
    (flink/sql/weather-aggregation.sql:29-34 writes Postgres over JDBC);
    absent the driver jar it must fail loudly with the remedy, never
    silently fall back — same posture as the Kafka gate."""
    import pytest

    from data_pipeline_cursor_spark.sources import load_table
    from data_pipeline_cursor_spark.streaming.sinks import (
        jdbc_available,
        merge_upsert_batch_jdbc,
    )
    from tests.conftest import SF_SMOKE

    from pyspark.sql import functions as F

    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(
            "event_type",
            F.window("ts", "5 seconds").start.alias("window_start"),
        )
        .agg(F.avg("value").alias("avg_value"), F.count("*").alias("n"))
        .limit(5)
    )
    url = "jdbc:postgresql://localhost:5432/analytics"
    if jdbc_available(spark):
        import socket

        try:
            socket.create_connection(("localhost", 5432), timeout=2).close()
        except OSError:
            pytest.skip("postgres driver on classpath but no database running")
        merge_upsert_batch_jdbc(batch, url, "event_aggregates")
    else:
        with pytest.raises(NotImplementedError, match="JDBC driver"):
            merge_upsert_batch_jdbc(batch, url, "event_aggregates")


def test_jdbc_upsert_sql_shape(spark):
    """The generated upsert must be ONE set-based ON CONFLICT statement
    keyed on KEY_COLS with every non-key column in the update list —
    checked by patching the JVM call chain out (no database in this
    container), so the SQL contract stays pinned even while the gate
    is closed."""
    from data_pipeline_cursor_spark.streaming import sinks

    captured = {}

    class _Stmt:
        def executeUpdate(self, sql):
            captured["sql"] = sql
            return 0

        def close(self):
            pass

    class _Conn:
        def createStatement(self):
            return _Stmt()

        def close(self):
            pass

    class _DriverManager:
        @staticmethod
        def getConnection(url, jprops=None):
            captured["url"] = url
            captured["props"] = jprops
            return _Conn()

    class _Class:
        @staticmethod
        def forName(name):
            return None

    class _Props(dict):
        def setProperty(self, k, v):
            self[k] = v

    class _FakeJvm:
        class java:
            class lang:
                Class = _Class

            class sql:
                DriverManager = _DriverManager

            class util:
                Properties = _Props

    import pandas as pd

    pdf = pd.DataFrame(
        {
            "event_type": ["click"],
            "window_start": [pd.Timestamp("2024-01-01")],
            "avg_value": [1.5],
            "n": [3],
        }
    )
    batch = spark.createDataFrame(pdf)

    staged = {}

    class _FakeWriter:
        def jdbc(self, url, table, mode=None, properties=None):
            staged.update(url=url, table=table, mode=mode)

    class _FakeBatch:
        sparkSession = type(
            "S", (), {"_jvm": _FakeJvm, "conf": spark.conf}
        )()
        columns = ["event_type", "window_start", "avg_value", "n",
                   "last_updated"]
        write = _FakeWriter()

        def withColumn(self, name, col):
            return self

    orig = sinks.jdbc_available
    sinks.jdbc_available = lambda *a, **k: True
    try:
        sinks.merge_upsert_batch_jdbc(
            _FakeBatch(), "jdbc:postgresql://h/db", "serving"
        )
    finally:
        sinks.jdbc_available = orig

    assert staged["table"] == "serving_staging" and staged["mode"] == "overwrite"
    # the driver-side connection must receive the forwarded properties
    # object (credentials travel with it), never the bare URL alone
    assert captured["props"] is not None
    sql = captured["sql"]
    assert sql.count("INSERT INTO") == 1 and "ON CONFLICT" in sql
    assert '("event_type", "window_start")' in sql
    for c in ("avg_value", "n", "last_updated"):
        assert f'"{c}" = EXCLUDED."{c}"' in sql
    assert '"event_type" = EXCLUDED' not in sql  # keys never in SET list


def test_backfill_equals_streamed(spark, tmp_path):
    """The batch backfill (q_serving_backfill) must reproduce the streamed
    serving table (s_upsert_foreachbatch) row-for-row — one aggregation,
    two execution modes; this is the Lambda repair-path guarantee."""
    qs = get_queries()
    streamed = qs["s_upsert_foreachbatch"](spark, SF_SMOKE).toPandas()
    backfilled = qs["q_serving_backfill"](spark, SF_SMOKE).toPandas()
    assert canonical_rows(streamed) == canonical_rows(backfilled)


def test_rocksdb_state_store_runs_stateful_job(spark):
    """100 TB state posture (round-4 VERDICT item 8): the RocksDB provider
    (disk-spilling state, bundled with Spark) must actually run a stateful
    streaming job in this build and produce the identical result to the
    default on-heap store."""
    from data_pipeline_cursor_spark.registry import get_queries
    from data_pipeline_cursor_spark.session import (
        rocksdb_state_available,
        rocksdb_state_store,
    )
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import canonical_rows

    assert rocksdb_state_available(spark)  # bundled since Spark 3.2
    job = get_queries()["s_tumble"]
    on_heap = job(spark, SF_SMOKE).toPandas()
    with rocksdb_state_store(spark):
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            .endswith("RocksDBStateStoreProvider")
        )
        rocks = job(spark, SF_SMOKE).toPandas()
    # conf restored on exit
    assert (
        spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", None
        )
        is None
        or "RocksDB"
        not in spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    )
    assert canonical_rows(rocks) == canonical_rows(on_heap)


def test_fill_forward_batch_equivalence(spark):
    """s_fill_forward's drained state must equal the batch argmax over the
    same fixture: latest (second-truncated ts, event_id) observation with
    value >= 100 per key, plus the observation count."""
    from data_pipeline_cursor_spark.registry import get_queries
    from data_pipeline_cursor_spark.sources import load_table
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import canonical_rows

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    got = get_queries()["s_fill_forward"](spark, SF_SMOKE).toPandas()

    ev = load_table(spark, SF_SMOKE, "events")
    obs = ev.filter(F.col("value") >= 100).select(
        "event_type",
        F.col("value").alias("last_reading"),
        F.date_trunc("second", F.col("ts")).alias("tss"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("tss"), F.desc("event_id")
    )
    last = (
        obs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "last_reading",
            F.date_format("tss", "yyyy-MM-dd HH:mm:ss").alias("last_obs_ts"),
        )
    )
    counts = obs.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_obs"))
    want = last.join(counts, "event_type").select(
        "event_type", "n_obs", "last_reading", "last_obs_ts"
    ).toPandas()
    assert canonical_rows(got) == canonical_rows(want)


def test_rocksdb_high_cardinality_dedup_state(spark):
    """Round-5 follow-through on the 100 TB state posture: the RocksDB
    provider must carry a HIGH-cardinality state store — s_dedup_stream
    keys its state per event_id (10k distinct keys at sf0.01, vs the
    handful of (window, type) keys s_tumble holds) — and still drain to
    the identical result as the on-heap store.  At 100 TB this is the
    job shape (per-document dedup state) that overflows on-heap state
    and makes the RocksDB flip mandatory."""
    from data_pipeline_cursor_spark.registry import get_queries
    from data_pipeline_cursor_spark.session import rocksdb_state_store
    from data_pipeline_cursor_spark.sources import load_table
    from tests.conftest import SF_ORACLE
    from tests.oracle_harness import canonical_rows

    n_keys = (
        load_table(spark, SF_ORACLE, "events").select("event_id").distinct().count()
    )
    assert n_keys >= 10_000, n_keys  # genuinely high-cardinality state

    job = get_queries()["s_dedup_stream"]
    on_heap = job(spark, SF_ORACLE).toPandas()
    with rocksdb_state_store(spark):
        rocks = job(spark, SF_ORACLE).toPandas()
    assert canonical_rows(rocks) == canonical_rows(on_heap)
    assert int(rocks["n_unique"].sum()) == n_keys


def test_topk_state_batch_equivalence_and_order_invariance(spark):
    """s_topk_state's drained leaderboard must equal the batch ranking
    window, and — because the merge is commutative + idempotent — must be
    identical when the stream is drained in ONE batch instead of many
    (different micro-batch boundaries = different arrival interleavings)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from data_pipeline_cursor_spark.registry import get_queries
    from data_pipeline_cursor_spark.sources import load_table
    from data_pipeline_cursor_spark.streaming.jobs import _TOPK_K
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import canonical_rows

    got = get_queries()["s_topk_state"](spark, SF_SMOKE).toPandas()

    ev = load_table(spark, SF_SMOKE, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    want = (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK_K)
        .select("event_type", "rnk", "value", "event_id")
        .toPandas()
    )
    assert canonical_rows(got) == canonical_rows(want)


def test_cdc_apply_batch_equivalence(spark):
    """s_cdc_apply's drained serving table must equal the batch argmax:
    per event_type, the row with the highest (second-truncated ts,
    event_id) version — ABSENT when that version is a delete (value<50).
    Tombstone persistence: the table parquet keeps op='D' rows so replays
    cannot resurrect deleted keys; the read filters them."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from data_pipeline_cursor_spark.registry import get_queries
    from data_pipeline_cursor_spark.sources import load_table
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import canonical_rows

    got = get_queries()["s_cdc_apply"](spark, SF_SMOKE).toPandas()
    ev = load_table(spark, SF_SMOKE, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.desc(F.date_trunc("second", "ts")), F.desc("event_id")
    )
    want = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("value") >= 50))
        .select(
            "event_type",
            F.col("event_id").alias("last_event"),
            F.round("value", 4).alias("last_value"),
        )
        .toPandas()
    )
    assert canonical_rows(got) == canonical_rows(want)
    # at least one type must have been tombstoned OR upserted — non-vacuity
    n_types = ev.filter(~F.col("event_type").isNull()).select(
        "event_type"
    ).distinct().count()
    assert len(want) <= n_types


def test_ewma_state_matches_batch_recurrence(spark):
    """s_ewma_state's drained result must equal the batch integer EWMA
    folded in the total event-time order (second-truncated ts, event_id)
    per event_type — the resequencing claim, checked against a local
    recomputation rather than the streaming machinery itself."""
    from data_pipeline_cursor_spark.registry import get_queries
    from data_pipeline_cursor_spark.sources import load_table
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import canonical_rows

    import pandas as pd
    from pyspark.sql import functions as F

    got = get_queries()["s_ewma_state"](spark, SF_SMOKE).toPandas()

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select(
            "event_type",
            F.date_trunc("second", "ts").alias("ts"),
            "event_id",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("v"),
        )
        .toPandas()
    )
    rows = []
    for etype, grp in ev.groupby("event_type"):
        g = grp.sort_values(["ts", "event_id"])
        e = int(g["v"].iloc[0])
        for x in g["v"].iloc[1:]:
            e = (int(x) + e) // 2
        rows.append({"event_type": etype, "n_obs": len(g), "ewma_cents": e})
    want = pd.DataFrame(rows)
    assert canonical_rows(got) == canonical_rows(want)


def test_funnel_stream_matches_batch_funnel(spark):
    """s_funnel's drained result must equal the batch ordered funnel
    computed over second-truncated timestamps (the landing render) —
    the composition claim: resequencing-exact stage predicates under
    micro-batch arrival order."""
    from data_pipeline_cursor_spark.registry import get_queries
    from data_pipeline_cursor_spark.sources import load_table
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import canonical_rows

    import pandas as pd
    from pyspark.sql import functions as F

    got = get_queries()["s_funnel"](spark, SF_SMOKE).toPandas()

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select(
            "user_id",
            "event_type",
            F.date_trunc("second", "ts").alias("ts"),
        )
        .toPandas()
    )
    n_s = n_v = n_p = 0
    for _uid, g in ev.groupby("user_id"):
        s = g.loc[g["event_type"] == "signup", "ts"]
        if s.empty:
            continue
        n_s += 1
        t_signup = s.min()
        v = g.loc[(g["event_type"] == "view") & (g["ts"] > t_signup), "ts"]
        if v.empty:
            continue
        n_v += 1
        t_view = v.min()
        p = g.loc[(g["event_type"] == "purchase") & (g["ts"] > t_view), "ts"]
        if not p.empty:
            n_p += 1
    want = pd.DataFrame(
        {
            "n_signup": [n_s],
            "n_view": [n_v],
            "n_purchase": [n_p],
            "view_rate": [round(n_v / n_s, 4)],
            "purchase_rate": [round(n_p / n_s, 4)],
        }
    )
    assert canonical_rows(got) == canonical_rows(want)


def test_funnel_horizon_fold_bounds_state(spark):
    """The watermark-horizon fold must actually TRIGGER during the
    ordered-fixture drain: the max in-horizon buffer length across all
    (user, batch) emissions must be strictly smaller than the busiest
    user's total funnel-event count — otherwise the state is the whole
    history again (the 64 MB / 123.8 s round-9 failure mode) and the
    fold is dead code."""
    from data_pipeline_cursor_spark.sources import load_table
    from data_pipeline_cursor_spark.streaming.jobs import funnel_emitted_log
    from tests.conftest import SF_ORACLE

    from pyspark.sql import functions as F

    log = funnel_emitted_log(spark, SF_ORACLE)
    max_buf = log.agg(F.max("n_buf")).collect()[0][0]
    busiest = (
        load_table(spark, SF_ORACLE, "events")
        .filter(F.col("event_type").isin("signup", "view", "purchase"))
        .groupBy("user_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    # multi-batch replay: at least one watermark advance must have folded
    # (strict <); the 2x margin asserts a real reduction, not an
    # off-by-one
    assert max_buf * 2 <= busiest, (max_buf, busiest)


def test_ewma_horizon_eviction_bounds_state(spark):
    """s_ewma_horizon's eviction path: per-key buffered history must stay
    well below the key's total observation count (n_buf << n_obs in the
    final batches), while the drained result still matches s_ewma_state
    (same oracle — checked by test_oracle_parity; here we assert the
    STATE side)."""
    from data_pipeline_cursor_spark.streaming.jobs import ewma_emitted_log
    from tests.conftest import SF_ORACLE

    from pyspark.sql import functions as F

    log = ewma_emitted_log(spark, SF_ORACLE, horizon=True)
    last = log.groupBy("event_type").agg(
        F.max("batch_seq").alias("bs"),
        F.max("n_buf").alias("max_buf"),
        F.max("n_obs").alias("n_obs"),
    )
    rows = last.collect()
    assert rows, "no emissions drained"
    for r in rows:
        # every key must have folded most of its history out of state
        assert r["max_buf"] * 2 <= r["n_obs"], (
            r["event_type"],
            r["max_buf"],
            r["n_obs"],
        )


def test_snapshot_feed_resumes_at_next_version(spark, tmp_path):
    """Python-data-source snapshot feed (r12): a restarted query with
    the SAME checkpoint must deliver ONLY versions committed after the
    first drain — engine-checkpointed version offsets give exactly-once
    per commit with zero bookkeeping in the source."""
    from pyspark.sql import functions as F

    from data_pipeline_cursor_spark.catalog import snapshot_commit
    from data_pipeline_cursor_spark.sources.snapshot_feed import (
        register_snapshot_feed,
    )

    tdir = str(tmp_path / "feedtbl")
    ckpt = str(tmp_path / "ckpt")
    for k in range(2):
        snapshot_commit(
            spark,
            tdir,
            spark.range(k * 5, (k + 1) * 5).select(
                F.col("id").alias("event_id"),
                F.lit(f"t{k}").alias("event_type"),
            ),
        )
    fmt = register_snapshot_feed(spark)
    out_dir = str(tmp_path / "feedout")

    def drain():
        # file sink: the memory sink refuses checkpoint recovery, and
        # recovery is exactly what this test pins
        q = (
            spark.readStream.format(fmt)
            .option("path", tdir)
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir)

    first = drain()
    assert first.count() == 10
    assert {r["_commit_version"] for r in first.collect()} == {1, 2}

    snapshot_commit(
        spark,
        tdir,
        spark.range(100, 103).select(
            F.col("id").alias("event_id"), F.lit("t9").alias("event_type")
        ),
    )
    second = drain()
    assert second.count() == 13  # exactly-once: 10 old + 3 new, no replay
    new_rows = second.filter("_commit_version = 3").collect()
    assert {r["event_id"] for r in new_rows} == {100, 101, 102}
    assert second.filter("_commit_version > 3").count() == 0


def test_snapshot_feed_bounded_by_ending_version(spark, tmp_path):
    """ending_version (Delta readChangeFeed's endingVersion): a consumer
    pinned to version N never sees later commits — including the
    compaction-rewrite versions maintenance publishes, which an
    unbounded feed would (correctly) deliver as one more delta.  Pins
    the SELFCHECK ordering interaction: q_snapshot_compaction compacts
    the shared fixture in-session before s_snapshot_feed runs."""
    from pyspark.sql import functions as F

    from data_pipeline_cursor_spark.catalog import (
        snapshot_commit,
        snapshot_compact,
    )
    from data_pipeline_cursor_spark.sources.snapshot_feed import (
        register_snapshot_feed,
    )

    tdir = str(tmp_path / "endtbl")
    for k in range(2):
        snapshot_commit(
            spark,
            tdir,
            spark.range(k * 4, (k + 1) * 4).select(
                F.col("id").alias("event_id"),
                F.lit(f"t{k}").alias("event_type"),
            ),
        )
    snapshot_compact(spark, tdir)  # v3 republishes all 8 rows
    fmt = register_snapshot_feed(spark)

    def drain(**opts):
        import uuid

        name = "end_" + uuid.uuid4().hex[:8]
        rs = spark.readStream.format(fmt).option("path", tdir)
        for k, v in opts.items():
            rs = rs.option(k, v)
        q = (
            rs.load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)

    bounded = drain(ending_version="2")
    assert bounded.count() == 8
    assert {r["_commit_version"] for r in bounded.collect()} == {1, 2}
    unbounded = drain()
    assert unbounded.count() == 16  # + the rewrite version's 8 rows
    assert {r["_commit_version"] for r in unbounded.collect()} == {1, 2, 3}
    # starting_version skips the base generations
    tail = drain(starting_version="2")
    assert {r["_commit_version"] for r in tail.collect()} == {3}


def test_snapshot_feed_splits_huge_commits_and_flags_expired_offsets(
    spark, tmp_path
):
    """Two snapshot-feed planning contracts (r12 verdict item 4 +
    advisor): (1) a commit with many files fans out across MULTIPLE
    InputPartitions (bounded by FEED_FILES_PER_PARTITION) instead of
    serializing into one task, each chunk stamped with the commit's
    version; (2) a checkpointed start offset whose manifest was removed
    by snapshot_expire fail-stops with OffsetExpiredError instead of
    crashing opaquely or silently re-basing."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_cursor_spark.catalog import (
        snapshot_commit,
        snapshot_compact,
        snapshot_expire,
    )
    from data_pipeline_cursor_spark.sources.snapshot_feed import (
        FEED_FILES_PER_PARTITION,
        OffsetExpiredError,
        SnapshotFeedReader,
    )

    from data_pipeline_cursor_spark.catalog import _load_manifest

    tdir = str(tmp_path / "hugetbl")
    # one backfill commit with > FEED_FILES_PER_PARTITION files
    # (range-partitioned so every output partition is non-empty —
    # hash repartition leaves empties at this row count)
    n_rows = FEED_FILES_PER_PARTITION * 10
    snapshot_commit(
        spark,
        tdir,
        spark.range(0, n_rows).select(
            F.col("id").alias("event_id"), F.lit("bf").alias("event_type")
        ).repartitionByRange(FEED_FILES_PER_PARTITION + 9, "event_id"),
    )
    n_files = len(_load_manifest(tdir, 1)["files"])
    assert n_files > FEED_FILES_PER_PARTITION, n_files
    reader = SnapshotFeedReader({"path": tdir})
    parts = reader.partitions({"version": 0}, {"version": 1})
    assert len(parts) == -(-n_files // FEED_FILES_PER_PARTITION) > 1, (
        "huge commit planned as a single partition"
    )
    assert all(p.version == 1 for p in parts)
    assert all(len(p.files) <= FEED_FILES_PER_PARTITION for p in parts)
    planned = [f for p in parts for f in p.files]
    assert len(planned) == len(set(planned)) == n_files
    # every row is delivered exactly once across the chunks
    got = sum(b.num_rows for p in parts for b in reader.read(p))
    assert got == n_rows

    # expired start offset: explicit fail-stop
    snapshot_commit(
        spark,
        tdir,
        spark.range(500, 503).select(
            F.col("id").alias("event_id"), F.lit("t2").alias("event_type")
        ),
    )
    snapshot_compact(spark, tdir)               # v3
    snapshot_expire(tdir, retain_last=1)        # v1, v2 gone
    with pytest.raises(OffsetExpiredError, match="expired"):
        reader.partitions({"version": 1}, {"version": 3})


def test_prune_stale_removes_aged_ann_serve_outputs(tmp_path, monkeypatch):
    """s_ann_serve writes a fresh uuid dir under the annserve family on
    every run; the once-per-process prune must age those out like the
    other uuid families, and keep a fresh one."""
    import os
    import time

    from data_pipeline_cursor_spark.streaming import jobs

    monkeypatch.setattr(jobs, "_WORK_ROOT", str(tmp_path))
    monkeypatch.setattr(jobs, "_PRUNED", False)
    aged = time.time() - 7 * 3600
    dirs = []
    for family, old_name, fresh_name in (("annserve", "0a1b2c3d", "4e5f6a7b"),):
        old = tmp_path / family / old_name
        fresh = tmp_path / family / fresh_name
        for d in (old, fresh):
            d.mkdir(parents=True)
            (d / "part-0.parquet").write_bytes(b"x")
        os.utime(old / "part-0.parquet", (aged, aged))
        os.utime(old, (aged, aged))
        dirs.append((old, fresh))

    jobs._prune_stale()

    for old, fresh in dirs:
        assert not old.exists(), old
        assert fresh.exists(), fresh
