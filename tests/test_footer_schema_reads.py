"""Reads of Spark-written tables without a schema-inference job.

``sources.tables.read_spark_parquet`` gives the reader the schema Spark's
footer inference would pick, read on the driver from the first listed
file's Spark row metadata.  Each test compares it with plain inference
(``_spark_footer_schema`` patched to decline), which is the path every
read took before: same schema, same rows, fewer jobs.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from data_pipeline_cursor_spark.sources import tables


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` launches, counted with a job group."""
    sc = spark.sparkContext
    group = f"footer-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "read_spark_parquet job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def inferred(monkeypatch):
    """Run a callable with the footer schema declined, so every
    read_spark_parquet call falls back to spark.read.parquet."""

    def run(fn):
        with monkeypatch.context() as m:
            m.setattr(tables, "_spark_footer_schema", lambda *a, **k: None)
            return fn()

    return run


def _same(df_fast, df_plain):
    assert df_fast.schema == df_plain.schema
    assert sorted(df_fast.collect(), key=repr) == sorted(
        df_plain.collect(), key=repr
    )


def _serving_table(spark, table_dir):
    from data_pipeline_cursor_spark.streaming.sinks import merge_upsert_batch

    batch = spark.createDataFrame(
        [("a", 1, 2.0), ("b", 2, 3.0), (None, 3, 1.0), ("x:y%z/=", 4, 5.0)],
        "event_type string, window_start int, avg_value double",
    ).withColumn("window_start", F.col("window_start").cast("timestamp"))
    merge_upsert_batch(batch, table_dir)


def _plain_lake(spark, lake):
    from data_pipeline_cursor_spark.catalog import snapshot_commit

    ev = spark.createDataFrame(
        [(str(i), f"c{i % 3}", str(i * 1.5), "2024-01-01") for i in range(60)],
        "event_id string, event_type string, value string, ts string",
    )
    snapshot_commit(spark, lake, ev)
    snapshot_commit(
        spark, lake, ev.withColumn("event_id", F.concat(F.lit("z"), "event_id"))
    )


def _corrections(spark):
    return spark.createDataFrame(
        [("5", "c2", "9.0", "2024-01-01", False),
         ("7", "c1", "1", "2024-01-01", True)],
        "event_id string, event_type string, value string, ts string, "
        "_delete boolean",
    )


def test_serving_read_runs_one_job(spark, tmp_path, inferred):
    """Collecting the serving table is one job; with inference it is
    two, the first reading a footer for the schema."""
    from data_pipeline_cursor_spark.streaming.sinks import read_serving_table

    table_dir = str(tmp_path / "serving")
    _serving_table(spark, table_dir)
    assert _jobs(spark, lambda: read_serving_table(spark, table_dir).collect()) == 1
    assert inferred(
        lambda: _jobs(spark, lambda: read_serving_table(spark, table_dir).collect())
    ) == 2


def test_lake_read_and_merge_launch_no_schema_job(spark, tmp_path, inferred):
    """snapshot_read runs one read job fewer than with inference (its one
    file-list scan) and snapshot_merge two fewer (the touched-file scan
    and the rewrite read); the merged tables are equal."""
    from data_pipeline_cursor_spark.catalog import snapshot_merge, snapshot_read

    fast, plain = str(tmp_path / "fast"), str(tmp_path / "plain")
    for lake in (fast, plain):
        _plain_lake(spark, lake)

    def read(lake):
        return lambda: snapshot_read(spark, lake).groupBy("event_type").count().collect()

    assert _jobs(spark, read(fast)) == inferred(lambda: _jobs(spark, read(plain))) - 1
    src = _corrections(spark)
    n_fast = _jobs(spark, lambda: snapshot_merge(spark, fast, src, key="event_id"))
    n_plain = inferred(
        lambda: _jobs(spark, lambda: snapshot_merge(spark, plain, src, key="event_id"))
    )
    assert n_fast == n_plain - 2
    _same(snapshot_read(spark, fast), inferred(lambda: snapshot_read(spark, plain)))


def test_serving_table_with_null_and_escaped_keys(spark, tmp_path, inferred):
    """Partition discovery still appends the key column: the Hive
    default dir reads back as NULL and percent-escaped names unescaped."""
    from data_pipeline_cursor_spark.streaming.sinks import read_serving_table

    table_dir = str(tmp_path / "serving")
    _serving_table(spark, table_dir)
    fast = read_serving_table(spark, table_dir)
    assert tables._spark_footer_schema(spark, (table_dir,)) is not None
    _same(fast, inferred(lambda: read_serving_table(spark, table_dir)))
    assert {r["event_type"] for r in fast.collect()} == {"a", "b", None, "x:y%z/="}


def test_file_list_with_two_schemas_reads_the_first_files(spark, tmp_path, inferred):
    """Spark's inference sorts the listed files by path and reads the
    first one's footer, whatever order the paths are given in."""
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    spark.createDataFrame([(1, "x")], "k int, s string").coalesce(1).write.parquet(d1)
    spark.createDataFrame([(2, 2.5)], "k int, v double").coalesce(1).write.parquet(d2)
    files = [
        os.path.join(d, f)
        for d in (d2, d1)
        for f in os.listdir(d)
        if f.endswith(".parquet")
    ]
    fast = tables.read_spark_parquet(spark, *files)
    assert fast.columns == ["k", "s"]
    _same(fast, inferred(lambda: tables.read_spark_parquet(spark, *files)))
    _same(
        tables.read_spark_parquet(spark, d2, d1),
        spark.read.parquet(d2, d1),
    )


def test_partition_evolution_fixture_reads_the_same(spark, inferred):
    """The partition-evolution fixture (hour then day generations) reads
    the same whole and through a time range."""
    from data_pipeline_cursor_spark.catalog import (
        EVOLUTION_RANGE,
        _evolution_fixture,
        snapshot_read,
    )
    from tests.conftest import SF_SMOKE

    table_dir = _evolution_fixture(spark, SF_SMOKE)
    _same(
        snapshot_read(spark, table_dir),
        inferred(lambda: snapshot_read(spark, table_dir)),
    )
    rng = ("ts", *EVOLUTION_RANGE)
    _same(
        snapshot_read(spark, table_dir, time_range=rng),
        inferred(lambda: snapshot_read(spark, table_dir, time_range=rng)),
    )


def test_bucketed_table_reads_and_merges_the_same(spark, tmp_path, inferred):
    """A bucketed table's files read the same, and a merge through its
    touched-file scan gives the same table."""
    from data_pipeline_cursor_spark.catalog import (
        _resolve_version,
        snapshot_commit,
        snapshot_merge,
        snapshot_read,
    )

    df = spark.createDataFrame(
        [(str(i), f"c{i % 3}", str(i), "2024-01-01") for i in range(40)],
        "event_id string, event_type string, value string, ts string",
    )
    out = {}
    for side, run in (("fast", lambda f: f()), ("plain", inferred)):
        bdir = str(tmp_path / side)
        snapshot_commit(spark, bdir, df, bucket_by=("event_id", 4))
        files = [os.path.join(bdir, f) for f in _resolve_version(bdir, None)[1]["files"]]
        out[side] = run(lambda: tables.read_spark_parquet(spark, *files))
        run(lambda: snapshot_merge(spark, bdir, _corrections(spark), key="event_id"))
        out[side + "_merged"] = snapshot_read(spark, bdir)
    _same(out["fast"], out["plain"])
    _same(out["fast_merged"], out["plain_merged"])


def test_pyarrow_written_file_falls_back_to_inference(spark, tmp_path):
    """A file with no Spark row metadata is read with plain inference."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2], "s": ["a", None]}), path)
    assert tables._spark_footer_schema(spark, (path,)) is None
    _same(tables.read_spark_parquet(spark, path), spark.read.parquet(path))


def test_empty_serving_dir_raises_as_before(spark, tmp_path):
    """No file to take a schema from: the read raises what plain
    inference raises."""
    from data_pipeline_cursor_spark.streaming.sinks import read_serving_table

    empty = tmp_path / "serving"
    empty.mkdir()
    with pytest.raises(AnalysisException) as fast:
        read_serving_table(spark, str(empty))
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(str(empty))
    assert fast.value.getCondition() == plain.value.getCondition()
    assert str(fast.value) == str(plain.value)
